package graft.cdc

import scala.collection.mutable.ArrayBuffer

/** Per-transaction assembly state machine (SURVEY.md §2.2 T1–T6).
  *
  * Reproduces the reference's transaction semantics — buffer every change
  * until COMMIT, discard on ROLLBACK, cancel partial-rollback pairs,
  * expand multi-row ops, optionally drop no-op updates and prune DELETE
  * columns — as a pure function over one transaction's records. Pure
  * Scala: unit-testable without Spark, and the same core drives both the
  * batch `flatMapGroups` and the streaming `transformWithState`
  * wrappers in graft.streaming.
  *
  * Reference behaviors re-expressed (not ported):
  *  - deferred emission at commit: `OraCdcLogMinerWorkerThread.java:347-393`
  *  - partial-rollback pairing processed in reverse:
  *    `OraCdcTransaction.java:351-423` (checkForRollback)
  *  - multi-row QMI/QMD expansion: `OraCdcTransaction.emitMultiRowChange:987`
  *  - no-op UPDATE elimination (P3): `doc/parameters.adoc:302-303`
  *  - DELETE column pruning (P4): `OraCdcLogMinerTable.java:252-313`
  *
  * Scale note: state is bounded by the open transaction's size, never by
  * table size; at 100 TB the Spark state store (RocksDB) spills it.
  */
object TransactionAssembler {

  case class Options(
      /** false → drop UPDATEs whose after-image equals the before-image (P3) */
      emitAllUpdates: Boolean = true,
      /** false → DELETE carries only `keyCols` of the before-image (P4) */
      allColsOnDelete: Boolean = true,
      /** key columns for P4/P5 */
      keyCols: Seq[String] = Nil,
      /** true → skip DELETE on keyless tables instead of failing (P5) */
      skipKeylessDelete: Boolean = false,
      /** true → collapse a DELETE+INSERT pair on the same table into
        * ONE logical UPDATE. BOTH pairing legs are SCN-bound — the pair
        * must come from one wire statement, because Oracle reuses row
        * slots: a DELETE(row A) freeing a rowid and a later unrelated
        * INSERT(row B) landing on the recycled slot would otherwise be
        * silently rewritten into a fake UPDATE mixing two rows' images
        * (the reference only collapses on explicit 10.30/10.35 chain
        * markers — `internals/OraCdcChangeIndexOp.java:33-146`, tests
        * `Op10_30_Test.java`/`Op10_35_Test.java` — which GRL1 lacks).
        * Legs: SAME rowId + SAME SCN (key update in place; interleaved
        * same-statement changes to OTHER tables may sit between the
        * two), or — for the row-moved/IOT case where the rowId
        * changes — same SCN AND consecutive ssn AND no surviving
        * record between them. When `keyCols` is set, BOTH legs
        * additionally require every key column PRESENT AND EQUAL in
        * the delete before-image and insert after-image (a key update
        * keeps its key; absent-on-both-sides is not agreement):
        * statements of one transaction can share an SCN, so
        * same-rowId+same-SCN alone can still be a recycled-slot
        * coincidence across two statements — set `keyCols` whenever
        * the feed cannot guarantee one-statement SCN uniqueness. A
        * producer encoding key updates MUST emit the pair under one
        * SCN (adjacent with consecutive ssn when the rowId moves).
        * OFF by default (GRL1 writers emit logical UPDATEs directly).
        */
      collapseKeyUpdates: Boolean = false)

  val DefaultOptions: Options = Options()

  /** Marker a row image uses to reference an out-of-row LOB whose chunks
    * arrive as separate 26.x records; resolved at emit (T8, ref
    * `OraCdcTransaction.getLob`). Value form: "\\u0000LOB:<lobId>".
    */
  val LobRef = "\u0000LOB:"

  /** A transaction-terminal record (closes the open segment). */
  def isTerminal(r: RedoRecord): Boolean =
    r.op == Ops.Commit || r.op == Ops.Rollback

  /** Canonical sort key for one xid's records: (scn, ssn), with DATA
    * BEFORE TERMINALS on a full tie — TimSort is stable, so without the
    * rank a data record sharing (scn, ssn) with the COMMIT would land on
    * whichever side the shuffle iterator happened to deliver it,
    * splitting it nondeterministically into the NEXT transaction. */
  def orderKey(r: RedoRecord): (Long, Long, Int) =
    (r.scn, r.ssn, if (isTerminal(r)) 1 else 0)

  /** Split one xid's (scn, ssn)-SORTED records at COMMIT/ROLLBACK
    * terminals and assemble each closed segment: an xid is REUSED for a
    * new transaction after its terminal, and feeding both to one
    * [[assemble]] call would let a later ROLLBACK retroactively discard
    * an earlier committed transaction (or stamp its changes with the
    * wrong commitScn). Returns the emitted changes plus the OPEN
    * remainder after the last terminal — the streaming processor keeps
    * it as state; batch callers drop it (assemble() emits nothing for an
    * uncommitted segment by construction). ONE implementation serves
    * both the batch and streaming paths, so their segmentation semantics
    * cannot drift.
    */
  def assembleSegments(sorted: collection.IndexedSeq[RedoRecord],
      opts: Options): (Seq[EmittedChange], Seq[RedoRecord]) = {
    val out = Seq.newBuilder[EmittedChange]
    var start = 0
    var i = 0
    while (i < sorted.length) {
      if (isTerminal(sorted(i))) {
        out ++= assemble(sorted.slice(start, i + 1).toSeq, opts)
        start = i + 1
      }
      i += 1
    }
    (out.result(), if (start < sorted.length) sorted.drop(start).toSeq else Nil)
  }

  /** Assemble ONE transaction. `records` must be in (scn, ssn) order and
    * all share the same xid. Returns the committed changes in statement
    * order, stamped with the commit SCN — or Nil when the transaction
    * rolled back or never committed (caller keeps state in that case).
    */
  def assemble(records: Seq[RedoRecord],
      opts: Options = DefaultOptions): Seq[EmittedChange] = {
    var commitScn = -1L
    var rolledBack = false
    val buf = new ArrayBuffer[RedoRecord]()
    // P7: session-audit attributes for the transaction (username,
    // osUsername, hostname, auditSessionId, clientId — ref
    // `OraCdcChangeAudit.java`). Stamped onto every emitted change;
    // Oracle's session info is constant per transaction, so a repeated
    // audit record just overwrites with the same values (last wins).
    var audit = Map.empty[String, String]

    // T8: LOB chunk accumulation per lobId, in record order (the caller
    // already sorted by scn/ssn). Uncommitted transactions never
    // assemble, so rolled-back LOB writes are discarded for free.
    val lobs = collection.mutable.Map[String, StringBuilder]()

    records.foreach { r =>
      r.op match {
        case Ops.Commit => commitScn = r.scn
        case Ops.Rollback => rolledBack = true
        case Ops.Audit => audit = audit ++ r.after
        case Ops.LobChunk =>
          // a rollback-flagged chunk record retracts its LOB's pending
          // chunks (the partial-rollback pass below only walks row
          // changes, so chunk cancellation must happen here) — without
          // this, rolled-back chunk writes corrupt the resolved value
          r.after.get("lobId").foreach { id =>
            if (r.rollback) lobs.remove(id)
            else lobs.getOrElseUpdate(id, new StringBuilder)
              .append(r.after.getOrElse("data", ""))
          }
        case _ => buf += r
      }
    }
    if (rolledBack || commitScn < 0) return Nil

    def resolveLobs(img: Map[String, String]): Map[String, String] =
      img.map {
        case (k, v) if v != null && v.startsWith(LobRef) =>
          // dangling reference (chunks never captured) → NULL, matching
          // the reference's missing-LOB emission
          k -> lobs.get(v.substring(LobRef.length)).map(_.result()).orNull
        case kv => kv
      }

    // partial-rollback cancellation: a rollback-flagged entry cancels the
    // nearest PRIOR non-cancelled change with the same (table, rowId) —
    // table-qualified like the reference's object/rowid coordinate pair
    // (real ROWIDs embed the data object, but this model's rowIds are
    // producer strings, and a cross-table string coincidence must never
    // cancel another table's change). One forward pass with a per-key
    // stack of surviving indices (pop = nearest prior survivor) replaces
    // the per-entry backward scan, which was O(n²) on a transaction full
    // of unmatched rollback entries.
    val cancelled = new Array[Boolean](buf.length)
    val open = collection.mutable.Map[(String, String),
      collection.mutable.ArrayDeque[Int]]()
    var i = 0
    while (i < buf.length) {
      val key = (buf(i).table, buf(i).rowId)
      if (buf(i).rollback) {
        cancelled(i) = true // rollback entries themselves never emit
        open.get(key).foreach { stack =>
          if (stack.nonEmpty) cancelled(stack.removeLast()) = true
        }
        // unmatched rollback → "suspicious" in the reference; dropped here
      } else {
        open.getOrElseUpdate(key, collection.mutable.ArrayDeque.empty)
          .append(i)
      }
      i += 1
    }

    // key-update collapse (see Options.collapseKeyUpdates): rewrite an
    // adjacent surviving DELETE+INSERT pair into one UPDATE carrying the
    // delete's before-image and the insert's after-image, BEFORE the
    // P3/P4/P5 policies run — the pair is one logical statement, so
    // delete-side pruning must never apply to it. The UPDATE keeps the
    // delete's (scn, ssn) statement position and the insert's rowId
    // (the row's new location when it moved).
    if (opts.collapseKeyUpdates) {
      i = 0
      while (i < buf.length - 1) {
        if (!cancelled(i) && buf(i).op == Ops.Delete) {
          // nearest following surviving record AND nearest surviving
          // record of the SAME table (interleaved changes to other
          // tables must not break a same-rowId pair, but anything on
          // this table between the two halves does)
          // both pairing legs require buf(j).scn == buf(i).scn, and the
          // buffer is (scn, ssn)-sorted — bound both scans to the same-SCN
          // run so a delete followed by a long other-table tail costs the
          // statement's own length, not O(n)
          var jAny = i + 1
          while (jAny < buf.length && cancelled(jAny) &&
            buf(jAny).scn == buf(i).scn) jAny += 1
          var j = jAny
          while (j < buf.length && buf(j).scn == buf(i).scn &&
            (cancelled(j) || buf(j).table != buf(i).table)) j += 1
          if (j < buf.length && buf(j).scn != buf(i).scn) j = buf.length
          if (j < buf.length && buf(j).op == Ops.Insert) {
            // SCN-bound (see Options.collapseKeyUpdates): a pair from
            // two different statements — e.g. an unrelated insert
            // landing on a recycled row slot — must never collapse
            // key agreement (when keyCols is set) guards BOTH legs: a
            // key update keeps its key values, so the delete
            // before-image and insert after-image must carry every key
            // column PRESENT and EQUAL. Absent-on-both-sides (e.g. a
            // rowid-only delete with supplemental logging off) is NOT
            // agreement — that is precisely the pair with no evidence,
            // and statements of one transaction can share an SCN (see
            // CsfReassembly), so same-rowId+same-SCN alone can still be
            // a recycled-slot coincidence across two statements.
            val sameKey = opts.keyCols.isEmpty || opts.keyCols.forall(k =>
              (buf(i).before.get(k), buf(j).after.get(k)) match {
                case (Some(a), Some(b)) => a == b
                case _ => false
              })
            val samePlace = buf(j).rowId == buf(i).rowId &&
              buf(j).scn == buf(i).scn && sameKey
            // moved-row leg: strictly one wire statement — same SCN,
            // consecutive ssn, physically adjacent among survivors.
            val oneStatement = j == jAny && buf(j).scn == buf(i).scn &&
              buf(j).ssn == buf(i).ssn + 1 && sameKey
            if (samePlace || oneStatement) {
              buf(i) = buf(i).copy(op = Ops.Update, rowId = buf(j).rowId,
                after = buf(j).after)
              cancelled(j) = true
            }
          }
        }
        i += 1
      }
    }

    val out = new ArrayBuffer[EmittedChange]()
    i = 0
    while (i < buf.length) {
      if (!cancelled(i)) {
        val r = buf(i)
        r.op match {
          case Ops.MultiInsert | Ops.MultiDelete =>
            // T6: expand to N single-row changes, ssn increments per row.
            // The P4/P5 delete policies apply to the EXPANDED rows too —
            // a delete must behave identically whether it was encoded as
            // a single DRP or batched into a QMD vector.
            val op = if (r.op == Ops.MultiInsert) Ops.Insert else Ops.Delete
            if (op != Ops.Delete ||
                !(opts.skipKeylessDelete && opts.keyCols.isEmpty)) {
              r.multiRows.zipWithIndex.foreach { case (row, k) =>
                val (b, a) =
                  if (op == Ops.Insert)
                    // resolveLobs like the single-row path: a QMI row
                    // image may carry LobRef markers too
                    (Map.empty[String, String], resolveLobs(row))
                  else {
                    val before =
                      if (!opts.allColsOnDelete && opts.keyCols.nonEmpty)
                        row.view.filterKeys(opts.keyCols.contains).toMap
                      else row
                    // resolveLobs like the single-row delete path — the
                    // invariant above: a delete behaves identically
                    // whether encoded as one DRP or batched into a QMD
                    (resolveLobs(before), Map.empty[String, String])
                  }
                out += EmittedChange(r.xid, commitScn, r.scn, r.ssn + k,
                  r.table, op, r.rowId, r.tsMicros, b, a, audit)
              }
            }
          case Ops.DirectLoad =>
            // T7: a direct-loaded block expands to N INSERTs; unlike
            // QMI there is no undo and no per-row rowid in redo — ids
            // are synthesized from (block address, row ordinal), the
            // reference's `RowId(obj, dba, row)`
            // (`OraCdcTransaction.emitDirectBlockChange:1074-1121`)
            r.multiRows.zipWithIndex.foreach { case (row, k) =>
              out += EmittedChange(r.xid, commitScn, r.scn, r.ssn + k,
                r.table, Ops.Insert, s"${r.rowId}.$k", r.tsMicros,
                Map.empty[String, String], resolveLobs(row), audit)
            }
          case Ops.Update
              if !opts.emitAllUpdates && updateIsNoop(r) => // P3: drop
          case Ops.Delete if opts.skipKeylessDelete && opts.keyCols.isEmpty =>
            // P5: keyless DELETE skipped
          case Ops.Delete if !opts.allColsOnDelete && opts.keyCols.nonEmpty =>
            // P4: prune before-image to key columns (LOB markers in the
            // surviving columns resolve exactly like the unpruned path)
            out += EmittedChange(r.xid, commitScn, r.scn, r.ssn, r.table,
              r.op, r.rowId, r.tsMicros,
              resolveLobs(r.before.view.filterKeys(opts.keyCols.contains).toMap),
              resolveLobs(r.after), audit)
          case _ =>
            out += EmittedChange(r.xid, commitScn, r.scn, r.ssn, r.table,
              r.op, r.rowId, r.tsMicros, resolveLobs(r.before),
              resolveLobs(r.after), audit)
        }
      }
      i += 1
    }
    out.toSeq
  }

  /** P3: an UPDATE whose SET list changes nothing (e.g. `set C=C`). Only
    * columns present in both images are compared — absent columns are
    * "not in redo", not NULL (wrapped-schema semantics, SURVEY §1.2).
    * A column carrying a [[LobRef]] marker is never a no-op: an in-place
    * LOB update keeps the SAME locator in both images while the 26.x
    * chunks changed the content — the comparison runs before LOB
    * resolution, so equal markers prove nothing.
    */
  private def updateIsNoop(r: RedoRecord): Boolean =
    r.after.nonEmpty && r.after.forall { case (k, v) =>
      (v == null || !v.startsWith(LobRef)) && r.before.get(k).contains(v)
    }
}
