package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.cdc._

/** Spark wrappers around the pure transaction assembler (SURVEY.md §2.2
  * T1/T2: XID grouping + commit/rollback resolution).
  *
  * Batch: `groupByKey(xid).flatMapGroups` — one shuffle on xid, then each
  * transaction assembles independently. At 100 TB the shuffle is keyed by
  * transaction id, so parallelism scales with concurrent transactions
  * (millions), never with table size, and no single task sees more than
  * one transaction's statements.
  *
  * Streaming: `transformWithState` with an append-only ListState per open
  * XID (reference: off-heap MMF queues, T10 — here the RocksDB state
  * store gives spill + checkpoint for free). A micro-batch WITHOUT a
  * terminal record appends its statements to the list in O(batch) state
  * IO — the buffered prefix is neither deserialized nor rewritten, so a
  * multi-GiB batch transaction (the reference's `OffHeapMmf` nightmare
  * case) costs each micro-batch only its own increment. The one full
  * materialize + sort happens at COMMIT/ROLLBACK, once per transaction.
  * Changes are emitted only at commit; rollback clears state with no
  * emission, so uncommitted data is never decoded downstream — the same
  * "deferred work until commit" optimization the reference hand-built.
  */
object ChangeStreams {

  /** Batch assembly of a bounded change set.
    *
    * The per-group buffer is bounded by the largest single transaction
    * (not the table): acceptable for the bounded gates and batch
    * backfills this entry point serves. An unbounded stream with
    * multi-GiB transactions belongs on [[assembleStream]], whose list
    * state spills through RocksDB instead of the task heap.
    */
  def assembleBatch(records: Dataset[RedoRecord],
      opts: TransactionAssembler.Options = TransactionAssembler.DefaultOptions)
      : Dataset[EmittedChange] = {
    val spark = records.sparkSession
    import spark.implicits._
    records.groupByKey(_.xid).flatMapGroups { (_, it) =>
      val buf = collection.mutable.ArrayBuffer.empty[RedoRecord]
      it.foreach(buf += _)
      buf.sortInPlaceBy(TransactionAssembler.orderKey)
      // split at terminals (xid reuse) through the SHARED segmentation —
      // one implementation for batch and streaming, so the semantics
      // (and the data-before-terminal tie-break) cannot drift. The open
      // remainder is dropped: assemble() emits nothing for it anyway.
      TransactionAssembler.assembleSegments(buf, opts)._1.iterator
    }
  }

  /** Streaming assembly: buffers per open transaction, emits at commit.
    * Use with OutputMode.Append on a session from [[graft.GraftSession]],
    * which sets the RocksDB state store provider that `transformWithState`
    * requires and that large transactions need for spill anyway.
    *
    * PRODUCTION: set `idleTimeoutMs` (e.g. 30 min) so transactions whose
    * terminal record is lost don't pin state forever. The default is 0
    * (no timers) because the right horizon is workload-specific, not a
    * library default.
    *
    * XIDs are REUSED across transactions (Oracle recycles undo slots), so
    * one micro-batch may carry records past a COMMIT: each terminal
    * record closes exactly the records up to it, and the remainder stays
    * buffered as the next transaction — a later ROLLBACK must never
    * retroactively discard an earlier committed transaction.
    *
    * IDLE-EVICTION CONTRACT (idleTimeoutMs > 0): an evicted transaction
    * leaves a TOMBSTONE so its late tail + terminal cannot assemble into
    * a silent partial emit — the first terminal-closed segment arriving
    * after an eviction is DROPPED, loudly. This is safe under the real
    * xid model, where a recycled undo slot mints a FRESH sequence number
    * (usn.slot.SQN — a new grouping key), so the dropped segment can only
    * be the abandoned transaction's own. A source that synthesizes
    * NON-unique xid strings across transactions weakens this: a genuinely
    * new transaction on the same key inside the tombstone's lifetime
    * would be clipped by its own first terminal. The tombstone therefore
    * EXPIRES (state-store TTL) after `tombstoneTtlMs` — default 64× the
    * idle window — bounding both that exposure and the per-abandoned-xid
    * state growth (one value row each, forever, otherwise); a tail
    * arriving later than the tombstone horizon is outside the delivery
    * contract and would assemble as if fresh.
    */
  def assembleStream(records: Dataset[RedoRecord],
      opts: TransactionAssembler.Options = TransactionAssembler.DefaultOptions,
      idleTimeoutMs: Long = 0L,
      tombstoneTtlMs: Long = 0L): Dataset[EmittedChange] = {
    require(idleTimeoutMs >= 0, s"idleTimeoutMs < 0: $idleTimeoutMs")
    require(tombstoneTtlMs >= 0, s"tombstoneTtlMs < 0: $tombstoneTtlMs")
    require(tombstoneTtlMs == 0 || idleTimeoutMs > 0, s"tombstoneTtlMs " +
      s"$tombstoneTtlMs needs idleTimeoutMs > 0 (eviction makes tombstones)")
    val spark = records.sparkSession
    import spark.implicits._
    // saturate FAR below Long.MaxValue: the state store computes the
    // expiry instant as batchTimestamp + ttl, so a MaxValue-ish ttl
    // would overflow negative and expire the tombstone instantly —
    // the exact hole the TTL exists to close. 10^15 ms ≈ 31k years.
    val ttl =
      if (tombstoneTtlMs > 0) math.min(tombstoneTtlMs, 1_000_000_000_000_000L)
      else if (idleTimeoutMs > 1_000_000_000_000_000L / 64)
        1_000_000_000_000_000L
      else idleTimeoutMs * 64
    records.groupByKey(_.xid)
      .transformWithState(
        new TxnAssemblyProcessor(opts, idleTimeoutMs, ttl),
        if (idleTimeoutMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }
}

/** Per-XID stateful processor: append-only statement log + idle timer.
  *
  * State layout:
  *  - `log` (ListState[RedoRecord]): statements of the currently-open
  *    transaction, in arrival order. Append-only between terminals —
  *    never rewritten, never sorted per batch. LOB chunk records (26.x)
  *    ride this same list, so an out-of-row LOB written across many
  *    micro-batches resolves at the commit batch (T8; ref
  *    `OraCdcTransaction.java:1991-2263` buffers LOBs with the
  *    transaction for the same reason) — LobAssemblySpec proves a LOB
  *    spanning 3 micro-batches.
  *  - `deadline` (ValueState[Long]): the registered idle-timer instant,
  *    so the previous timer can be deleted when activity arrives.
  *
  * On a terminal-bearing batch the whole log is read ONCE, sorted by
  * (scn, ssn), split at each terminal (xid reuse), assembled, and the
  * open remainder re-written — i.e. sorting cost is paid per transaction,
  * not per micro-batch, and state IO for a transaction of n statements
  * arriving over b batches is O(n + b·increment), not O(n·b).
  */
private[streaming] class TxnAssemblyProcessor(
    opts: TransactionAssembler.Options,
    idleTimeoutMs: Long,
    tombstoneTtlMs: Long = Long.MaxValue)
  extends StatefulProcessor[String, RedoRecord, EmittedChange] {

  @transient private var log: ListState[RedoRecord] = _
  @transient private var deadline: ValueState[Long] = _
  @transient private var evictedMaxScn: ValueState[Long] = _
  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(classOf[TxnAssemblyProcessor])

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    log = getHandle.getListState("log", Encoders.product[RedoRecord], TTLConfig.NONE)
    if (idleTimeoutMs > 0) {
      deadline = getHandle.getValueState("deadline",
        Encoders.scalaLong, TTLConfig.NONE)
      // the eviction tombstone EXPIRES (store-side TTL): it exists to
      // intercept the abandoned transaction's late tail, and a tail
      // older than the tombstone horizon (64 idle windows by default)
      // is outside the delivery contract — letting it expire bounds
      // state growth on a stream with many abandoned xids (one
      // tombstone each, forever, otherwise) and restores normal
      // assembly for a much-later recycled xid
      evictedMaxScn = getHandle.getValueState("evictedMaxScn",
        Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(tombstoneTtlMs)))
    }
  }

  override def handleInputRows(xid: String, rows: Iterator[RedoRecord],
      timerValues: TimerValues): Iterator[EmittedChange] = {
    val incoming = rows.toArray
    val out: Iterator[EmittedChange] =
      if (!incoming.exists(TransactionAssembler.isTerminal)) {
        // fast path: pure append, buffered prefix untouched
        if (incoming.nonEmpty) log.appendList(incoming)
        Iterator.empty
      } else {
        val all = (log.get() ++ incoming.iterator).toArray
        java.util.Arrays.sort(all,
          Ordering.by(TransactionAssembler.orderKey))
        log.clear()
        // an EVICTED transaction's first terminal must not assemble: the
        // buffered prefix is gone, and emitting the surviving tail would
        // publish a silent partial transaction (records DELAYED, not
        // lost). Drop the whole first segment loudly instead; in the
        // real xid model a genuinely new transaction on a recycled undo
        // slot carries a fresh sequence (a new key), so the segment
        // being dropped is the abandoned transaction's.
        val work =
          if (idleTimeoutMs > 0 && evictedMaxScn.exists()) {
            val cut = all.indexWhere(TransactionAssembler.isTerminal) + 1
            // diagnosis for the drop: a segment that interleaves with
            // the evicted prefix (any scn ≤ the evicted max) is
            // PROVABLY the abandoned transaction's tail; a segment
            // entirely above it is the abandoned tail in the real xid
            // model (a recycled slot mints a fresh sequence = a new
            // key), but could be a NEW transaction under a source that
            // reuses xid strings — say which case this is, loudly
            val evMax = evictedMaxScn.get()
            val overlaps = all.take(cut).exists(_.scn <= evMax)
            logger.warn(s"txn $xid: dropping ${cut} late records closed by " +
              "the first terminal after idle eviction — the buffered " +
              "prefix was already discarded, a partial emit would " +
              "violate transaction atomicity" +
              (if (overlaps) s" (segment interleaves the evicted prefix " +
                s"[scn <= $evMax]: provably the abandoned transaction)"
               else s" (segment sits entirely above the evicted prefix " +
                s"[scn > $evMax]: the abandoned tail under the real " +
                "fresh-sequence xid model — if this source reuses xid " +
                "strings across transactions, this may be a NEW " +
                "transaction; see the assembleStream eviction contract)"))
            evictedMaxScn.clear()
            all.drop(cut)
          } else all
        val (o, remainder) = TransactionAssembler.assembleSegments(work, opts)
        if (remainder.nonEmpty) log.appendList(remainder.toArray)
        o.iterator
      }
    if (idleTimeoutMs > 0) {
      // timer maintenance LAST, from the now-known open/drained state:
      // arming at entry then clearing on a fully-draining commit batch
      // (the common case) would pay register+delete churn per
      // transaction on the RocksDB store
      val open = log.exists()
      if (open) {
        if (deadline.exists()) getHandle.deleteTimer(deadline.get())
        val at = timerValues.getCurrentProcessingTimeInMs() + idleTimeoutMs
        getHandle.registerTimer(at)
        deadline.update(at)
      } else if (deadline.exists()) {
        getHandle.deleteTimer(deadline.get())
        deadline.clear()
      }
    }
    out
  }

  override def handleExpiredTimer(xid: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EmittedChange] = {
    // abandoned transaction: no terminal inside the idle window. The
    // buffered prefix is discarded (the reference's restart bookkeeping
    // skips stale XIDs the same way), but a TOMBSTONE records the
    // eviction so a late-arriving tail + terminal cannot silently
    // assemble into a partial transaction — handleInputRows drops that
    // first segment with a warning instead.
    val buffered = log.exists()
    if (buffered) {
      // record the evicted prefix's max scn: the tombstone both
      // intercepts the late tail (handleInputRows drops the first
      // closed segment) and lets the drop say whether the segment
      // provably interleaves what was evicted
      var mx =
        if (evictedMaxScn.exists()) evictedMaxScn.get() else Long.MinValue
      val it = log.get()
      while (it.hasNext) { val r = it.next(); if (r.scn > mx) mx = r.scn }
      // max-MERGED with any prior tombstone: a second eviction (a late
      // terminal-less tail that itself went idle) must not lower the
      // recorded horizon; the update also refreshes the TTL
      evictedMaxScn.update(mx)
      logger.warn(s"txn $xid: idle ${idleTimeoutMs} ms with no terminal — " +
        s"buffered statements evicted (max scn $mx); a late terminal for " +
        "this transaction will be dropped, not partially emitted; the " +
        s"tombstone expires after $tombstoneTtlMs ms")
    }
    log.clear()
    deadline.clear()
    Iterator.empty
  }
}
