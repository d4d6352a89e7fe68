package graft.cdc

/** Core CDC data model (SURVEY.md §1.1).
  *
  * Mirrors the reference's abstractions — statement/row-change with
  * LogMiner operation codes (`OraCdcV$LogmnrContents.java:39-50`),
  * transaction keyed by XID (`OraCdcTransaction.java:132-176`) — as plain
  * Scala case classes with Spark-encodable fields. Column images are
  * name→string maps so the model is schema-dynamic like the reference;
  * typed decode happens in the projection layer (graft.functions).
  */
object Ops {
  val Insert = 1
  val Delete = 2
  val Update = 3
  val Ddl = 5
  val Commit = 7
  /** multi-row insert (redo 11.11 QMI analogue) */
  val MultiInsert = 11
  /** multi-row delete (redo 11.12 QMD analogue) */
  val MultiDelete = 12
  /** direct-path-loaded block (redo 19.1 COLB analogue); `multiRows`
    * carries the block's row images, `rowId` the block address (dba) —
    * per-row ids are synthesized at expansion like the reference's
    * `RowId(obj, dba, row)`
    */
  val DirectLoad = 19
  /** LOB chunk write (redo 26.x analogue); `after` carries lobId/seq/data */
  val LobChunk = 26
  val Rollback = 36
  /** session-audit record (redo 5.19/5.20 session-attributes analogue;
    * ref `OraCdcChangeAudit.java`): `after` carries username/osUsername/
    * hostname/auditSessionId/clientId for the enclosing transaction —
    * never emitted itself, stamped onto every emitted change (P7)
    */
  val Audit = 20
  /** The codes a data record carries (control and audit records pass
    * every op filter, so a filter names only these). */
  val data: Set[Int] = Set(Insert, Delete, Update, Ddl, MultiInsert,
    MultiDelete, DirectLoad, LobChunk)

  def name(op: Int): String = op match {
    case Insert => "INSERT"
    case Delete => "DELETE"
    case Update => "UPDATE"
    case Ddl => "DDL"
    case Commit => "COMMIT"
    case MultiInsert => "MULTI_INSERT"
    case DirectLoad => "DIRECT_LOAD"
    case MultiDelete => "MULTI_DELETE"
    case LobChunk => "LOB_CHUNK"
    case Rollback => "ROLLBACK"
    case Audit => "AUDIT"
    case _ => s"OP_$op"
  }
}

/** One redo entry as produced by a source: a row change (op 1/2/3/5), a
  * multi-row change (op 11/12, rows in `multiRows`), or transaction
  * control (op 7 COMMIT / 36 ROLLBACK). `rollback=true` on a row change
  * marks a partial-rollback entry that cancels a prior paired change in
  * the same transaction (ref semantics: `OraCdcTransaction.java:351-423`).
  */
case class RedoRecord(
    scn: Long,
    ssn: Int,
    xid: String,
    op: Int,
    table: String,
    rowId: String,
    rollback: Boolean,
    tsMicros: Long,
    before: Map[String, String],
    after: Map[String, String],
    multiRows: Seq[Map[String, String]] = Nil)

/** A committed row change, stamped with its transaction's commit SCN
  * (emission strictly deferred to commit — ref `T2`). `audit` carries the
  * transaction's session-audit attributes (P7 pseudo-columns; ref
  * `KafkaPseudoColumnsProcessor.java:82-249`) — empty when the stream
  * carried no audit record.
  */
case class EmittedChange(
    xid: String,
    commitScn: Long,
    scn: Long,
    ssn: Int,
    table: String,
    op: Int,
    rowId: String,
    tsMicros: Long,
    before: Map[String, String],
    after: Map[String, String],
    audit: Map[String, String] = Map.empty)
