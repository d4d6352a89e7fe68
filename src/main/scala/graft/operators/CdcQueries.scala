package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, TimestampType}
import graft.Tables._
import graft.cdc._
import graft.functions.Transforms
import graft.streaming.{ChangeStreams, Envelopes}

/** CDC correctness-gate queries (SURVEY.md §2.2 T1–T6, §2.3 P3/P4/P7,
  * §2.6 M3–M5).
  *
  * The `events` table is given a deterministic change-stream reading so
  * the REAL transaction assembler runs distributed under the gate and a
  * DuckDB oracle can state the expected emission in SQL:
  *
  *  - xid := user_id (one transaction per user); scn := event_id
  *  - op: signup→INSERT, view→DELETE, click/purchase→UPDATE,
  *    error→partial-rollback entry targeting the user's previous change
  *    (rowId := LAG(event_id)); data-change rowId := own event_id
  *  - every transaction gets a synthesized control record at
  *    scn = max(event_id)+1: ROLLBACK when user_id % 10 == 0, else COMMIT
  *
  * So the oracle is: drop rolled-back users, drop error entries, drop
  * changes whose event_id is the LAG-target of an error — exactly the
  * reference's commit/rollback/partial-rollback semantics
  * (`OraCdcTransaction.java:351-423`).
  */
object CdcQueries extends GateFamily {

  /** events → redo records (changes + per-transaction control records). */
  def redoRecords(s: SparkSession, dir: String): Dataset[RedoRecord] = {
    import s.implicits._
    val ev = events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val emptyMap = map().cast("map<string,string>")
    val changes = ev
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .withColumn("v5", col("event_id") % 5)
      .withColumn("prev_v5", coalesce(lag(col("v5"), 1).over(w), lit(-1L)))
      .select(
        col("event_id").as("scn"),
        lit(0).as("ssn"),
        col("user_id").cast("string").as("xid"),
        when(col("event_type") === "signup", lit(Ops.Insert))
          .when(col("event_type") === "view", lit(Ops.Delete))
          .otherwise(lit(Ops.Update)).as("op"),
        lit("GRAFT.EVENTS").as("table"),
        when(col("event_type") === "error",
          coalesce(col("prev_id").cast("string"), lit("none")))
          .otherwise(col("event_id").cast("string")).as("rowId"),
        (col("event_type") === "error").as("rollback"),
        // ts is TIMESTAMP (µs NTZ) → exact epoch micros
        graft.Tables.tsMicros.as("tsMicros"),
        // UPDATE before-image: value unchanged (models `set value=value`),
        // v5 from the previous change → no-op iff v5 == prev_v5 (P3)
        when(col("event_type") === "view",
          map(lit("user_id"), col("user_id").cast("string"),
              lit("v5"), col("v5").cast("string")))
          .when(col("event_type").isin("click", "purchase"),
            map(lit("value"), col("value").cast("string"),
                lit("v5"), col("prev_v5").cast("string")))
          .otherwise(emptyMap).as("before"),
        when(col("event_type").isin("signup", "click", "purchase"),
          map(lit("value"), col("value").cast("string"),
              lit("v5"), col("v5").cast("string")))
          .otherwise(emptyMap).as("after"),
        typedLit(Seq.empty[Map[String, String]]).as("multiRows"))
    val controls = ev.groupBy(col("user_id"))
      .agg(max(col("event_id")).as("max_id"))
      .select(
        (col("max_id") + 1).as("scn"),
        lit(0).as("ssn"),
        col("user_id").cast("string").as("xid"),
        when(col("user_id") % 10 === 0, lit(Ops.Rollback))
          .otherwise(lit(Ops.Commit)).as("op"),
        lit("GRAFT.EVENTS").as("table"),
        lit("").as("rowId"),
        lit(false).as("rollback"),
        lit(0L).as("tsMicros"),
        emptyMap.as("before"),
        emptyMap.as("after"),
        typedLit(Seq.empty[Map[String, String]]).as("multiRows"))
    // P7 audit: one 5.19-analogue session-audit record per transaction,
    // fields deterministic in user_id so a SQL oracle can restate them.
    // clientId is set only for even users — the NULL path is part of the
    // contract (reference emits null pseudo-columns when V$ has none).
    // scn=0 only orders it first; the assembler is position-independent.
    val audits = ev.select(col("user_id")).distinct()
      .select(
        lit(0L).as("scn"),
        lit(0).as("ssn"),
        col("user_id").cast("string").as("xid"),
        lit(Ops.Audit).as("op"),
        lit("GRAFT.EVENTS").as("table"),
        lit("").as("rowId"),
        lit(false).as("rollback"),
        lit(0L).as("tsMicros"),
        emptyMap.as("before"),
        map_concat(
          map(
            lit("username"),
            concat(lit("USER_"), (col("user_id") % 7).cast("string")),
            lit("osUsername"),
            concat(lit("os"), (col("user_id") % 3).cast("string")),
            lit("hostname"),
            concat(lit("host-"), (col("user_id") % 5).cast("string")),
            lit("auditSessionId"),
            (col("user_id") * 131 % 9973).cast("string")),
          when(col("user_id") % 2 === 0,
            map(lit("clientId"),
              concat(lit("app-"), (col("user_id") % 4).cast("string"))))
            .otherwise(map().cast("map<string,string>"))).as("after"),
        typedLit(Seq.empty[Map[String, String]]).as("multiRows"))
    changes.unionByName(controls).unionByName(audits).as[RedoRecord]
  }

  /** Shared oracle CTE prefix mirroring the change-stream reading. */
  private val baseCte =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, value,
      |         epoch_ms(ts) AS ts_ms,
      |         event_id % 5 AS v5,
      |         COALESCE(LAG(event_id % 5)
      |           OVER (PARTITION BY user_id ORDER BY event_id), -1) AS prev_v5,
      |         LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id,
      |         MAX(event_id) OVER (PARTITION BY user_id) + 1 AS commit_scn
      |  FROM events),
      |victims AS (
      |  SELECT prev_id FROM base
      |  WHERE event_type = 'error' AND prev_id IS NOT NULL),
      |emitted AS (
      |  SELECT *,
      |    CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2 ELSE 3 END AS op
      |  FROM base
      |  WHERE event_type <> 'error'
      |    AND user_id % 10 <> 0
      |    AND event_id NOT IN (SELECT prev_id FROM victims))
      |""".stripMargin

  /** Generic SCD2 (slowly-changing-dimension type 2) apply: each change
    * row of a key becomes a validity interval — `valid_to` = the key's
    * NEXT change's `ts` (null = current version, flagged `is_current`).
    * ONE lead() window shuffle keyed by the dimension key, no
    * self-join; `tieBreak` makes the version order total. The temporal-
    * table consumer of an ordered change stream.
    */
  def scd2(changes: DataFrame, key: String, ts: String,
      tieBreak: String): DataFrame =
    changes
      .withColumnRenamed(ts, "valid_from")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(key))
          .orderBy(col("valid_from"), col(tieBreak))))
      .withColumn("is_current", col("valid_to").isNull)

  /** t1_txn_asm's expected emission (s1_redo states the same). */
  private[operators] def txnAsmOracle: String = baseCte +
    """SELECT CAST(user_id AS VARCHAR) AS xid, commit_scn, event_id AS scn,
      |       op, CAST(event_id AS VARCHAR) AS row_id,
      |       CASE WHEN op = 2 THEN NULL ELSE value END AS val
      |FROM emitted ORDER BY scn""".stripMargin

  /** q_scd2_vers (and IncrementalAgg's q_scd2_apply): SCD2 versions by window. */
  private[operators] def scd2Oracle: String =
    """SELECT o_orderkey % 997 AS k, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |  o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER (
      |    PARTITION BY o_orderkey % 997
      |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  LEAD(o_orderdate) OVER (
      |    PARTITION BY o_orderkey % 997
      |    ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
      |FROM orders
      |ORDER BY k, valid_from, o_orderkey""".stripMargin

  def gates: Seq[Gate] = Seq(
    // T1+T2+T4: XID grouping, commit/rollback resolution, partial-rollback
    // cancellation — the REAL assembler running as flatMapGroups.
    Gate("t1_txn_asm", (s, dir) => {
      ChangeStreams.assembleBatch(redoRecords(s, dir))
        .select(col("xid"), col("commitScn").as("commit_scn"), col("scn"),
          col("op"), col("rowId").as("row_id"),
          element_at(col("after"), "value").cast("double").as("val"))
    }, _ => txnAsmOracle),

    // P3: no-op UPDATE elimination via assembler options.
    Gate("p3_noop", (s, dir) => {
      ChangeStreams.assembleBatch(redoRecords(s, dir),
          TransactionAssembler.Options(emitAllUpdates = false))
        .filter(col("op") === Ops.Update)
        .select(col("xid"), col("scn"),
          element_at(col("after"), "v5").cast("long").as("v5"))
    }, _ =>
      (baseCte +
      """SELECT CAST(user_id AS VARCHAR) AS xid, event_id AS scn, v5
        |FROM emitted
        |WHERE op = 3 AND v5 <> prev_v5
        |ORDER BY scn""".stripMargin)),

    // P5: keyless-DELETE skip via assembler options — with no key
    // columns configured a DELETE cannot be applied downstream, so the
    // assembler must drop exactly the deletes and nothing else.
    Gate("p5_keyless", (s, dir) => {
      ChangeStreams.assembleBatch(redoRecords(s, dir),
          TransactionAssembler.Options(skipKeylessDelete = true))
        .select(col("xid"), col("commitScn").as("commit_scn"), col("scn"),
          col("op"), col("rowId").as("row_id"),
          element_at(col("after"), "value").cast("double").as("val"))
    }, _ =>
      (baseCte +
      """SELECT CAST(user_id AS VARCHAR) AS xid, commit_scn, event_id AS scn,
        |       op, CAST(event_id AS VARCHAR) AS row_id, value AS val
        |FROM emitted WHERE op <> 2 ORDER BY scn""".stripMargin)),

    // T5 key-update collapse (10.30/10.35 chain semantic): a producer
    // encoding a key update as DELETE+INSERT under ONE SCN must emerge
    // as ONE logical UPDATE (delete's statement position + before-image,
    // insert's rowId + after-image); a DELETE+INSERT of the same row at
    // DIFFERENT SCNs is two genuine statements and must survive as-is.
    // Even orderkeys build the one-statement pair, odd ones the
    // two-statement control group.
    Gate("t5_collapse", (s, dir) => {
      import s.implicits._
      val emptyMap = map().cast("map<string,string>")
      val noMulti = typedLit(Seq.empty[Map[String, String]])
      val o = orders(s, dir).select(col("o_orderkey").as("okey"),
        concat(lit("t"), (col("o_orderkey") % 101).cast("string")).as("xid"),
        col("o_custkey").cast("string").as("ck"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("cents"))
      val deletes = o.select((col("okey") * 10).as("scn"), lit(0).as("ssn"),
        col("xid"), lit(Ops.Delete).as("op"), lit("G.T").as("table"),
        concat(lit("r"), col("okey")).as("rowId"), lit(false).as("rollback"),
        lit(0L).as("tsMicros"),
        map(lit("k"), col("ck"), lit("v"), col("cents").cast("string"))
          .as("before"),
        emptyMap.as("after"), noMulti.as("multiRows"))
      val inserts = o.select(
        (col("okey") * 10 + when(col("okey") % 2 === 0, 0).otherwise(5))
          .as("scn"),
        when(col("okey") % 2 === 0, 1).otherwise(0).cast("int").as("ssn"),
        col("xid"), lit(Ops.Insert).as("op"), lit("G.T").as("table"),
        concat(lit("r"), col("okey")).as("rowId"), lit(false).as("rollback"),
        lit(0L).as("tsMicros"), emptyMap.as("before"),
        map(lit("k"), col("ck"), lit("v"), (col("cents") + 7).cast("string"))
          .as("after"), noMulti.as("multiRows"))
      val commits = o.groupBy(col("xid"))
        .agg((max(col("okey")) * 10 + 10).as("scn"))
        .select(col("scn"), lit(0).as("ssn"), col("xid"),
          lit(Ops.Commit).as("op"), lit("").as("table"), lit("").as("rowId"),
          lit(false).as("rollback"), lit(0L).as("tsMicros"),
          emptyMap.as("before"), emptyMap.as("after"),
          noMulti.as("multiRows"))
      val records = deletes.unionByName(inserts).unionByName(commits)
        .as[RedoRecord]
      ChangeStreams.assembleBatch(records,
          TransactionAssembler.Options(collapseKeyUpdates = true))
        .select(col("xid"), col("scn"), col("ssn"), col("op"),
          col("rowId").as("row_id"),
          coalesce(element_at(col("before"), "k"),
            element_at(col("after"), "k")).as("k"),
          element_at(col("before"), "v").as("vb"),
          element_at(col("after"), "v").as("va"))
    }, _ =>
      """WITH o AS (
        |  SELECT o_orderkey AS okey,
        |         't' || CAST(o_orderkey % 101 AS VARCHAR) AS xid,
        |         CAST(o_custkey AS VARCHAR) AS ck,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT xid, scn, ssn, op, row_id, k, vb, va FROM (
        |  SELECT xid, okey * 10 AS scn, 0 AS ssn, 3 AS op,
        |         'r' || CAST(okey AS VARCHAR) AS row_id, ck AS k,
        |         CAST(cents AS VARCHAR) AS vb,
        |         CAST(cents + 7 AS VARCHAR) AS va
        |  FROM o WHERE okey % 2 = 0
        |  UNION ALL
        |  SELECT xid, okey * 10, 0, 2, 'r' || CAST(okey AS VARCHAR), ck,
        |         CAST(cents AS VARCHAR), NULL
        |  FROM o WHERE okey % 2 = 1
        |  UNION ALL
        |  SELECT xid, okey * 10 + 5, 0, 1, 'r' || CAST(okey AS VARCHAR), ck,
        |         NULL, CAST(cents + 7 AS VARCHAR)
        |  FROM o WHERE okey % 2 = 1)
        |ORDER BY scn""".stripMargin),

    // P4: DELETE column pruning to key columns via assembler options.
    Gate("p4_delete_pk", (s, dir) => {
      ChangeStreams.assembleBatch(redoRecords(s, dir),
          TransactionAssembler.Options(allColsOnDelete = false,
            keyCols = Seq("user_id")))
        .filter(col("op") === Ops.Delete)
        .select(col("xid"), col("scn"),
          concat_ws(",", array_sort(map_keys(col("before")))).as("before_cols"),
          element_at(col("before"), "user_id").cast("long").as("uid"))
    }, _ =>
      (baseCte +
      """SELECT CAST(user_id AS VARCHAR) AS xid, event_id AS scn,
        |       'user_id' AS before_cols, user_id AS uid
        |FROM emitted WHERE op = 2 ORDER BY scn""".stripMargin)),

    // T6: multi-row op expansion (QMI analogue) through the assembler.
    Gate("t6_multirow", (s, dir) => {
      import s.implicits._
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value"),
          (get_json_object(col("props"), "$.k").cast("int") % 3 + 1).as("n"))
        .as[(Long, Double, Int)]
      val records = purchases.flatMap { case (id, v, n) =>
        val rows = (1 to n).map(i => Map("seq" -> i.toString, "value" -> v.toString))
        Seq(
          RedoRecord(id, 0, s"p$id", Ops.MultiInsert, "GRAFT.EVENTS",
            id.toString, rollback = false, 0L, Map.empty, Map.empty, rows),
          RedoRecord(id, 0, s"p$id", Ops.Commit, "GRAFT.EVENTS", "",
            rollback = false, 0L, Map.empty, Map.empty, Nil))
      }
      ChangeStreams.assembleBatch(records)
        .select(col("scn"), col("ssn"),
          element_at(col("after"), "seq").cast("int").as("seq"),
          element_at(col("after"), "value").cast("double").as("val"))
    }, _ =>
      """SELECT e.event_id AS scn, CAST(t.i - 1 AS INT) AS ssn,
        |       CAST(t.i AS INT) AS seq, e.value AS val
        |FROM events e
        |CROSS JOIN UNNEST(range(1, (CAST(e.props::JSON->>'k' AS INT) % 3) + 2)) AS t(i)
        |WHERE e.event_type = 'purchase'
        |ORDER BY scn, ssn""".stripMargin),

    // T9: DDL apply / schema evolution — per nation, a deterministic
    // ALTER TABLE sequence (add NOT-NULL decimal, rename-or-noop-modify,
    // conditional drop) folds through SchemaEvolution.applyDdl on
    // executors; version must bump exactly on effective changes (the
    // noop MODIFY VARCHAR2→CLOB maps to the same Spark type and must
    // NOT bump).
    Gate("t9_schema_evo", (s, dir) => {
      import s.implicits._
      nation(s, dir).select(col("n_nationkey").cast("long")).as[Long]
        .map { k =>
          import graft.cdc.SchemaEvolution._
          import org.apache.spark.sql.types._
          var tv = TableVersion(StructType(Seq(
            StructField("ID", LongType, nullable = false),
            StructField("NAME", StringType))), 0)
          tv = applyDdl(tv, "ALTER TABLE G.T ADD (EXTRA NUMBER(10,2) NOT NULL)")
          tv = applyDdl(tv,
            if (k % 2 == 0) "ALTER TABLE G.T RENAME COLUMN NAME TO NM"
            else "ALTER TABLE G.T MODIFY (NAME CLOB)")
          if (k % 3 == 0) tv = applyDdl(tv, "ALTER TABLE G.T DROP COLUMN EXTRA")
          (k, tv.version,
            tv.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}")
              .mkString(","))
        }
        .toDF("n_nationkey", "version", "schema_ddl")
    }, _ =>
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |       CAST(1 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
        |              + CASE WHEN n_nationkey % 3 = 0 THEN 1 ELSE 0 END AS INT) AS version,
        |       'ID bigint,' ||
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'NM string' ELSE 'NAME string' END ||
        |       CASE WHEN n_nationkey % 3 = 0 THEN '' ELSE ',EXTRA decimal(10,2)' END
        |         AS schema_ddl
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    // K2 upsert semantics: committed stream applied latest-wins per key.
    Gate("k2_upsert", (s, dir) => {
      val assembled = ChangeStreams.assembleBatch(redoRecords(s, dir))
      val w = Window.partitionBy(col("xid"))
        .orderBy(col("commitScn").desc, col("scn").desc)
      assembled
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= Ops.Delete)
        .select(col("xid"), col("scn").as("last_scn"),
          element_at(col("after"), "value").cast("double").as("val"))
    }, _ =>
      (baseCte +
      """SELECT xid, last_scn, val FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS xid, event_id AS last_scn,
        |         value AS val, op,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM emitted)
        |WHERE rn = 1 AND op <> 2 ORDER BY xid""".stripMargin)),

    // P7 completion: session-audit pseudo-columns (username, osUsername,
    // hostname, auditSessionId, clientId) captured from the transaction's
    // audit record and stamped onto every emitted change — ref
    // `OraCdcChangeAudit.java`, `KafkaPseudoColumnsProcessor.java:82-249`.
    Gate("p7_audit_cols", (s, dir) => {
      Envelopes.withPseudoColumns(ChangeStreams.assembleBatch(redoRecords(s, dir)))
        .select(col("ORA_SCN").as("scn"), col("ORA_XID").as("xid"),
          col("ORA_USERNAME").as("username"),
          col("ORA_OS_USERNAME").as("os_username"),
          col("ORA_HOSTNAME").as("hostname"),
          col("ORA_AUDIT_SESSION_ID").as("audit_session_id"),
          col("ORA_CLIENT_ID").as("client_id"))
    }, _ =>
      (baseCte +
      """SELECT event_id AS scn, CAST(user_id AS VARCHAR) AS xid,
        |       'USER_' || (user_id % 7) AS username,
        |       'os' || (user_id % 3) AS os_username,
        |       'host-' || (user_id % 5) AS hostname,
        |       (user_id * 131) % 9973 AS audit_session_id,
        |       CASE WHEN user_id % 2 = 0
        |            THEN 'app-' || (user_id % 4) END AS client_id
        |FROM emitted ORDER BY scn""".stripMargin)),

    // P6/P7: debezium envelope + pseudo-columns, flattened for compare.
    Gate("p7_dbz_env", (s, dir) => {
      Envelopes.debezium(ChangeStreams.assembleBatch(redoRecords(s, dir)), "graft")
        .select(col("source.scn").as("scn"), col("source.commit_scn").as("commit_scn"),
          col("source.xid").as("xid"), col("source.row_id").as("row_id"),
          col("op"), col("ts_ms"))
    }, _ =>
      (baseCte +
      """SELECT event_id AS scn, commit_scn, CAST(user_id AS VARCHAR) AS xid,
        |       CAST(event_id AS VARCHAR) AS row_id,
        |       CASE op WHEN 1 THEN 'c' WHEN 2 THEN 'd' ELSE 'u' END AS op,
        |       ts_ms
        |FROM emitted ORDER BY scn""".stripMargin)),

    // M3+M4+M5: lowercase-names, key-to-value, header-to-field SMTs.
    Gate("m3_m5_smt", (s, dir) => {
      val df = customer(s, dir).select(
        struct(col("c_custkey")).as("key"),
        struct(col("c_name"), col("c_acctbal")).as("value"),
        col("c_nationkey").as("hdr_nation"))
      val chained = Transforms.toLowerCaseNames(
        Transforms.toUpperCaseNames(
          Transforms.keyToValue(
            Transforms.headersToFields(df, Seq("hdr_nation")))))
      chained.select(col("value.*")).toDF("c_name", "c_acctbal", "hdr_nation", "c_custkey")
    }, _ =>
      """SELECT c_name, c_acctbal, c_nationkey AS hdr_nation, c_custkey
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // P8 name sanitation, gated through the driver's SCHEMA comparison:
    // the output column names ARE the sanitized results (space/#/dash/
    // non-ASCII → '_', leading digit prefixed), stated verbatim as
    // quoted aliases in the oracle.
    Gate("p8_name_san", (s, dir) => {
      val dirty = customer(s, dir).select(
        col("c_custkey").as("Cust Key#"),
        col("c_name").as("1name"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("long").as("acct-bal€"))
      Transforms.sanitizeNames(dirty)
    }, _ =>
      """SELECT c_custkey AS "Cust_Key_", c_name AS "_1name",
        |       CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS "acct_bal_"
        |FROM customer ORDER BY 1""".stripMargin),

    // K5 sink table-name mapping over a record stream: topic names
    // (prefix ⧺ '_' ⧺ flattened table) and value-schema names
    // (namespace-dotted) synthesized from part keys, mapped back to
    // table names by the two K5 mirrors — prefix-strip+separator-trim
    // and last-dotted-component — then rolled up per mapped table. The
    // mirrors are property-tied to the driver-side NameMappers
    // functions (NameMapperColumnProps), so this gate transitively
    // checks those too.
    Gate("k5_table_map", (s, dir) => {
      import graft.sinks.NameMappers
      val t = part(s, dir).select(col("p_partkey"),
        concat(lit("oracdc_SCOTT_T"),
          (col("p_partkey") % 7).cast("string")).as("topic"),
        concat(lit("solutions.a2.SCOTT.T"),
          (col("p_partkey") % 7).cast("string")).as("schema_name"))
      t.select(
          NameMappers.tableFromTopicCol(col("topic"), "oracdc").as("sink_table"),
          NameMappers.tableFromSchemaNameCol(col("schema_name")).as("schema_table"))
        .groupBy(col("sink_table"), col("schema_table"))
        .agg(count(lit(1)).as("n"))
    }, _ =>
      """WITH t AS (
        |  SELECT 'oracdc_SCOTT_T' || CAST(p_partkey % 7 AS VARCHAR) AS topic,
        |         'solutions.a2.SCOTT.T' || CAST(p_partkey % 7 AS VARCHAR)
        |           AS schema_name
        |  FROM part)
        |SELECT CASE WHEN starts_with(topic, 'oracdc')
        |            THEN ltrim(substr(topic, 7), '_.') ELSE topic END
        |         AS sink_table,
        |       regexp_extract(schema_name, '([^.]*)$', 1) AS schema_table,
        |       count(*) AS n
        |FROM t GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // SCD2 (slowly-changing-dimension type 2) apply: the versioned-table
    // shape every CDC consumer materializes — each change row becomes a
    // validity interval [valid_from, valid_to) per key, closed by the
    // NEXT change of the same key (lead over the key partition: ONE
    // shuffle keyed by the dimension key, no self-join). The reference
    // emits the ordered change stream; this is its temporal-table
    // consumer. Key collapses o_orderkey mod 997 so keys carry multiple
    // versions; ties broken on o_orderkey for a total, engine-agnostic
    // order.
    Gate("q_scd2_vers", (s, dir) => {
      orders(s, dir).select(col("o_orderkey"),
          (col("o_orderkey") % 997).as("k"),
          col("o_orderdate").as("valid_from"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .transform(scd2(_, "k", "valid_from", "o_orderkey"))
        .select(col("k"), col("o_orderkey"), col("cents"),
          col("valid_from"), col("valid_to"), col("is_current"))
    }, _ => scd2Oracle),

    // M6 LOB transform hook: documents.text round-trips through a
    // synthetic compressed CLOB carrier (gzip, the reference's wire
    // compression — F14) and the user hook decompresses + upper-cases.
    // The oracle states the post-transform value directly from the
    // source text, so the gate proves carrier + hook end-to-end.
    Gate("m6_lob_xform", (s, dir) => {
      import graft.functions.OracleFunctions._
      val lobbed = documents(s, dir).select(col("doc_id"),
        gzip_compress(to_binary(col("text"), lit("utf-8"))).as("clob"))
      Transforms.lobTransform(lobbed, Seq("clob"),
          c => upper(decode(gzip_decompress(c), "UTF-8")))
        .withColumn("clob_len", length(col("clob")).cast("long"))
    }, _ =>
      """SELECT doc_id, UPPER(text) AS clob, LENGTH(UPPER(text)) AS clob_len
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
