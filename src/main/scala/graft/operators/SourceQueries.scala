package graft.operators

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{documents, events, orders}
import graft.cdc.RedoRecord
import graft.logminer.{CsfReassembly, SqlRedoParser}
import graft.redo.RedoLogWriter
import graft.streaming.ChangeStreams

/** Correctness gate for the `graft-redo` DSv2 source (SURVEY.md §2.1
  * S1/S2/S5 + §7.2's end-to-end slice): the change stream is serialized
  * to binary GRL1 redo logs (distributed — each partition writes its own
  * log file, the per-redo-THREAD# analogue), then read back through the
  * DataSource V2 scan (block checksums, multi-block reassembly, topology
  * listing) and assembled to committed changes. The DuckDB oracle states
  * the expected emission from the raw events — so the ENTIRE pipeline
  * (encode → block write → scan → parse → txn assembly) is verified, not
  * just the assembler.
  */
object SourceQueries extends GateFamily {

  // per-JVM fixture memo: gate inputs are deterministic functions of
  // the sf dir, so repeated invocations (bench warmup + measured runs)
  // reuse ONE written log set instead of accumulating unbounded temp
  // directories over a long session
  private val fixtureCache =
    collection.mutable.Map.empty[(String, String), String]

  private def writeRedoLogs(records: org.apache.spark.sql.Dataset[RedoRecord],
      nThreads: Int, cacheKey: String = null): String =
    if (cacheKey == null) writeRedoLogs0(records, nThreads)
    else fixtureCache.synchronized {
      fixtureCache.getOrElseUpdate(
        (cacheKey, records.sparkSession.sparkContext.applicationId),
        writeRedoLogs0(records, nThreads))
    }

  /** Serialize a change stream as GRL logs, one per partition.
    *
    * The log directory must be visible to driver AND executors: local
    * tmp suffices in local mode (the test/bench environment); on a real
    * cluster set `spark.graft.redo.gateDir` to a shared-filesystem path.
    */
  private def writeRedoLogs0(records: org.apache.spark.sql.Dataset[RedoRecord],
      nThreads: Int): String = {
    val base = records.sparkSession.conf
      .getOption("spark.graft.redo.gateDir")
      .map { d => val f = new File(d); f.mkdirs(); Files.createTempDirectory(f.toPath, "gate").toFile }
      .getOrElse(Files.createTempDirectory("graft_redo_gate").toFile)
    // read lazily and cached per application, so the logs go at JVM exit
    FileSystem.getLocal(records.sparkSession.sparkContext.hadoopConfiguration)
      .deleteOnExit(new Path(base.getAbsolutePath))
    val out = new File(base, "logs")
    out.mkdirs()
    val path = out.getAbsolutePath
    records
      .repartition(nThreads, col("xid"))
      .foreachPartition { (it: Iterator[RedoRecord]) =>
        val pid = TaskContext.getPartitionId()
        val w = new RedoLogWriter(new File(path, f"log_$pid%03d.grl"),
          blockSize = 1024, seq = pid + 1, thread = 0)
        try it.foreach(w.append) finally w.close()
      }
    path
  }

  /** s4_parse and s4_csf: the typed orders rows the redo SQL was synthesized from. */
  private def s4Oracle: String =
    """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1
      |            WHEN o_orderkey % 3 = 1 THEN 3 ELSE 2 END AS op,
      |       o_orderkey AS okey, o_custkey AS custkey,
      |       CASE WHEN o_orderkey % 3 = 2 THEN NULL
      |            ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) END AS price,
      |       CASE WHEN o_orderkey % 3 = 2 THEN NULL
      |            ELSE o_orderdate END AS odate,
      |       CASE WHEN o_orderkey % 3 = 2 THEN NULL
      |            ELSE o_orderpriority END AS prio
      |FROM orders ORDER BY okey""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("s1_redo", (s, dir) => {
      import s.implicits._
      val logDir = writeRedoLogs(CdcQueries.redoRecords(s, dir), nThreads = 8,
        cacheKey = s"s1:$dir")
      val records = s.read.format("graft-redo").load(logDir).as[RedoRecord]
      ChangeStreams.assembleBatch(records)
        .select(col("xid"), col("commitScn").as("commit_scn"), col("scn"),
          col("op"), col("rowId").as("row_id"),
          element_at(col("after"), "value").cast("double").as("val"))
    }, _ =>
      // identical expected emission to t1_txn_asm — by construction the
      // redo encode/scan round-trip must be invisible to the result
      CdcQueries.txnAsmOracle),

    // P1+P2: include/exclude wildcards + operation filter applied AT THE
    // SCAN (the DSv2 reader prunes before rows reach Spark). Events are
    // spread over three tables G.T0/1/2 with a mixed op profile; the
    // scan keeps tables G.T0 + %T2 and ops INSERT/UPDATE only. Control
    // records (COMMIT) must always pass so transactions still terminate.
    Gate("p1_p2_filters", (s, dir) => {
      import s.implicits._
      val emptyMap = map().cast("map<string,string>")
      val noMulti = array().cast("array<map<string,string>>")
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val changes = ev.select(
        col("event_id").as("scn"), lit(0).as("ssn"),
        col("user_id").cast("string").as("xid"),
        when(col("event_type") === "signup", lit(graft.cdc.Ops.Insert))
          .when(col("event_type") === "view", lit(graft.cdc.Ops.Delete))
          .otherwise(lit(graft.cdc.Ops.Update)).as("op"),
        concat(lit("G.T"), (col("user_id") % 3).cast("string")).as("table"),
        col("event_id").cast("string").as("rowId"),
        lit(false).as("rollback"), lit(0L).as("tsMicros"),
        emptyMap.as("before"),
        map(lit("v"), col("event_id").cast("string")).as("after"),
        noMulti.as("multiRows")).as[RedoRecord]
      val ctl = ev.groupBy(col("user_id"))
        .agg(max(col("event_id")).as("m"))
        .select((col("m") + 1).as("scn"), lit(0).as("ssn"),
          col("user_id").cast("string").as("xid"),
          lit(graft.cdc.Ops.Commit).as("op"),
          lit("").as("table"), lit("").as("rowId"),
          lit(false).as("rollback"), lit(0L).as("tsMicros"),
          emptyMap.as("before"), emptyMap.as("after"),
          noMulti.as("multiRows")).as[RedoRecord]
      val logDir = writeRedoLogs(
        changes.toDF().unionByName(ctl.toDF()).as[RedoRecord], nThreads = 8,
        cacheKey = s"p1p2:$dir")
      s.read.format("graft-redo")
        .option("tables", "G.T0,%T2")
        .option("ops", s"${graft.cdc.Ops.Insert},${graft.cdc.Ops.Update}")
        .load(logDir)
        .select(col("scn"), col("xid"), col("op"), col("table").as("tab"))
    }, _ =>
      """WITH ch AS (
        |  SELECT event_id AS scn, CAST(user_id AS VARCHAR) AS xid,
        |         CASE WHEN event_type = 'signup' THEN 1
        |              WHEN event_type = 'view' THEN 2
        |              ELSE 3 END AS op,
        |         'G.T' || CAST(user_id % 3 AS VARCHAR) AS tab,
        |         user_id
        |  FROM events),
        |ctl AS (
        |  SELECT MAX(event_id) + 1 AS scn, CAST(user_id AS VARCHAR) AS xid,
        |         7 AS op, '' AS tab
        |  FROM events GROUP BY user_id)
        |SELECT scn, xid, op, tab FROM (
        |  SELECT scn, xid, op, tab FROM ch
        |  WHERE user_id % 3 <> 1 AND op IN (1, 3)
        |  UNION ALL
        |  SELECT scn, xid, op, tab FROM ctl)
        |ORDER BY scn, xid""".stripMargin),

    // T7: direct-load 19.1 — orders rows arrive as whole direct-loaded
    // blocks (8 rows per block, one COLB-analogue vector each, no undo),
    // one transaction per block. Assembly must expand each block into
    // per-row INSERTs with rowIds synthesized from (block address, row
    // ordinal) — the reference's RowId(obj, dba, row) — and stamp the
    // block transaction's commit SCN.
    Gate("t7_direct", (s, dir) => {
      import s.implicits._
      val records = orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")).as[(Long, Long)]
        .groupByKey(_._1 / 8)
        .flatMapGroups { (dba, it) =>
          val rows = it.toSeq.sortBy(_._1).map { case (ok, ck) =>
            Map("o_orderkey" -> ok.toString, "o_custkey" -> ck.toString)
          }
          val xid = s"b$dba"
          Seq(
            RedoRecord(dba * 2 + 1, 0, xid, graft.cdc.Ops.DirectLoad,
              "G.ORDERS", dba.toString, rollback = false, 0L,
              Map.empty, Map.empty, rows),
            RedoRecord(dba * 2 + 2, 0, xid, graft.cdc.Ops.Commit, "", "",
              rollback = false, 0L, Map.empty, Map.empty))
        }
      val logDir = writeRedoLogs(records, nThreads = 8,
        cacheKey = s"t7:$dir")
      val back = s.read.format("graft-redo").load(logDir).as[RedoRecord]
      ChangeStreams.assembleBatch(back)
        .select(
          element_at(col("after"), "o_orderkey").cast("long").as("o_orderkey"),
          element_at(col("after"), "o_custkey").cast("long").as("custkey"),
          col("op"), col("rowId").as("row_id"),
          col("commitScn").as("commit_scn"), col("ssn"))
    }, _ =>
      """SELECT o_orderkey,
        |       o_custkey AS custkey,
        |       1 AS op,
        |       CAST(o_orderkey // 8 AS VARCHAR) || '.' ||
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey // 8
        |                                 ORDER BY o_orderkey) - 1 AS VARCHAR) AS row_id,
        |       (o_orderkey // 8) * 2 + 2 AS commit_scn,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderkey // 8
        |                               ORDER BY o_orderkey) - 1 AS INT) AS ssn
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // T8: out-of-row LOB chunk assembly through the full binary path —
    // every document body is split into ~3 LOB chunk records plus an
    // INSERT whose column holds only the locator marker; after GRL
    // write → source scan → assembly, the reconstructed body must equal
    // the original text.
    Gate("t8_lob", (s, dir) => {
      import s.implicits._
      val records = documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val xid = s"d$id"
          val chunkLen = math.max(1, (text.length + 2) / 3)
          val chunks = if (text.isEmpty) Seq("") else text.grouped(chunkLen).toSeq
          chunks.zipWithIndex.map { case (c, i) =>
            RedoRecord(id * 10 + i, i, xid, graft.cdc.Ops.LobChunk, "G.DOCS",
              "", rollback = false, 0L, Map.empty,
              Map("lobId" -> id.toString, "seq" -> i.toString, "data" -> c))
          } ++ Seq(
            RedoRecord(id * 10 + 8, 0, xid, graft.cdc.Ops.Insert, "G.DOCS",
              id.toString, rollback = false, 0L, Map.empty,
              Map("doc_id" -> id.toString,
                "body" -> (graft.cdc.TransactionAssembler.LobRef + id))),
            RedoRecord(id * 10 + 9, 0, xid, graft.cdc.Ops.Commit, "", "",
              rollback = false, 0L, Map.empty, Map.empty))
        }
      val logDir = writeRedoLogs(records, nThreads = 8,
        cacheKey = s"t8:$dir")
      val back = s.read.format("graft-redo").load(logDir).as[RedoRecord]
      ChangeStreams.assembleBatch(back)
        .select(element_at(col("after"), "doc_id").cast("long").as("doc_id"),
          element_at(col("after"), "body").as("body"))
    }, _ =>
      "SELECT doc_id, text AS body FROM documents ORDER BY doc_id"),

    // S4: LogMiner SQL_REDO text parse — redo SQL is SYNTHESIZED from
    // orders rows (distributed, with '' escaping and TO_TIMESTAMP
    // wrappers), parsed back by SqlRedoParser, and the reconstructed
    // typed columns must equal the source rows. op mix by o_orderkey%3:
    // 0→INSERT(values list) 1→UPDATE(set+where) 2→DELETE(where only).
    Gate("s4_parse", (s, dir) =>
      parseRedoTyped(s, synthesizedRedoSql(s, dir).select(col("sql_redo"))), _ => s4Oracle),

    // S4 CSF parity: every synthesized statement is CHUNKED into
    // 40-char continuation rows (LogMiner's CSF encoding), shuffled,
    // reassembled by CsfReassembly's statement-keyed ordered concat,
    // and only THEN parsed — the oracle is the same typed decision
    // table as s4_parse, so a dropped, duplicated or reordered
    // chunk breaks the parse or the hash. Statement ids deliberately
    // SHARE SCNs pairwise (scn = okey/2, ssn = okey%2) to prove
    // same-SCN statements never interleave.
    Gate("s4_csf", (s, dir) => {
      import s.implicits._
      val stmts = synthesizedRedoSql(s, dir)
        .withColumn("xid", concat(lit("tx"), col("okey") % 97))
        .withColumn("scn", (col("okey") / 2).cast("long"))
        .withColumn("ssn", (col("okey") % 2).cast("int"))
        .select(col("xid"), col("scn"), col("ssn"), col("sql_redo"))
        .as[(String, Long, Int, String)]
      // 40-char chunker as a typed flatMap (r17): the former
      // posexplode(transform(sequence(...), i -> substring(...)))
      // expression tree joined the synthesized-SQL concat/when
      // projection in one giant generated method — s4_csf's cold-JVM
      // Janino/C2 storm (the r16 verdict's item 5; prewarm masked it
      // in-bench, this fixes the cause). The flatMap is scalac-compiled
      // bytecode — nothing to Janino — and emits the IDENTICAL chunk
      // rows: chunks are 40 CODE POINTS each (Spark SQL substring
      // counts code points, and String.substring counts UTF-16 units —
      // offsetByCodePoints keeps a surrogate pair from straddling a
      // chunk boundary, where a lone surrogate would re-encode as '?'
      // and corrupt the reassembled statement; ASCII-only on this
      // corpus, enforced equal in StreamingCsfSpec incl. a non-BMP
      // case), ceil(L/40) chunks for L ≥ 1 (== floor((L-1)/40)+1, the
      // old rule), one empty chunk for an empty/null statement (the
      // old expression emitted a null part there; array_join skips
      // nulls, so both reassemble to ""), seq = chunk index. Chunk
      // boundaries cannot affect the reassembled string (the concat of
      // the chunks IS the statement), so the oracle checks the same
      // computation.
      val parts = stmts.flatMap { case (xid, scn, ssn, sql) =>
        val t = if (sql == null) "" else sql
        val cps = t.codePointCount(0, t.length)
        val n = math.max(1L, (cps + 39L) / 40L).toInt
        val out = new Array[(String, Long, Int, Int, String)](n)
        var start = 0
        var i = 0
        while (i < n) {
          val end =
            if (i == n - 1) t.length else t.offsetByCodePoints(start, 40)
          out(i) = (xid, scn, ssn, i, t.substring(start, end))
          start = end
          i += 1
        }
        out.toSeq
      }.toDF("xid", "scn", "ssn", "seq", "part")
      parseRedoTyped(s, CsfReassembly.reassemble(parts)
        .select(col("sql").as("sql_redo")))
    }, _ =>
      // chunk → reassemble → parse must land on the identical typed table
      s4Oracle),

    // S5 distributed topology gap audit: (thread, seq) segment
    // coordinates derived from orderkeys, with segments lost
    // data-dependently (the o_custkey predicate drops ~10% of keys, so
    // the synthesized catalog carries per-thread sequence gaps that
    // only the data determines); every missing run must be reported as
    // [gap_start, gap_end]. The driver-side listing
    // (RedoLogReader.listLogs) throws on the FIRST gap; this is the
    // audit-the-whole-catalog variant (see RedoTopology scaladoc).
    Gate("s5_gaps", (s, dir) => {
      val topo = orders(s, dir)
        .filter(col("o_custkey") % 10 =!= 3)
        .select(((col("o_orderkey") % 4) + 1).cast("int").as("thread"),
          expr("o_orderkey DIV 4").as("seq"))
      graft.redo.RedoTopology.gapReport(topo, "thread", "seq")
    }, _ =>
      """WITH topo AS (
        |  SELECT DISTINCT CAST(o_orderkey % 4 + 1 AS INTEGER) AS thread,
        |         o_orderkey // 4 AS seq FROM orders
        |  WHERE o_custkey % 10 <> 3),
        |g AS (
        |  SELECT thread, seq,
        |         LAG(seq) OVER (PARTITION BY thread ORDER BY seq) AS prev
        |  FROM topo)
        |SELECT thread, prev + 1 AS gap_start, seq - 1 AS gap_end,
        |       seq - prev - 1 AS missing
        |FROM g WHERE prev IS NOT NULL AND seq > prev + 1
        |ORDER BY thread, gap_start""".stripMargin)
  )

  /** The s4 statement corpus: redo SQL SYNTHESIZED from orders rows
    * (distributed, with '' escaping and TO_TIMESTAMP wrappers). op mix
    * by o_orderkey%3: 0→INSERT(values list) 1→UPDATE(set+where)
    * 2→DELETE(where only). Returns (okey, sql_redo).
    */
  private def synthesizedRedoSql(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .withColumn("price_s", col("o_totalprice").cast("decimal(12,2)").cast("string"))
      .withColumn("odate_s",
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .withColumn("prio_esc", regexp_replace(col("o_orderpriority"), "'", "''"))
    o.select(col("o_orderkey").as("okey"),
      when(col("o_orderkey") % 3 === 0, concat(
        lit("insert into \"G\".\"ORDERS\"(\"O_ORDERKEY\",\"O_CUSTKEY\"," +
          "\"O_TOTALPRICE\",\"O_ORDERDATE\",\"O_PRIO\") values ("),
        col("o_orderkey"), lit(","), col("o_custkey"), lit(","),
        col("price_s"), lit(",TO_TIMESTAMP('"), col("odate_s"),
        lit("'),'"), col("prio_esc"), lit("')")))
      .when(col("o_orderkey") % 3 === 1, concat(
        lit("update \"G\".\"ORDERS\" set \"O_TOTALPRICE\" = "), col("price_s"),
        lit(", \"O_PRIO\" = '"), col("prio_esc"),
        lit("' where \"O_ORDERKEY\" = "), col("o_orderkey"),
        lit(" and \"O_CUSTKEY\" = "), col("o_custkey"),
        lit(" and \"O_ORDERDATE\" = TO_TIMESTAMP('"), col("odate_s"), lit("')")))
      .otherwise(concat(
        lit("delete from \"G\".\"ORDERS\" where \"O_ORDERKEY\" = "),
        col("o_orderkey"), lit(" and \"O_CUSTKEY\" = "), col("o_custkey")))
      .as("sql_redo"))
  }

  /** Parse a `sql_redo` column back to typed order columns — the shared
    * verification tail of the s4 gates.
    */
  private def parseRedoTyped(s: SparkSession, sqlText: DataFrame): DataFrame = {
    import s.implicits._
    val parsed = sqlText.select(col("sql_redo")).as[String].map { sql =>
      val c = SqlRedoParser.parse(sql)
      def g(m: Map[String, Option[String]], k: String): Option[String] =
        m.get(k).flatten
      (c.op,
        g(c.set, "O_ORDERKEY").orElse(g(c.where, "O_ORDERKEY")).map(_.toLong),
        g(c.set, "O_CUSTKEY").orElse(g(c.where, "O_CUSTKEY")).map(_.toLong),
        g(c.set, "O_TOTALPRICE"),
        g(c.set, "O_ORDERDATE").orElse(g(c.where, "O_ORDERDATE")),
        g(c.set, "O_PRIO"))
    }.toDF("op", "okey", "custkey", "price_s", "odate_s", "prio")
    parsed.select(col("op"), col("okey"), col("custkey"),
        // double + ntz outputs: the driver's pandas comparator can't
        // match Decimal-object / ns-unit columns against DuckDB's
        // float64 / µs frames
        col("price_s").cast("decimal(12,2)").cast("double").as("price"),
        col("odate_s").cast("timestamp_ntz").as("odate"), col("prio"))
  }
}
