package graft.streaming

import java.sql.DriverManager

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.logminer.CsfReassembly
import graft.logminer.CsfReassembly.CsfChunk

/** S4 streaming composition: CSF reassembly ahead of the SQL_REDO
  * parser ON the `graft-jdbc-poll` micro-batch path — including the case
  * the batch gate can't cover: a statement whose continuation chunks are
  * SPLIT ACROSS A POLL-WINDOW BOUNDARY (the reference stitches these
  * inside its fetch loop, `OraCdcLogMinerWorkerThread.java:906-913`; here
  * the stitcher's RocksDB state carries the open statement across
  * micro-batches and query restarts via the checkpoint).
  */
class StreamingCsfSpec extends AnyFunSuite with SharedSpark {

  /** LogMiner-style 40-char CSF chunking: every chunk but the last is
    * flagged CSF=1.
    */
  private def chunk40(sql: String): Seq[(Int, Int, String)] = {
    val parts = sql.grouped(40).toSeq
    parts.zipWithIndex.map { case (p, i) =>
      (i, if (i == parts.length - 1) 0 else 1, p)
    }
  }

  test("s4_csf's typed 40-char chunker equals the expression chunker") {
    // r17: the gate's chunker moved from
    // posexplode(transform(sequence(0, greatest(0, floor((len-1)/40))),
    //            i -> substring(sql, i*40+1, 40)))
    // to a typed flatMap (the expression tree was the gate's cold-JVM
    // Janino storm). Pin the two chunk-row sets equal on adversarial
    // lengths: empty, 1 char, exact multiples of 40, ±1 around them.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the non-BMP cases pin the code-point semantics: Spark SQL
    // substring counts code points, so a surrogate pair (🙂 = 2 UTF-16
    // units) lying across a naive 40-UTF-16-unit boundary must stay
    // whole in one chunk on both sides
    val cases = Seq("", "x", "a" * 39, "b" * 40, "c" * 41, "d" * 80,
      "e" * 81, "f" * 119, ("word " * 30).trim,
      "g" * 39 + "🙂" + "h" * 10,
      ("🙂" * 41) + "tail")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "sql_redo")
    val expRows = df.select(col("id"),
      posexplode(expr("transform(sequence(0, greatest(0, CAST(floor((length(sql_redo)-1)/40) AS INT)))," +
        " i -> substring(sql_redo, i*40+1, 40))")).as(Seq("seq", "part")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val typedRows = df.as[(Long, String)].flatMap { case (id, sql) =>
      val t = if (sql == null) "" else sql
      val cps = t.codePointCount(0, t.length)
      val n = math.max(1L, (cps + 39L) / 40L).toInt
      val out = new Array[(Long, Int, String)](n)
      var start = 0
      var i = 0
      while (i < n) {
        val end =
          if (i == n - 1) t.length else t.offsetByCodePoints(start, 40)
        out(i) = (id, i, t.substring(start, end))
        start = end
        i += 1
      }
      out.toSeq
    }.collect().toSet
    assert(typedRows === expRows)
  }

  test("statement split across a poll-window boundary reassembles and parses") {
    val url = "jdbc:derby:memory:csfpoll;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE APP.LMNR (
      WM BIGINT NOT NULL PRIMARY KEY,
      XID VARCHAR(16) NOT NULL,
      SCN BIGINT NOT NULL,
      SSN INT NOT NULL,
      SEQ INT NOT NULL,
      CSF INT NOT NULL,
      PART VARCHAR(40) NOT NULL)""")

    val insertSql = """insert into "G"."ORDERS"("O_ORDERKEY","O_CUSTKEY",""" +
      """"O_PRIO") values (42,7,'URGENT, (really)')"""
    val deleteSql = """delete from "G"."ORDERS" where "O_ORDERKEY" = 43"""
    val insChunks = chunk40(insertSql)
    assert(insChunks.length >= 3, "fixture must span several chunks")

    var wm = 0L
    def put(xid: String, scn: Long, ssn: Int, c: (Int, Int, String)): Unit = {
      wm += 1
      st.execute(s"INSERT INTO APP.LMNR VALUES ($wm, '$xid', $scn, $ssn, " +
        s"${c._1}, ${c._2}, '${c._3.replace("'", "''")}')")
    }

    val ckpt = SharedSpark.tempDir("csf_ckpt").toFile.getAbsolutePath
    def runOnce(): Seq[RedoRecord] = {
      import spark.implicits._
      val got = collection.mutable.ArrayBuffer[RedoRecord]()
      val chunks = spark.readStream.format("graft-jdbc-poll")
        .option("url", url)
        .option("table", "APP.LMNR")
        .option("wmColumn", "WM")
        .option("numPartitions", "2")
        .load()
        .select(col("XID").as("xid"), col("SCN").as("scn"),
          col("SSN").as("ssn"), col("SEQ").as("seq"),
          col("CSF").as("csf"), col("PART").as("part"))
        .as[CsfChunk]
      val q = CsfReassembly.redoRecordStream(chunks)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[RedoRecord], _: Long) =>
          got.synchronized { got ++= b.collect() }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(180000), "stream did not finish in time")
      got.toSeq
    }

    // poll window 1: only the FIRST TWO chunks of the insert statement
    // exist — the window boundary lands mid-statement
    insChunks.take(2).foreach(put("tx1", 100L, 0, _))
    val first = runOnce()
    assert(first.isEmpty,
      "incomplete statement must stay buffered, not emit")

    // poll window 2: the remaining chunks + an unrelated single-chunk
    // statement of the same transaction
    insChunks.drop(2).foreach(put("tx1", 100L, 0, _))
    chunk40(deleteSql).foreach(put("tx1", 101L, 0, _))
    val second = runOnce()

    assert(second.length === 2)
    val ins = second.find(_.op == Ops.Insert).get
    assert(ins.xid === "tx1" && ins.scn === 100L && ins.table === "G.ORDERS")
    assert(ins.after === Map("O_ORDERKEY" -> "42", "O_CUSTKEY" -> "7",
      "O_PRIO" -> "URGENT, (really)"))
    val del = second.find(_.op == Ops.Delete).get
    assert(del.scn === 101L && del.before === Map("O_ORDERKEY" -> "43"))
    conn.close()
  }

  test("out-of-order chunk arrival within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CsfChunk]
    val q = CsfReassembly.reassembleStream(input.toDS())
      .writeStream.format("memory").queryName("csf_ooo")
      .outputMode("append").start()

    // batch 1: terminal chunk FIRST (value-range splits read
    // concurrently, so a later wm can land first), seq 1 missing
    input.addData(CsfChunk("tx", 1L, 0, 2, 0, "C"),
      CsfChunk("tx", 1L, 0, 0, 1, "A"))
    q.processAllAvailable()
    assert(spark.table("csf_ooo").count() === 0,
      "missing middle chunk must hold emission")

    // batch 2: the missing middle chunk completes the statement
    input.addData(CsfChunk("tx", 1L, 0, 1, 1, "B"))
    q.processAllAvailable()
    val rows = spark.table("csf_ooo").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2),
      r.getString(3))).toSeq === Seq(("tx", 1L, 0, "ABC")))
    q.stop()
  }

  test("randomized fuzz: shuffled chunks, random batch slicing, duplicate redelivery") {
    // 40 statements over 6 xids with COLLIDING (scn, ssn) pairs across
    // xids (the statement key is the triple), chunk lengths 1-6; the
    // full chunk multiset is globally shuffled, sliced into random
    // micro-batches, and ~10% of chunks are REDELIVERED in a later
    // batch (a re-mined poll window). Expected: every statement emits
    // exactly once with its text in seq order — redelivered chunks of
    // an already-emitted statement may re-open state but must never
    // produce a SECOND emission unless the full statement is
    // redelivered (none is, here: we re-deliver strict subsets).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val stmts = (0 until 40).map { i =>
      val xid = s"x${i % 6}"
      val scn = 1000L + (i / 6) // colliding scns across xids
      val ssn = i % 3 // colliding ssns too: only the triple is unique
      val n = 1 + rnd.nextInt(6)
      val parts = (0 until n).map(j => s"s$i-c$j|")
      ((xid, scn, ssn), parts)
    }.toMap
    val allChunks = stmts.toSeq.flatMap { case ((xid, scn, ssn), parts) =>
      parts.zipWithIndex.map { case (p, j) =>
        CsfChunk(xid, scn, ssn, j, if (j == parts.length - 1) 0 else 1, p)
      }
    }
    val shuffled = rnd.shuffle(allChunks)
    // random slicing into 7 batches + subset redelivery appended late
    val batches = shuffled.grouped(math.max(1, shuffled.size / 7)).toSeq
    val redelivered = rnd.shuffle(allChunks).take(allChunks.size / 10)
      .filterNot(_.csf == 0) // strict subsets: never re-complete a statement
    val input = MemoryStream[CsfChunk]
    val q = CsfReassembly.reassembleStream(input.toDS())
      .writeStream.format("memory").queryName("csf_fuzz")
      .outputMode("append").start()
    (batches :+ redelivered).foreach { b =>
      if (b.nonEmpty) input.addData(b: _*)
      q.processAllAvailable()
    }
    val got = spark.table("csf_fuzz").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> r.getString(3))
      .toSeq
    assert(got.length === stmts.size, "exactly one emission per statement")
    assert(got.toMap === stmts.map { case (k, parts) => k -> parts.mkString },
      "every statement reassembles in seq order under shuffle+slicing")
    q.stop()
  }
}
