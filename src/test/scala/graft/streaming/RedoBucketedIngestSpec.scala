package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.operators.{BucketedLayout, Compaction}
import graft.redo.RedoLogWriter

/** The CDC half composed with the bucketed star layout (§2.56), the way
  * `RedoCurationE2ESpec` composed it with dedup: binary GRL1 redo →
  * transactional assembly → the committed INSERT streams of an ORDERS
  * and a LINEITEM table → `BucketedLayout.appendBatch` per micro-batch
  * into stream-owned co-bucketed facts.
  *
  * What only this composition can check:
  *  - the q3-shaped orderkey join plans with ZERO exchange MID-STREAM —
  *    between micro-batches of a growing CDC-fed layout, not just after
  *    a one-time layout write;
  *  - rows of a ROLLED-BACK transaction never reach the lakehouse
  *    tables (CDC semantics gate the storage layout);
  *  - a transaction SPANNING redo logs lands only with its commit;
  *  - maintenance runs INSIDE the ingest loop via the
  *    `bucketedFileFactor` trigger (`BucketedLayout.appendMaintained`,
  *    §2.21 × §2.56) — not an explicit out-of-band call — and the
  *    trigger-compacted table keeps content, a bounded file count AND
  *    the exchange-free property across micro-batches;
  *  - deterministic replay: fresh tables + checkpoint over the same
  *    logs reproduce the identical table content.
  */
class RedoBucketedIngestSpec extends AnyFunSuite with SharedSpark {

  private def ins(scn: Long, xid: String, table: String,
      cols: Map[String, String]): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Insert, table, s"r$scn", rollback = false,
      scn, Map.empty, cols)

  private def ctl(scn: Long, xid: String, op: Int): RedoRecord =
    RedoRecord(scn, 0, xid, op, "", "", rollback = false, scn,
      Map.empty, Map.empty)

  private def ord(scn: Long, xid: String, ok: Long, ck: Long): RedoRecord =
    ins(scn, xid, "G.ORDERS",
      Map("o_orderkey" -> ok.toString, "o_custkey" -> ck.toString))

  private def li(scn: Long, xid: String, ok: Long, qty: Long): RedoRecord =
    ins(scn, xid, "G.LINEITEM",
      Map("l_orderkey" -> ok.toString, "l_qty" -> qty.toString))

  /** The q3-shaped fact-fact join over the two stream tables. */
  private def starJoin(oT: String, lT: String): DataFrame =
    spark.table(oT)
      .join(spark.table(lT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(sum(col("l_qty")).as("qty"))

  /** Assert the join plans with zero orderkey exchange under forced
    * sort-merge (no broadcast escape hatch) and uses the bucketed scan.
    */
  private def assertExchangeFree(df: DataFrame, when: String): Unit =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning\\((?:o_orderkey|l_orderkey)#\\d+L?, \\d+\\)".r
        .findAllIn(plan).isEmpty, s"$when: orderkey exchange appeared:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"$when: join did not use the bucketed scan:\n$plan")
    }

  test("redo → assembly → bucketed appends: exchange-free mid-stream, " +
      "through compaction, deterministic on replay") {
    import spark.implicits._

    // log 1: txn A inserts order 10 + 2 lines, commits. txn S starts
    //        (order 20 + a line) but does NOT commit yet.
    // log 2: txn S's last line + commit (spans logs 1→2);
    //        txn R inserts order 30 + a line, ROLLS BACK.
    val log1 = Seq(
      ord(1, "A", 10, 100), li(2, "A", 10, 5), li(3, "A", 10, 7),
      ctl(4, "A", Ops.Commit),
      ord(5, "S", 20, 200), li(6, "S", 20, 11))
    val log2 = Seq(
      li(7, "S", 20, 13), ctl(8, "S", Ops.Commit),
      ord(9, "R", 30, 300), li(10, "R", 30, 17),
      ctl(11, "R", Ops.Rollback))

    // expected final content: txns A and S only
    val expected = Set((10L, 100L, 12L), (20L, 200L, 24L))

    def runPipeline(tag: String): Set[(Long, Long, Long)] = {
      val redoDir = SharedSpark.tempDir(s"redo_bkt_grl_$tag").toFile
      def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
        val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
        recs.foreach(w.append)
        w.close()
      }
      val loc = SharedSpark.tempDir(s"redo_bkt_tbl_$tag").toString
      val oT = s"grf_spec_redo_orders_$tag"
      val lT = s"grf_spec_redo_lineitem_$tag"
      spark.sql(s"DROP TABLE IF EXISTS $oT")
      spark.sql(s"DROP TABLE IF EXISTS $lT")
      import org.apache.spark.sql.types._
      BucketedLayout.streamTable(spark, oT, s"$loc/orders",
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType))), "o_orderkey")
      BucketedLayout.streamTable(spark, lT, s"$loc/lineitem",
        StructType(Seq(StructField("l_orderkey", LongType),
          StructField("l_qty", LongType))), "l_orderkey")

      val ckpt = SharedSpark.tempDir(s"redo_bkt_ckpt_$tag")
        .toFile.getAbsolutePath
      // maintenance threshold: compact once a table fragments past 2
      // files (2/Buckets files per bucket) — production would run the
      // default 8.0 files/bucket; the tiny spec batches need a low bar
      // for the trigger to demonstrably fire mid-stream
      val trigFactor = 2.0 / BucketedLayout.Buckets
      val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
      def runStream(): Unit = {
        val records = spark.readStream.format("graft-redo")
          .option("maxFilesPerTrigger", 1)
          .load(redoDir.getAbsolutePath)
          .as[RedoRecord]
        val q = ChangeStreams.assembleStream(records)
          .toDF()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            // committed INSERT streams, routed per table into the
            // co-bucketed facts — the lakehouse ingest a CDC pipeline
            // runs instead of a Kafka sink
            val committed = df.filter(col("op") === Ops.Insert)
            // appendMaintained = append + the bucketedFileFactor
            // trigger checked per micro-batch — the production ingest
            // loop's default shape; compaction happens HERE when the
            // table fragments, never as an out-of-band call
            if (BucketedLayout.appendMaintained(spark, oT, "o_orderkey",
              committed.filter(col("table") === "G.ORDERS").select(
                element_at(col("after"), "o_orderkey").cast("long")
                  .as("o_orderkey"),
                element_at(col("after"), "o_custkey").cast("long")
                  .as("o_custkey")), trigFactor))
              compactions.incrementAndGet()
            if (BucketedLayout.appendMaintained(spark, lT, "l_orderkey",
              committed.filter(col("table") === "G.LINEITEM").select(
                element_at(col("after"), "l_orderkey").cast("long")
                  .as("l_orderkey"),
                element_at(col("after"), "l_qty").cast("long").as("l_qty")),
              trigFactor))
              compactions.incrementAndGet()
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(300000), "stream did not finish within 300s")
      }

      // —— mid-stream: only log 1 exists; txn A landed, txn S pending
      writeLog(1, log1)
      runStream()
      val mid = starJoin(oT, lT)
      assertExchangeFree(mid, s"$tag mid-stream")
      val midRows = mid.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(midRows == Set((10L, 100L, 12L)),
        s"$tag mid-stream: $midRows — txn A only (S uncommitted)")

      // —— log 2 arrives: S commits (spanning), R rolls back
      writeLog(2, log2)
      runStream()
      val full = starJoin(oT, lT)
      assertExchangeFree(full, s"$tag post-stream")
      val rows = full.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == expected,
        s"$tag post-stream: $rows — spanning txn S must land, rolled-back " +
          "txn R must not")

      // —— maintenance happened INSIDE the loop: the trigger fired at
      // least once, and the file count is bounded by the threshold
      // (post-compaction ≤ one file per touched bucket) instead of
      // growing with the number of micro-batches
      assert(compactions.get() >= 1,
        s"$tag: the bucketedFileFactor trigger never fired " +
          s"(threshold $trigFactor)")
      def files(sub: String): Int =
        new File(s"$loc/$sub").listFiles().count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val bound = math.max(2, (trigFactor * BucketedLayout.Buckets).toInt)
      assert(files("orders") <= bound && files("lineitem") <= bound,
        s"$tag: file counts unbounded after trigger-driven maintenance: " +
          s"orders=${files("orders")} lineitem=${files("lineitem")}")
      assert(Compaction.bucketedFileFactor(spark, oT) <= trigFactor &&
        Compaction.bucketedFileFactor(spark, lT) <= trigFactor,
        s"$tag: factor above threshold after in-loop compaction")
      rows
    }

    val run1 = runPipeline("a")
    assert(run1 == expected)
    // deterministic replay: fresh logs, tables and checkpoint
    val run2 = runPipeline("b")
    assert(run2 == run1, s"replay diverged: $run2 != $run1")
  }
}
