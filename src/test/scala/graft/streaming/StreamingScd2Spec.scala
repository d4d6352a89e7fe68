package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.operators.{CdcQueries, IncrementalAgg}
import graft.redo.RedoLogWriter

/** CDC composed with DIMENSION maintenance (§2.31's streaming form):
  * binary GRL1 redo → transactional assembly → the committed INSERT
  * stream of a dimension-change feed → per micro-batch,
  * `IncrementalAgg.scd2ApplyFrames` applies the batch to the STORED
  * SCD2 dimension (the lakehouse MERGE a warehouse runs continuously
  * instead of nightly).
  *
  * What only this composition can check:
  *  - a rolled-back transaction's changes never version the dimension;
  *  - a transaction spanning redo logs versions only at its commit —
  *    and the kept history (valid_from/valid_to chains) is identical
  *    to a FROM-SCRATCH rebuild over all committed changes, proving
  *    per-batch apply ≡ rebuild through the real wire format;
  *  - mid-stream, the dimension serves a consistent point-in-time
  *    state (only commits so far, fully chained).
  */
class StreamingScd2Spec extends AnyFunSuite with SharedSpark {

  private def ins(scn: Long, xid: String, k: Long, id: Long, cents: Long,
      day: Int): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Insert, "G.DIM", s"r$id", rollback = false,
      scn, Map.empty,
      Map("k" -> k.toString, "id" -> id.toString, "cents" -> cents.toString,
        "ts" -> f"2024-02-$day%02d"))

  private def ctl(scn: Long, xid: String, op: Int): RedoRecord =
    RedoRecord(scn, 0, xid, op, "", "", rollback = false, scn,
      Map.empty, Map.empty)

  private def decode(df: DataFrame): DataFrame = df
    .filter(col("table") === "G.DIM" && col("op") === Ops.Insert)
    .select(
      element_at(col("after"), "k").cast("long").as("k"),
      element_at(col("after"), "id").cast("long").as("o_orderkey"),
      element_at(col("after"), "cents").cast("long").as("cents"),
      element_at(col("after"), "ts").cast("timestamp_ntz").as("ts"))

  test("redo → assembly → per-batch SCD2 apply equals the from-scratch " +
      "rebuild; rollbacks and spanning commits respected") {
    import spark.implicits._
    // log 1: txn A versions key 1 twice and key 2 once, commits.
    //        txn S starts (key 1, day 5) but commits only in log 2.
    // log 2: txn S commits; txn R (key 3 — would CREATE the key) rolls
    //        back, so key 3 must never exist in the dimension.
    val log1 = Seq(
      ins(1, "A", 1, 101, 1000, 1), ins(2, "A", 1, 102, 1100, 2),
      ins(3, "A", 2, 201, 2000, 1), ctl(4, "A", Ops.Commit),
      ins(5, "S", 1, 103, 1200, 5))
    val log2 = Seq(
      ctl(6, "S", Ops.Commit),
      ins(7, "R", 3, 301, 3000, 3), ctl(8, "R", Ops.Rollback))

    val redoDir = SharedSpark.tempDir("scd2_grl").toFile
    def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
      val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
      recs.foreach(w.append)
      w.close()
    }
    // the stored dimension starts EMPTY (schema via an empty apply)
    val dimDir = SharedSpark.tempDir("scd2_dim").toString
    val empty = decode(Seq.empty[(String, Int, Map[String, String])]
      .toDF("table", "op", "after")
      .withColumn("op", lit(Ops.Insert)))
    CdcQueries.scd2(empty, "k", "ts", "o_orderkey")
      .select(col("k"), col("o_orderkey"), col("cents"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .write.mode("overwrite").parquet(dimDir)

    val ckpt = SharedSpark.tempDir("scd2_ckpt").toFile.getAbsolutePath
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
          val batch = decode(df).localCheckpoint(true)
          if (batch.count() > 0) {
            val stored = spark.read.parquet(dimDir)
            val tmp = dimDir + graft.Tables.tmpSuffix()
            IncrementalAgg.scd2ApplyFrames(stored, batch)
              .write.mode("overwrite").parquet(tmp)
            graft.Tables.publishDir(tmp, dimDir)
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
    }

    def dim(): Set[(Long, Long, Long, Boolean)] =
      spark.read.parquet(dimDir)
        .select(col("k"), col("o_orderkey"), col("cents"), col("is_current"))
        .as[(Long, Long, Long, Boolean)].collect().toSet

    // —— log 1 only: txn A versioned; S pending
    writeLog(1, log1)
    runStream()
    val mid = dim()
    assert(mid == Set((1L, 101L, 1000L, false), (1L, 102L, 1100L, true),
      (2L, 201L, 2000L, true)),
      s"mid-stream dimension wrong: $mid — txn A only, key-1 chain closed")

    // —— log 2: S commits (its key-1 change supersedes 102), R rolls back
    writeLog(2, log2)
    runStream()
    val fin = dim()
    assert(!fin.exists(_._1 == 3L), "rolled-back key 3 must not exist")
    assert(fin.count(r => r._1 == 1L && r._4) == 1 &&
      fin.exists(r => r._2 == 103L && r._4),
      s"spanning txn S's change must be key 1's current row: $fin")

    // —— the maintained dimension equals the from-scratch rebuild over
    // ALL committed changes (full chains, not just the current flags)
    val committed = Seq((1L, 101L, 1000L, "2024-02-01"),
      (1L, 102L, 1100L, "2024-02-02"), (2L, 201L, 2000L, "2024-02-01"),
      (1L, 103L, 1200L, "2024-02-05"))
      .toDF("k", "o_orderkey", "cents", "ts0")
      .withColumn("ts", col("ts0").cast("timestamp_ntz")).drop("ts0")
    val rebuild = CdcQueries.scd2(committed, "k", "ts", "o_orderkey")
      .select(col("k"), col("o_orderkey"), col("cents"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect().map(_.toSeq).toSet
    val maintained = spark.read.parquet(dimDir)
      .select(col("k"), col("o_orderkey"), col("cents"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect().map(_.toSeq).toSet
    assert(maintained == rebuild,
      s"apply ≠ rebuild: only-maintained=${maintained -- rebuild} " +
        s"only-rebuild=${rebuild -- maintained}")
  }
}
