package graft.sinks

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.redo.RedoLogWriter
import graft.streaming.{ChangeStreams, Envelopes}

/** K1 delivery E2E: redo logs → streaming assembly → key/value envelope
  * → topic routing + partitioning → Kafka-contract sink; asserts topic
  * names, partition assignment, and per-partition delivery order.
  */
class KafkaContractSinkSpec extends AnyFunSuite with SharedSpark {

  test("defaultTopicColumn agrees with NameMappers.defaultTopic") {
    import spark.implicits._
    val tables = Seq("SCOTT.DEPT", "PDB1.HR.EMP$HIST", "1BAD.T-1", "A.B C.D")
    val got = tables.toDF("t")
      .select(KafkaContractSink.defaultTopicColumn(col("t"), prefix = "cdc").as("topic"))
      .as[String].collect().toSeq
    assert(got == tables.map(NameMappers.defaultTopic(_, prefix = "cdc")))
  }

  test("redo → assembly → envelope → contract files, ordered per partition") {
    val dir = SharedSpark.tempDir("k1_grl").toFile
    // two tables; txA spans both logs, txB commits in log 1
    val f1 = Seq(
      rr(1, "A", Ops.Insert, "G.ACCTS", Map("k" -> "1", "v" -> "a1")),
      rr(2, "B", Ops.Insert, "G.ORDERS", Map("k" -> "9", "v" -> "b1")),
      rr(3, "A", Ops.Insert, "G.ACCTS", Map("k" -> "2", "v" -> "a2")),
      rr(4, "B", Ops.Commit, ""))
    val f2 = Seq(
      rr(5, "A", Ops.Update, "G.ACCTS", Map("k" -> "1", "v" -> "a1v2")),
      rr(6, "A", Ops.Commit, ""))
    Seq((1, f1), (2, f2)).foreach { case (seq, recs) =>
      val w = new RedoLogWriter(new File(dir, s"log_$seq.grl"), 1024, seq = seq)
      recs.foreach(w.append)
      w.close()
    }

    val outDir = SharedSpark.tempDir("k1_topics").toFile.getAbsolutePath
    import spark.implicits._
    val records = spark.readStream.format("graft-redo")
      .option("maxFilesPerTrigger", 1)
      .load(dir.getAbsolutePath)
      .as[RedoRecord]
    val q = ChangeStreams.assembleStream(records)
      .toDF()
      .select(
        KafkaContractSink.defaultTopicColumn(col("table"), prefix = "cdc").as("topic"),
        element_at(col("after"), "k").as("key"),
        col("commitScn"), col("scn"),
        to_json(struct(col("op"), col("after"), col("commitScn"))).as("value"))
      .withColumn("partition", KafkaContractSink.keyHashPartition(col("key"), 4))
      .writeStream
      .option("checkpointLocation",
        SharedSpark.tempDir("k1_ckpt").toFile.getAbsolutePath)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        KafkaContractSink.writeBatch(df, outDir,
          orderCols = Seq("commitScn", "scn"), batchId = batchId)
        // a checkpoint replay of the same batch must not duplicate
        KafkaContractSink.writeBatch(df, outDir,
          orderCols = Seq("commitScn", "scn"), batchId = batchId)
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val dataFiles = new File(outDir).listFiles()
      .filterNot(_.getName.startsWith(".")) // skip markers + inprogress
    // batch-id-carrying runs write per-batch atomic segments,
    // name-sorted in batch order
    val files = dataFiles.map(_.getName).sorted.toSeq
    // topics routed per table with the sanitized cdc_ prefix
    assert(files.forall(f => f.startsWith("cdc_G_ACCTS-") || f.startsWith("cdc_G_ORDERS-")))
    // every committed change delivered exactly once
    val lines = dataFiles.sortBy(_.getName).flatMap { f =>
      scala.io.Source.fromFile(f).getLines().map(f.getName -> _).toList
    }.toSeq
    assert(lines.size == 4) // 3 from txA + 1 from txB; rollback-free
    // partition = hash(key) mod 4, recomputed independently
    val expectPart = Seq("1", "2", "9").map { k =>
      k -> spark.range(1).select(
        KafkaContractSink.keyHashPartition(lit(k), 4)).head().getInt(0)
    }.toMap
    lines.foreach { case (file, line) =>
      val key = line.split('\t')(0)
      assert(file.contains(s"-${expectPart(key)}.jsonl"), s"$key in $file")
    }
    // per-PARTITION commit order is non-decreasing across batch
    // segments concatenated in name (= batch) order — Kafka's
    // per-partition total order
    lines.groupBy(_._1.split("\\.jsonl")(0)).foreach { case (_, fl) =>
      val commits = fl.map(_._2.split('\t')(1))
        .map(v => ujsonField(v, "commitScn"))
      assert(commits == commits.sorted, s"out-of-order delivery: $commits")
    }
  }

  test("a checkpoint reset over a kept output dir redelivers instead of skipping") {
    import spark.implicits._
    val out = SharedSpark.tempDir("k1_reset").toFile.getAbsolutePath
    def batch(v: String) = Seq(("t", 0, "k1", v))
      .toDF("topic", "partition", "key", "value").withColumn("scn", lit(1L))
    // first stream incarnation writes batch 0
    KafkaContractSink.writeBatch(batch("old-run"), out, Seq("scn"), batchId = 0)
    // true replay of the SAME batch: skipped (fingerprint matches)
    KafkaContractSink.writeBatch(batch("old-run"), out, Seq("scn"), batchId = 0)
    // NEW incarnation (checkpoint reset): batchId 0 again but DIFFERENT
    // content — a bare batchId-keyed skip would silently lose it
    KafkaContractSink.writeBatch(batch("new-run"), out, Seq("scn"), batchId = 0)
    val seg = new File(out).listFiles()
      .filter(f => !f.getName.startsWith(".") && f.getName.startsWith("t-0"))
    assert(seg.length == 1)
    val content = scala.io.Source.fromFile(seg.head).getLines().toList
    assert(content == List("k1\tnew-run"))
  }

  test("a negative batchId is rejected by name, nothing is written") {
    import spark.implicits._
    val out = SharedSpark.tempDir("k1_neg").toFile
    val batch = Seq(("t", 0, "k1", "v")).toDF("topic", "partition", "key", "value")
      .withColumn("scn", lit(1L))
    val ex = intercept[IllegalArgumentException](
      KafkaContractSink.writeBatch(batch, out.getAbsolutePath, Seq("scn"), batchId = -1))
    assert(ex.getMessage.contains("batchId") && ex.getMessage.contains("-1"))
    assert(out.listFiles().isEmpty)
  }

  test("null key and null value (tombstone) encode instead of NPEing") {
    import spark.implicits._
    val out = SharedSpark.tempDir("k1_null").toFile.getAbsolutePath
    val batch = Seq(
      (Option("k1"), Option.empty[String]),  // tombstone
      (Option.empty[String], Option("v2"))   // keyless record
    ).toDF("key", "value")
      .withColumn("topic", lit("t")).withColumn("partition", lit(0))
      .withColumn("scn", monotonically_increasing_id())
    KafkaContractSink.writeBatch(batch, out, Seq("scn"), batchId = 0)
    val seg = new File(out).listFiles()
      .filter(f => !f.getName.startsWith(".")).head
    val lines = scala.io.Source.fromFile(seg, "UTF-8").getLines().toList
    val nul = KafkaContractSink.NullToken
    assert(lines.contains(s"k1\t$nul"))
    assert(lines.contains(s"$nul\tv2"))
  }

  private def ujsonField(json: String, field: String): Long = {
    val m = java.util.regex.Pattern.compile("\"" + field + "\":(\\d+)").matcher(json)
    assert(m.find(), s"no $field in $json")
    m.group(1).toLong
  }

  private def rr(scn: Long, xid: String, op: Int, table: String,
      after: Map[String, String] = Map.empty): RedoRecord =
    RedoRecord(scn, 0, xid, op,
      if (op == Ops.Commit || op == Ops.Rollback) "" else table,
      s"r$scn", rollback = false, scn, Map.empty, after)
}
