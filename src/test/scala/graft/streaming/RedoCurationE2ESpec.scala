package graft.streaming

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.operators.{DedupQueries, PipelineQueries}
import graft.redo.RedoLogWriter
import graft.functions.TextFunctions.shingleHashes

/** The engine's thesis composed literally (r11): oracdc semantics AND
  * the training-data pipeline in ONE stream. Binary GRL1 redo logs →
  * the `graft-redo` DSv2 micro-batch source → transactional assembly
  * (commit/rollback resolution across micro-batches) → the committed
  * INSERT stream of a DOCUMENTS table → per micro-batch, `pipe_incr`
  * admission against the PERSISTED curated-base artifacts (digest
  * store + band index; appending the survivors IS the index update).
  *
  * What only this composition can check:
  *  - a document in a ROLLED-BACK transaction never reaches admission,
  *    even though its text is novel (CDC semantics gate the pipeline);
  *  - a transaction SPANNING redo logs is admitted only when its
  *    commit arrives (batch N+1), not when its rows do (batch N);
  *  - the admitted manifest equals the batch `pipe_incr` gate over the
  *    base + the COMMITTED deltas — the stream and the batch engine
  *    state one semantics;
  *  - deterministic replay: tearing everything down and re-running the
  *    same logs yields the identical admitted sequence.
  */
class RedoCurationE2ESpec extends AnyFunSuite with SharedSpark {

  private def ins(scn: Long, xid: String, id: Long, text: String): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Insert, "G.DOCS", s"r$id", rollback = false,
      scn, Map.empty,
      Map("doc_id" -> id.toString, "source" -> "src0", "text" -> text))

  private def ctl(scn: Long, xid: String, op: Int): RedoRecord =
    RedoRecord(scn, 0, xid, op, "", "", rollback = false, scn,
      Map.empty, Map.empty)

  test("redo → assembly → streaming curation admission, rollback- and span-aware") {
    import spark.implicits._
    val a = "the data keeps the value fast and the group holds the table " +
      "well so the batch moves fast while the line ends today now"
    val b = "the rows merge under the index while a scan reads the heap " +
      "and a cost model picks the fast path for the small probe today"
    val novel1 = "today the path under cost and the heap picks a model " +
      "while the scan reads rows for the fast merge index a small probe the"
    val novel2 = "now the table holds the value and the group keeps the " +
      "batch while fast data moves the line so fast well today ends the"
    val novel3 = "value lines group the fast table so now the data holds " +
      "the batch and keeps it well while the ends move fast today the the"
    // base corpus (even ids) — already curated, artifacts persisted at
    // ingest time like a production base
    val baseDocs = Seq((2L, a), (4L, b))
    // deltas arriving through redo: 3 = exact copy of base a (digest
    // reject), 5 = novel (admit), 7 = copy of ADMITTED 5 (digest
    // reject), 9 = near-dup of base b (probe reject), 11 = novel in a
    // txn spanning two logs (admit, only after its commit), 15 = novel
    // but its txn ROLLS BACK (must never reach admission)
    val committedDeltas =
      Seq((3L, a), (5L, novel1), (7L, novel1), (9L, b + " plus two extras"),
        (11L, novel2))

    // GRL1 logs, one per micro-batch: txn S (doc 11) spans logs 2→3;
    // txn R (doc 15) rolls back in log 3
    val logs = Seq(
      Seq(ins(1, "D1", 3, a), ins(2, "D1", 5, novel1), ctl(3, "D1", Ops.Commit)),
      Seq(ins(4, "D2", 7, novel1), ins(5, "D2", 9, b + " plus two extras"),
        ctl(6, "D2", Ops.Commit), ins(7, "S", 11, novel2),
        ins(8, "R", 15, novel3)),
      Seq(ctl(9, "S", Ops.Commit), ctl(10, "R", Ops.Rollback)))

    def runPipeline(): Seq[Long] = {
      val redoDir = SharedSpark.tempDir("redo_cur_grl").toFile
      logs.zipWithIndex.foreach { case (recs, i) =>
        val w = new RedoLogWriter(new File(redoDir, s"log_${i + 1}.grl"),
          1024, seq = i + 1)
        recs.foreach(w.append)
        w.close()
      }
      // ingest-time base artifacts (the ensureCuratedBase layout's
      // digest + index halves, built from the base corpus)
      val bench = Array.empty[Long]
      val base = PipelineQueries.stage16Of(
        baseDocs.toDF("doc_id", "text").withColumn("source", lit("src0")),
        bench)
      val idxDir = SharedSpark.tempDir("redo_cur_idx").toString
      val digDir = SharedSpark.tempDir("redo_cur_dig").toString
      DedupQueries.saveBandIndex(
        base.select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs")),
        idxDir)
      base.select(col("digest")).write.mode("overwrite").parquet(digDir)

      val admitted = scala.collection.mutable.ArrayBuffer[Long]()
      val records = spark.readStream.format("graft-redo")
        .option("maxFilesPerTrigger", 1)
        .load(redoDir.getAbsolutePath)
        .as[RedoRecord]
      val q = ChangeStreams.assembleStream(records)
        .toDF()
        .writeStream
        .option("checkpointLocation",
          SharedSpark.tempDir("redo_cur_ckpt").toFile.getAbsolutePath)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          // the committed INSERT stream of the DOCUMENTS table — only
          // what transaction assembly EMITTED (rolled-back txns never
          // appear; spanning txns appear in their commit's batch)
          val docs = df
            .filter(col("table") === "G.DOCS" && col("op") === Ops.Insert)
            .select(
              element_at(col("after"), "doc_id").cast("long").as("doc_id"),
              element_at(col("after"), "source").as("source"),
              element_at(col("after"), "text").as("text"))
          val filtered = PipelineQueries.stage16Of(docs, bench)
            .localCheckpoint(true)
          val known = spark.read.parquet(digDir)
          val fresh = filtered.join(known,
            filtered("digest") === known("digest"), "left_anti")
          val (bands, sets) = DedupQueries.loadBandIndex(spark, idxDir)
          val freshHashes = fresh
            .select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs"))
            .localCheckpoint(true)
          // one unified probe: vs the persisted index AND within-batch
          val drops = DedupQueries.batchAdmissionDrops(bands, sets, freshHashes)
          val adm = freshHashes.join(drops,
              freshHashes("doc_id") === drops("vid"), "left_anti")
            .localCheckpoint(true)
          DedupQueries.lshBands(adm).write.mode("append").parquet(s"$idxDir/bands")
          adm.select(col("doc_id"),
              graft.functions.TextHashExpressions
                .sorted_distinct_longs(col("hs")).as("hs"))
            .write.mode("append").parquet(s"$idxDir/sets")
          fresh.join(adm.select(col("doc_id")), "doc_id")
            .select(col("digest")).write.mode("append").parquet(digDir)
          admitted ++= adm.select(col("doc_id")).as[Long].collect().sorted
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
      admitted.toSeq
    }

    val run1 = runPipeline()
    assert(run1 == Seq(5L, 11L),
      s"admitted sequence $run1: expected doc 5 (batch 1) then doc 11 " +
        "(batch 3, after its spanning txn committed); rollback doc 15 and " +
        "dup docs 3/7/9 must not appear")

    // the stream equals the batch gate over base + COMMITTED deltas
    val fx = SharedSpark.tempDir("redo_cur_fx").toString
    (baseDocs ++ committedDeltas).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$fx/documents.parquet")
    val truth = PipelineQueries.queries("pipe_incr")(spark, fx)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(truth == run1.toSet,
      s"streaming admission ${run1.toSet} != batch pipe_incr $truth")

    // deterministic replay: fresh logs/artifacts/checkpoint, same answer
    val run2 = runPipeline()
    assert(run2 == run1, s"replay diverged: $run2 != $run1")
  }

  test("mid-stream restart from checkpoint: offsets, txn state and the " +
      "admission store all resume exactly-once") {
    import spark.implicits._
    val novel1 = "today the path under cost and the heap picks a model " +
      "while the scan reads rows for the fast merge index a small probe the"
    val novel2 = "now the table holds the value and the group keeps the " +
      "batch while fast data moves the line so fast well today ends the"
    val novel3 = "value lines group the fast table so now the data holds " +
      "the batch and keeps it well while the ends move fast today the the"
    // same shape as the main test, but the stream is STOPPED after the
    // first two logs and restarted from the SAME checkpoint once the
    // third arrives. What only the restart can check: (a) recovered
    // offsets skip the already-processed logs (no re-admission of doc
    // 5 — it would violate exactly-once at the manifest), (b) txn S's
    // rows from log 2 are restored from the checkpointed state store
    // so its log-3 commit still emits doc 11, (c) txn R's restored
    // rows are discarded by its log-3 rollback.
    val redoDir = SharedSpark.tempDir("redo_rst_grl").toFile
    def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
      val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
      recs.foreach(w.append)
      w.close()
    }
    writeLog(1, Seq(ins(1, "D1", 5, novel1), ctl(2, "D1", Ops.Commit)))
    writeLog(2, Seq(ins(3, "S", 11, novel2), ins(4, "R", 15, novel3)))

    val idxDir = SharedSpark.tempDir("redo_rst_idx").toString
    val digDir = SharedSpark.tempDir("redo_rst_dig").toString
    // empty curated base: digests dir seeded with an empty frame of the
    // right schema, band index built from zero docs
    val bench = Array.empty[Long]
    val empty = PipelineQueries.stage16Of(
      Seq.empty[(Long, String)].toDF("doc_id", "text")
        .withColumn("source", lit("src0")), bench)
    DedupQueries.saveBandIndex(
      empty.select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs")),
      idxDir)
    empty.select(col("digest")).write.mode("overwrite").parquet(digDir)

    val ckpt = SharedSpark.tempDir("redo_rst_ckpt").toFile.getAbsolutePath
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val records = spark.readStream.format("graft-redo")
        .option("maxFilesPerTrigger", 1)
        .load(redoDir.getAbsolutePath)
        .as[RedoRecord]
      val q = ChangeStreams.assembleStream(records)
        .toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val docs = df
            .filter(col("table") === "G.DOCS" && col("op") === Ops.Insert)
            .select(
              element_at(col("after"), "doc_id").cast("long").as("doc_id"),
              element_at(col("after"), "source").as("source"),
              element_at(col("after"), "text").as("text"))
          val filtered = PipelineQueries.stage16Of(docs, bench)
            .localCheckpoint(true)
          val known = spark.read.parquet(digDir)
          val fresh = filtered.join(known,
            filtered("digest") === known("digest"), "left_anti")
          val (bands, sets) = DedupQueries.loadBandIndex(spark, idxDir)
          val freshHashes = fresh
            .select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs"))
            .localCheckpoint(true)
          val drops = DedupQueries.batchAdmissionDrops(bands, sets, freshHashes)
          val adm = freshHashes.join(drops,
              freshHashes("doc_id") === drops("vid"), "left_anti")
            .localCheckpoint(true)
          DedupQueries.lshBands(adm).write.mode("append").parquet(s"$idxDir/bands")
          adm.select(col("doc_id"),
              graft.functions.TextHashExpressions
                .sorted_distinct_longs(col("hs")).as("hs"))
            .write.mode("append").parquet(s"$idxDir/sets")
          fresh.join(adm.select(col("doc_id")), "doc_id")
            .select(col("digest")).write.mode("append").parquet(digDir)
          admitted ++= adm.select(col("doc_id")).as[Long].collect().sorted
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
    }

    runOnce() // processes logs 1-2: admits 5; S and R still pending
    assert(admitted.toSeq == Seq(5L),
      s"before restart: $admitted — doc 5 only (S/R uncommitted)")
    writeLog(3, Seq(ctl(5, "S", Ops.Commit), ctl(6, "R", Ops.Rollback)))
    runOnce() // restart from the SAME checkpoint: only log 3 is new
    assert(admitted.toSeq == Seq(5L, 11L),
      s"after restart: $admitted — doc 11 exactly once (spanning txn " +
        "state recovered across restart), doc 5 NOT re-admitted, " +
        "rolled-back doc 15 absent")
  }
}
