package graft.streaming

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.cdc.TransactionAssembler.LobRef
import graft.codec.OraVector
import graft.operators.SimilarityQueries
import graft.redo.RedoLogWriter

/** The embedding twin of `RedoCurationE2ESpec` — the engine's OTHER
  * thesis composition: CDC feeds the similarity corpus. Binary GRL1
  * redo whose INSERTs carry 23ai VECTOR columns (F10 wire format,
  * `codec/OraVector.scala`) as out-of-row LOBs — the reference routes
  * VECTOR through LOB assembly (`OraCdcColumn.java:525-552` sets
  * FLG_LARGE_OBJECT; `data/OraVector.java:43-72`), so each vector
  * arrives as T8 chunk records — → the `graft-redo` DSv2 source →
  * transactional assembly → the committed INSERT stream → wire decode
  * → near-dup probe of the PERSISTED IVF-PQ index → exactly-once code
  * row appends ([[SimilarityQueries.appendIndexDelta]], appending IS
  * the index update) → serving probes from the UPDATED artifact.
  *
  * What only this composition can check:
  *  - a vector in a ROLLED-BACK transaction never reaches the index,
  *    even though it is genuinely novel (CDC semantics gate the ANN
  *    corpus);
  *  - a vector whose LOB CHUNKS and commit span redo logs — and a
  *    QUERY RESTART — lands only with its commit, assembled from chunk
  *    state recovered off the checkpoint (T8 across a restart);
  *  - restart = exactly-once: the already-indexed vectors are not
  *    re-appended (code-row count is exact);
  *  - a committed arrival that near-duplicates the existing corpus is
  *    dropped by the probe (the StreamingAnnSpec admission rule,
  *    upstream of the index write);
  *  - the updated artifact SERVES: a probe finds a just-ingested
  *    vector from the persisted index;
  *  - deterministic replay: fresh logs/artifacts/checkpoint, same
  *    final index.
  */
class RedoAnnE2ESpec extends AnyFunSuite with SharedSpark {

  private def ctl(scn: Long, xid: String, op: Int): RedoRecord =
    RedoRecord(scn, 0, xid, op, "", "", rollback = false, scn,
      Map.empty, Map.empty)

  private def ins(scn: Long, xid: String, id: Long, lobId: String): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Insert, "G.EMB", s"r$id", rollback = false,
      scn, Map.empty,
      Map("vec_id" -> id.toString, "emb" -> s"$LobRef$lobId"))

  private def chunk(scn: Long, xid: String, lobId: String, seq: Int,
      data: String): RedoRecord =
    RedoRecord(scn, seq, xid, Ops.LobChunk, "G.EMB", "", rollback = false,
      scn, Map.empty,
      Map("lobId" -> lobId, "seq" -> seq.toString, "data" -> data))

  /** The F10 wire bytes of a float32 vector, hex-armored and cut into
    * `parts` LOB chunk records — how a 64-dim VECTOR rides the redo.
    */
  private def vecChunks(scn0: Long, xid: String, lobId: String,
      v: Array[Float], parts: Int): Seq[RedoRecord] = {
    val hex = OraVector.encodeFloats(v).map("%02x".format(_)).mkString
    val step = (hex.length + parts - 1) / parts
    hex.grouped(step).zipWithIndex.map { case (piece, i) =>
      chunk(scn0 + i, xid, lobId, i, piece)
    }.toSeq
  }

  test("redo VECTOR columns through LOB assembly feed the persisted " +
      "IVF-PQ index: rollback-isolated, restart-exact, replay-deterministic") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // real fixture vectors: evens = the already-indexed corpus; the
    // arrivals 1/3/5/7 are odd fixture vectors (novel by construction —
    // the odd half holds no cos >= 0.999 pair against the evens);
    // 10001 re-ships corpus vector 0's exact embedding under a new id
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(0L, 1L, 3L, 5L, 7L))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    def logRecords: (Seq[RedoRecord], Seq[RedoRecord], Seq[RedoRecord]) = {
      val l1 = vecChunks(1, "A", "a1", emb(1L), 3) ++ Seq(ins(4, "A", 1, "a1")) ++
        vecChunks(5, "A", "a3", emb(3L), 3) ++ Seq(ins(8, "A", 3, "a3")) ++
        vecChunks(9, "A", "adup", emb(0L), 2) ++
        Seq(ins(11, "A", 10001, "adup"), ctl(12, "A", Ops.Commit))
      // txn S: two of three chunks only — the third, the INSERT and the
      // commit arrive in log 3, AFTER a restart; txn R is complete but
      // rolls back in log 3
      val l2 = vecChunks(13, "S", "s5", emb(5L), 3).take(2) ++
        vecChunks(20, "R", "r7", emb(7L), 3) ++ Seq(ins(23, "R", 7, "r7"))
      val l3 = vecChunks(13, "S", "s5", emb(5L), 3).drop(2) ++
        Seq(ins(24, "S", 5, "s5"), ctl(25, "S", Ops.Commit),
          ctl(26, "R", Ops.Rollback))
      (l1, l2, l3)
    }

    def runPipeline(tag: String): (Set[Long], Long, Double) = {
      val (l1, l2, l3) = logRecords
      val redoDir = SharedSpark.tempDir(s"redo_ann_grl_$tag").toFile
      def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
        val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
        recs.foreach(w.append)
        w.close()
      }
      // ingest-time base: train on the even half, persist codebooks +
      // code rows + the corpus store (the ensureRrfIndex lifecycle)
      val e = SimilarityQueries.quantized(spark, dir)
      val corpus0 = e.filter(col("vec_id") % 2 === 0)
      val idxDir = SharedSpark.tempDir(s"redo_ann_idx_$tag").toString
      val corpDir = SharedSpark.tempDir(s"redo_ann_corp_$tag").toString
      val index = SimilarityQueries.trainIvfPq(spark, corpus0, 8,
        col("vec_id") % 50 === 0 && col("vec_id") < 800)
      SimilarityQueries.saveIvfPqIndex(spark, index,
        corpus0.select(col("vec_id"), col("q")), idxDir)
      corpus0.write.mode("overwrite").parquet(corpDir)
      val nCorpus0 = corpus0.count()

      val ckpt = SharedSpark.tempDir(s"redo_ann_ckpt_$tag")
        .toFile.getAbsolutePath
      def runStream(): Unit = {
        val records = spark.readStream.format("graft-redo")
          .option("maxFilesPerTrigger", 1)
          .load(redoDir.getAbsolutePath)
          .as[RedoRecord]
        val q = ChangeStreams.assembleStream(records)
          .toDF()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            // committed INSERTs only; the emb column is the assembled
            // LOB — hex-armored F10 wire bytes — decoded and quantized
            // into the integer domain the index serves
            import graft.functions.OracleFunctions.oravector_decode
            import graft.functions.VectorFunctions.{normQ2, quantize}
            val batch = df
              .filter(col("table") === "G.EMB" && col("op") === Ops.Insert)
              .select(
                element_at(col("after"), "vec_id").cast("long").as("vec_id"),
                oravector_decode(unhex(element_at(col("after"), "emb")))
                  .as("embedding"))
              .select(col("vec_id"), quantize(col("embedding")).as("q"))
              .withColumn("n2", normQ2(col("q")))
              .localCheckpoint(true)
            val (idx, codes) = SimilarityQueries.loadIvfPqIndex(spark, idxDir)
            val corp = spark.read.parquet(corpDir)
            // admission: near-identical existing vectors drop upstream
            // of the index write (the StreamingAnnSpec rule)
            val nearDup = SimilarityQueries
              .ivfPqSearchPrecoded(idx, corp, codes, batch, nprobe = 4)
              .filter(col("rn") === 1 && col("cos") >= 0.999)
              .select(col("qid")).distinct()
            val keep = batch.join(broadcast(nearDup),
              batch("vec_id") === nearDup("qid"), "left_anti")
              .localCheckpoint(true)
            SimilarityQueries.appendIndexDelta(spark, idx, idxDir, corpDir,
              keep)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(300000), "stream did not finish within 300s")
      }
      def codeIds(): Set[Long] = spark.read.parquet(s"$idxDir/codes")
        .select(col("vec_id")).as[Long].collect().toSet

      // —— logs 1-2, then the stream stops: txn A landed (dup screened
      // out), S missing its third chunk + commit, R pending
      writeLog(1, l1)
      writeLog(2, l2)
      runStream()
      val mid = codeIds()
      assert(mid.intersect(Set(1L, 3L, 5L, 7L, 10001L)) == Set(1L, 3L),
        s"$tag mid-stream: ${mid -- (0L until 1000L by 2L)} — txn A's novel " +
          "vectors only (dup 10001 probe-dropped; S/R uncommitted)")
      assert(spark.read.parquet(s"$idxDir/codes").count() == nCorpus0 + 2,
        s"$tag: code rows must grow by exactly txn A's two survivors")

      // —— log 3 arrives; a NEW query resumes from the checkpoint: S's
      // chunk state is recovered, its commit lands vector 5 exactly
      // once; R's recovered rows are discarded by its rollback
      writeLog(3, l3)
      runStream()
      val fin = codeIds()
      assert(fin.intersect(Set(1L, 3L, 5L, 7L, 10001L)) == Set(1L, 3L, 5L),
        s"$tag post-restart: spanning txn S must land, rolled-back R and " +
          "dup 10001 must not")
      val nCodes = spark.read.parquet(s"$idxDir/codes").count()
      assert(nCodes == nCorpus0 + 3,
        s"$tag: exactly-once violated — ${nCodes - nCorpus0} appended rows " +
          "for 3 admitted vectors")

      // —— the UPDATED artifact serves: a probe under a fresh id finds
      // the just-ingested vector 5 from the persisted index
      val (idxF, codesF) = SimilarityQueries.loadIvfPqIndex(spark, idxDir)
      val probe = SimilarityQueries.ivfPqSearchPrecoded(idxF,
          spark.read.parquet(corpDir), codesF,
          e.filter(col("vec_id") === 5L)
            .select(lit(99999L).as("vec_id"), col("q"), col("n2")),
          nprobe = 4)
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cos")).collect()
      assert(probe.nonEmpty, s"$tag: serving probe returned nothing")
      (fin, probe.head.getLong(0), probe.head.getDouble(1))
    }

    val (ids1, hit1, cos1) = runPipeline("a")
    assert(hit1 == 5L && cos1 >= 0.999,
      s"probe must find the ingested vector 5 from the updated index, " +
        s"got $hit1 at $cos1")
    // deterministic replay: fresh logs, artifacts and checkpoint
    val (ids2, hit2, cos2) = runPipeline("b")
    assert(ids2 == ids1 && hit2 == hit1 && cos2 == cos1,
      s"replay diverged: ($hit2, $cos2) != ($hit1, $cos1)")
  }
}
