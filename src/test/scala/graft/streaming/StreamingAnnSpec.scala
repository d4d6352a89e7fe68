package graft.streaming


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.SimilarityQueries

/** Streaming embedding ingestion — `ann_incr` in its production
  * harness: vectors arrive in micro-batches; each batch loads the
  * PERSISTED IVF-PQ index (codebooks + code rows on parquet), probes
  * it for near-identical existing neighbors, drops the duplicates, and
  * appends the survivors' CODE ROWS to the index — appending IS the
  * index update (the `saveIvfPqIndex` lifecycle): the codebooks stay
  * fixed from initial training, nothing re-encodes the corpus, and
  * per batch only the delta pays the probe.
  */
class StreamingAnnSpec extends AnyFunSuite with SharedSpark {

  test("delta batches probe the persisted index; duplicate arrivals are dropped") {
    import spark.implicits._
    import graft.functions.VectorNative.pq_encode_native
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val e = SimilarityQueries.quantized(spark, dir)
    val corpus0 = e.filter(col("vec_id") % 2 === 0)
    val nCorpus0 = corpus0.count()
    val idxDir = SharedSpark.tempDir("graft_annidx").toString
    val corpDir = SharedSpark.tempDir("graft_anncorp").toString
    val index = SimilarityQueries.trainIvfPq(spark, corpus0, 8,
      col("vec_id") % 50 === 0 && col("vec_id") < 800)
    SimilarityQueries.saveIvfPqIndex(spark, index,
      corpus0.select(col("vec_id"), col("q")), idxDir)
    corpus0.write.mode("overwrite").parquet(corpDir)
    // arrivals: the odd vectors (genuinely new) plus exact copies of
    // five corpus vectors under fresh ids — the duplicates MUST be
    // caught by the probe (cos = 1.0 against their originals)
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("q"), col("n2"))
      .as[(Long, Seq[Long], Long)].collect().toSeq
    val dupIds = Seq(0L, 2L, 4L, 6L, 8L)
    val dups = e.filter(col("vec_id").isin(dupIds: _*))
      .select(col("vec_id"), col("q"), col("n2"))
      .as[(Long, Seq[Long], Long)].collect()
      .map { case (id, q, n2) => (10000L + id, q, n2) }.toSeq
    val arrivals = (odd ++ dups).sortBy(_._1)
    val input = MemoryStream[(Long, Seq[Long], Long)]
    val run = input.toDF().toDF("vec_id", "q", "n2").writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val (idx, codes) = SimilarityQueries.loadIvfPqIndex(spark, idxDir)
          val corp = spark.read.parquet(corpDir)
          val b = batch.localCheckpoint(true)
          val nearDup = SimilarityQueries
            .ivfPqSearchPrecoded(idx, corp, codes, b, nprobe = 4)
            .filter(col("rn") === 1 && col("cos") >= 0.999)
            .select(col("qid")).distinct()
          val keep = b.join(broadcast(nearDup),
            b("vec_id") === nearDup("qid"), "left_anti")
            .localCheckpoint(true)
          // appending the survivors' code rows IS the index update;
          // the corpus store grows the same way
          keep.select(col("vec_id"),
              pq_encode_native(col("q"), idx.coarse).getItem(0).cast("int")
                .as("cell"),
              pq_encode_native(col("q"), idx.fine).as("enc"))
            .write.mode("append").parquet(s"$idxDir/codes")
          keep.write.mode("append").parquet(corpDir)
          ()
      }
      .start()
    try {
      arrivals.grouped(math.max(1, arrivals.size / 3 + 1)).foreach { g =>
        input.addData(g: _*)
        run.processAllAvailable()
      }
    } finally run.stop()
    val keptIds = spark.read.parquet(corpDir)
      .select(col("vec_id")).as[Long].collect().toSet
    // every duplicate arrival was dropped; every genuinely new vector
    // was kept (the sf0.001 odd half contains no cos >= 0.999 pair
    // against the corpus — pinned data, deterministic)
    dupIds.foreach(id => assert(!keptIds.contains(10000L + id),
      s"duplicate arrival ${10000L + id} leaked into the corpus"))
    assert(odd.map(_._1).toSet.subsetOf(keptIds),
      "a genuinely new vector was wrongly dropped")
    // the appended index is complete and immediately servable: its code
    // rows cover the whole accumulated corpus, and re-probing a
    // duplicate against it still detects the original
    val (idxF, codesF) = SimilarityQueries.loadIvfPqIndex(spark, idxDir)
    assert(codesF.count() === nCorpus0 + odd.size,
      "code rows must cover the accumulated corpus exactly")
    // (the search excludes same-id matches, so probe under a fresh id)
    val reprobe = SimilarityQueries.ivfPqSearchPrecoded(idxF,
        spark.read.parquet(corpDir), codesF,
        e.filter(col("vec_id") === 0L)
          .select(lit(99999L).as("vec_id"), col("q"), col("n2")), nprobe = 4)
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cos")).collect()
    assert(reprobe.nonEmpty && reprobe.head.getLong(0) === 0L &&
      reprobe.head.getDouble(1) >= 0.999,
      s"re-probe of a corpus copy must find the original: ${reprobe.toSeq}")
  }

  test("appendIndexDelta is exactly-once under batch re-delivery") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = SimilarityQueries.quantized(spark, dir)
    val corpus0 = e.filter(col("vec_id") % 2 === 0)
    val idxDir = SharedSpark.tempDir("graft_eo_idx").toString
    val corpDir = SharedSpark.tempDir("graft_eo_corp").toString
    val index = SimilarityQueries.trainIvfPq(spark, corpus0, 8,
      col("vec_id") % 50 === 0 && col("vec_id") < 800)
    SimilarityQueries.saveIvfPqIndex(spark, index,
      corpus0.select(col("vec_id"), col("q")), idxDir)
    corpus0.write.mode("overwrite").parquet(corpDir)
    val n0 = spark.read.parquet(s"$idxDir/codes").count()

    val batch = e.filter(col("vec_id").isin(1L, 3L, 5L)).localCheckpoint(true)
    SimilarityQueries.appendIndexDelta(spark, index, idxDir, corpDir, batch)
    val n1 = spark.read.parquet(s"$idxDir/codes").count()
    assert(n1 == n0 + 3)
    // a restart re-delivers the same micro-batch: both stores must
    // admit nothing the second (and third) time
    SimilarityQueries.appendIndexDelta(spark, index, idxDir, corpDir, batch)
    SimilarityQueries.appendIndexDelta(spark, index, idxDir, corpDir, batch)
    assert(spark.read.parquet(s"$idxDir/codes").count() == n0 + 3,
      "re-delivered batch appended code rows twice")
    assert(spark.read.parquet(corpDir).count() == n0 + 3,
      "re-delivered batch appended corpus rows twice")
    // a PARTIALLY re-delivered overlap (two old ids + one new) admits
    // only the new id to each store
    val batch2 = e.filter(col("vec_id").isin(3L, 5L, 7L)).localCheckpoint(true)
    SimilarityQueries.appendIndexDelta(spark, index, idxDir, corpDir, batch2)
    assert(spark.read.parquet(s"$idxDir/codes").count() == n0 + 4)
    assert(spark.read.parquet(corpDir)
      .filter(col("vec_id") === 7L).count() == 1)
  }
}
