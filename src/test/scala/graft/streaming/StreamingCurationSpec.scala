package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.{DedupQueries, PipelineQueries}
import graft.functions.TextFunctions.shingleHashes

/** Streaming corpus curation — `pipe_incr` in its production harness:
  * documents arrive in micro-batches; each batch runs the fused
  * stage-1–6 pass, checks its digests against the PERSISTED digest
  * store, probes the PERSISTED band index for near-dups of anything
  * already admitted (base corpus + earlier batches), and APPENDS the
  * survivors' digest/band/set rows — appending IS the index update
  * (the `saveBandIndex` lifecycle), so per batch only the delta is
  * shingled and the corpus pays nothing.
  *
  * The equality assertion pins the composition: sequential ascending
  * admission must equal the batch `pipe_incr` gate on the same
  * base/delta split. (Equality needs the fixture to be chain-free —
  * batch semantics drop the larger of EVERY verified delta-delta
  * pair, even when the smaller was itself dropped, while a stream
  * never indexes a rejected doc — and bucket-cap-free, since the
  * streaming probe is the uncapped index path.)
  */
class StreamingCurationSpec extends AnyFunSuite with SharedSpark {

  test("micro-batch admission against the persisted index equals batch pipe_incr") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val a = "the data keeps the value fast and the group holds the table " +
      "well so the batch moves fast while the line ends today now"
    val b = "the rows merge under the index while a scan reads the heap " +
      "and a cost model picks the fast path for the small probe today"
    // permutations of a/b token multisets (bag-of-words scores carry
    // over; bigram overlap with their source drops below jac 0.5)
    val novel1 = "today the path under cost and the heap picks a model " +
      "while the scan reads rows for the fast merge index a small probe the"
    val novel2 = "now the table holds the value and the group keeps the " +
      "batch while fast data moves the line so fast well today ends the"
    val docs = Seq(
      (2L, a), (4L, b),            // base (even ids)
      (3L, a),                     // delta batch 1: exact copy -> reject
      (5L, novel1),                // delta batch 1: novel -> admit
      (7L, novel1),                // delta batch 2: copy of ADMITTED delta -> reject
      (9L, b + " plus two extras"),// delta batch 2: near-dup of base -> reject
      (11L, novel2),               // delta batch 3: novel -> admit
      (13L, "the tiny short doc stops here now so soon done")) // reject (len)
    val fx = SharedSpark.tempDir("graft_stream_cur").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$fx/documents.parquet")

    // batch truth: the pipe_incr gate on the same even/odd split
    val truth = PipelineQueries.queries("pipe_incr")(spark, fx)
      .select(col("doc_id")).as[Long].collect().toSet

    // ingest-time artifacts: base survivors' digests + band index.
    // The base here passes stages/dedup trivially (distinct clean
    // docs); production would persist pipe_curate's manifest the same
    // way.
    val bench = Array.empty[Long]
    val base = PipelineQueries.stage16Of(
      docs.toDF("doc_id", "text")
        .withColumn("source", lit("src0"))
        .filter(col("doc_id") % 2 === 0), bench)
    val idxDir = SharedSpark.tempDir("graft_cur_idx").toString
    val digDir = SharedSpark.tempDir("graft_cur_dig").toString
    val baseHashes = base
      .select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs"))
    DedupQueries.saveBandIndex(baseHashes, idxDir)
    base.select(col("digest")).write.mode("overwrite").parquet(digDir)

    // arrivals: the odd docs, ascending, three micro-batches
    val deltas = docs.filter(_._1 % 2 == 1).sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val run = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val filtered = PipelineQueries.stage16Of(
            batch.withColumn("source", lit("src0")), bench)
          .localCheckpoint(true)
        // digest check against the persisted store (base + admitted)
        val known = spark.read.parquet(digDir)
        val fresh = filtered.join(known,
          filtered("digest") === known("digest"), "left_anti")
        // near-dup probe of the persisted band index
        val (bands, sets) = DedupQueries.loadBandIndex(spark, idxDir)
        val freshHashes = fresh
          .select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs"))
          .localCheckpoint(true)
        val drops = DedupQueries.incrementalNearDupsWithIndex(
            bands, sets, freshHashes)
          .select(col("ib")).distinct()
        val adm = freshHashes.join(drops,
          freshHashes("doc_id") === drops("ib"), "left_anti")
          .localCheckpoint(true)
        // appending the survivors' rows IS the index update
        DedupQueries.lshBands(adm).write.mode("append").parquet(s"$idxDir/bands")
        adm.select(col("doc_id"),
            graft.functions.TextHashExpressions
              .sorted_distinct_longs(col("hs")).as("hs"))
          .write.mode("append").parquet(s"$idxDir/sets")
        fresh.join(adm.select(col("doc_id")), "doc_id")
          .select(col("digest")).write.mode("append").parquet(digDir)
        admitted ++= adm.select(col("doc_id")).as[Long].collect()
        ()
      }.start()
    deltas.grouped(2).foreach { g =>
      input.addData(g.map(d => (d._1, d._2)))
      run.processAllAvailable()
    }
    run.stop()
    assert(admitted.toSet == truth,
      s"streaming admission ${admitted.toSet} != batch pipe_incr $truth")
    assert(truth == Set(5L, 11L), s"fixture expectation drifted: $truth")
  }
}
