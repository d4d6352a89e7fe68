package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The Misra-Gries heavy-hitters aggregate (§2.16) under STREAMING
  * aggregation: the sketch's serialize/merge path is exactly what the
  * state store exercises between micro-batches (partial buffers
  * serialize into state, merge with each batch's partials), so a
  * complete-mode streaming count over a sliced token stream must land
  * on the same top terms as one batch aggregation of the union — the
  * sketch's mergeability claim proven on the engine's real streaming
  * path, not just in-suite merges.
  */
class StreamingFreqSketchSpec extends AnyFunSuite with SharedSpark {

  test("complete-mode streaming sketch equals the batch sketch on the " +
      "same tokens, sliced across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    val toks = graft.Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions
        .tokens(col("text"))).as("tok"))
      .as[String].collect()

    def top(rows: Array[org.apache.spark.sql.Row]): Seq[(String, Long)] = {
      // the sketch returns (term, count) candidates; take the exact
      // top-10 by (count desc, term) — capacity 1024 over this stream
      // makes candidate counts exact, so both runs must agree exactly
      rows.flatMap(_.getSeq[org.apache.spark.sql.Row](0))
        .map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (t, n) => (-n, t) }.take(10).toSeq
    }

    val batch = top(toks.toSeq.toDF("tok")
      .agg(graft.functions.FreqSketchOps.freqSketch(col("tok"), 1024))
      .collect())

    val input = MemoryStream[String]
    val q = input.toDS().toDF("tok")
      .agg(graft.functions.FreqSketchOps.freqSketch(col("tok"), 1024))
      .writeStream.format("memory").queryName("fs_stream")
      .outputMode("complete").start()
    try {
      toks.grouped(math.max(1, toks.length / 4 + 1)).foreach { c =>
        input.addData(c.toSeq: _*); q.processAllAvailable()
      }
      val streamed = top(spark.table("fs_stream").collect())
      assert(streamed == batch,
        s"streamed=$streamed\nbatch=$batch")
      assert(batch.nonEmpty && batch.head._2 > 1)
    } finally q.stop()
  }
}
