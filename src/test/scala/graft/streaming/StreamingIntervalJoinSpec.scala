package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming twin of §2.63's interval-overlap join: when the two
  * interval sets arrive as STREAMS, the operator is Spark's native
  * watermarked stream-stream join with an event-time range condition —
  * no custom state code at all (the Spark-first answer: the batch side
  * uses grid decomposition because a batch engine wants an equi-join;
  * the streaming side uses the engine's own range-join state machine,
  * whose watermark-derived bounds give bounded state). This spec pins
  * the two formulations to the same pairs on the same data, sliced
  * across micro-batches — including pairs whose two sides arrive in
  * DIFFERENT batches (the buffered-state case).
  */
object StreamingIntervalJoinSpec {
  case class Ev(eventId: Long, userId: Long, tsMicros: Long, typ: String)
}

class StreamingIntervalJoinSpec extends AnyFunSuite with SharedSpark {
  import StreamingIntervalJoinSpec.Ev

  test("watermarked stream-stream range join emits exactly the batch " +
      "gate's overlap pairs across micro-batch boundaries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // batch truth from the gate
    val truth = graft.operators.TemporalQueries
      .queries("q_interval_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must produce overlap pairs")

    // the same events, event-time-ordered, in 3 chunks — overlap pairs
    // near chunk edges arrive split across micro-batches
    val evs = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("event_id"), col("user_id"),
        graft.Tables.tsMicros.as("t"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
      .collect().map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq

    val input = MemoryStream[Ev]
    val df = input.toDS()
      .withColumn("t", timestamp_micros(col("tsMicros")))
    val a = df.filter(col("typ") === "error")
      .select(col("eventId").as("a_id"), col("userId").as("a_user"),
        col("t").as("ta"))
      .withWatermark("ta", "0 seconds")
    val b = df.filter(col("typ") === "purchase")
      .select(col("eventId").as("b_id"), col("userId").as("b_user"),
        col("t").as("tb"))
      .withWatermark("tb", "0 seconds")
    // A = [ta, ta+6h), B = [tb, tb+2h); overlap ⟺ tb ∈ (ta−2h, ta+6h).
    // The range rides ON the watermarked columns, which is what lets
    // the engine derive state-eviction bounds for both sides.
    val joined = a.join(b,
      expr("a_user = b_user AND tb > ta - INTERVAL 2 HOURS " +
        "AND tb < ta + INTERVAL 6 HOURS"))
      .select(col("a_id"), col("b_id"))

    val q = joined.writeStream.format("memory")
      .queryName("sij_out").outputMode("append").start()
    try {
      chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
      val got = spark.table("sij_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth,
        s"stream-only=${(got -- truth).take(5)} " +
          s"batch-only=${(truth -- got).take(5)} " +
          s"(${got.size} streamed vs ${truth.size} batch)")
    } finally q.stop()
  }
}
