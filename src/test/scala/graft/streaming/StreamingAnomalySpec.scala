package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.TimeSeriesStreams.{AnomalyFlag, Obs}

/** The streaming anomaly detector must flag EXACTLY what the batch
  * gate flags on the same observations — the trailing window in the
  * state store is the batch frame, micro-batch boundaries must not
  * show. Fed in three event-time-ordered batches (the CDC ordering
  * contract) through MemoryStream.
  */
class StreamingAnomalySpec extends AnyFunSuite with SharedSpark {

  test("streaming flags equal the batch gate across micro-batch " +
      "boundaries") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"

    // batch truth straight from the gate
    val truth = graft.operators.TemporalQueries.queries("q_ts_anomaly")(
        spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet

    // the same observations as a 3-batch event-time-ordered stream
    val obs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        graft.Tables.tsMicros.as("tsm"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("x"))
      .orderBy(col("tsm"), col("event_id"))
      .collect()
      .map(r => Obs(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val chunks = obs.grouped(math.max(1, obs.length / 3 + 1)).toSeq

    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val q = TimeSeriesStreams.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anomaly_out")
      .outputMode("append").start()
    try {
      chunks.foreach { c =>
        input.addData(c.toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("anomaly_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      assert(streamed.size == truth.size)
      assert(streamed == truth,
        s"diff: stream-only=${(streamed -- truth).take(5)} " +
          s"batch-only=${(truth -- streamed).take(5)}")
      assert(truth.exists(_._4), "fixture should contain some anomalies")
      assert(truth.exists(!_._4), "and some normals")
    } finally q.stop()
  }
}
