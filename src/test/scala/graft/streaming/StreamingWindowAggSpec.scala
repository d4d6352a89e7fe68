package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** §2.7 streaming time-window aggregation: event-time tumbling windows
  * with a watermark — windows finalize (append mode emits them) once the
  * watermark passes their end, and data later than the watermark is
  * dropped instead of corrupting a finalized window.
  */
class StreamingWindowAggSpec extends AnyFunSuite with SharedSpark {

  test("tumbling window finalizes at the watermark; late rows are dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)] // (event_type, tsMillis, value)

    val agg = input.toDF().toDF("event_type", "ts", "value")
      .withColumn("ts", timestamp_millis(col("ts")))
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

    val run = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      val m0 = 1700000040000L // minute-aligned: window [m0, m0+60s)
      // two events in window 0, one in window 1
      input.addData(("click", m0 + 1000, 1.0), ("click", m0 + 2000, 2.0),
        ("view", m0 + 61000, 5.0))
      run.processAllAvailable()
      // nothing finalized yet: watermark = max(ts) - 30 s is inside window 1
      assert(spark.table("win_out").count() === 0)

      // advance the watermark far past window 0 AND window 1
      input.addData(("click", m0 + 180000, 9.0))
      run.processAllAvailable()
      val done = spark.table("win_out")
        .select(col("window.start").cast("long"), col("event_type"),
          col("n"), col("total"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(done === Set(
        (m0 / 1000, "click", 2L, 3.0),
        (m0 / 1000 + 60, "view", 1L, 5.0)))

      // a record FAR behind the watermark must not resurrect window 0
      input.addData(("click", m0 + 3000, 100.0))
      run.processAllAvailable()
      input.addData(("click", m0 + 400000, 1.0)) // push watermark again
      run.processAllAvailable()
      val clickRows = spark.table("win_out")
        .filter(col("event_type") === "click" &&
          col("window.start").cast("long") === m0 / 1000)
        .count()
      assert(clickRows === 1) // still only the original finalized window
    } finally run.stop()
  }
}
