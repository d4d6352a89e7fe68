package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** §2.9 streaming twin of `TemporalQueries.sessionize`: event-time
  * session windows (`session_window`) with a watermark. Sessions grow
  * while events keep arriving within the gap, merge when a bridging
  * event connects two open sessions, and finalize — append mode emits
  * them — once the watermark passes session end + gap.
  */
class StreamingSessionizeSpec extends AnyFunSuite with SharedSpark {

  test("session windows extend within gap, merge on bridge, finalize at watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // (user_id, tsMillis, value)

    val sessions = input.toDF().toDF("user_id", "ts", "value")
      .withColumn("ts", timestamp_millis(col("ts")))
      .withWatermark("ts", "30 seconds")
      .groupBy(session_window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

    val run = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      // user 1: two events 30 s apart (one session), then a 2 min silence
      // and a third event (second session). user 2: one event.
      input.addData((1L, t0, 1.0), (1L, t0 + 30000, 2.0),
        (1L, t0 + 180000, 4.0), (2L, t0 + 1000, 8.0))
      run.processAllAvailable()
      // push the watermark far past every session's end + gap
      input.addData((9L, t0 + 600000, 0.0))
      run.processAllAvailable()

      val done = spark.table("sess_out")
        .select(col("user_id"), col("n"), col("total"),
          (col("session_window.end").cast("long") -
            col("session_window.start").cast("long")).as("dur"))
        .as[(Long, Long, Double, Long)].collect().toSet
      // session duration = span of events + 1 gap at the tail
      assert(done.contains((1L, 2L, 3.0, 90L)),
        s"user 1 first session (2 events, 30s span + 60s gap): $done")
      assert(done.contains((1L, 1L, 4.0, 60L)))
      assert(done.contains((2L, 1L, 8.0, 60L)))
    } finally run.stop()
  }

  test("a bridging event merges two would-be sessions into one") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]

    val sessions = input.toDF().toDF("user_id", "ts", "value")
      .withColumn("ts", timestamp_millis(col("ts")))
      .withWatermark("ts", "30 seconds")
      .groupBy(session_window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"))

    val run = sessions.writeStream.format("memory").queryName("sess_merge")
      .outputMode("append").start()
    try {
      val t0 = 1800000000000L
      // 80 s apart: two separate sessions — unless the midpoint arrives.
      // Watermark after this batch is t0+50 s, so BOTH proto-sessions
      // ([t0,t0+60) and [t0+80,t0+140)) are still open.
      input.addData((1L, t0, 1.0), (1L, t0 + 80000, 1.0))
      run.processAllAvailable()
      // bridge at t0+55 s: not late (≥ watermark) and within the 60 s gap
      // of both open sessions → they must merge
      input.addData((1L, t0 + 55000, 1.0))
      run.processAllAvailable()
      input.addData((9L, t0 + 600000, 0.0)) // advance watermark
      run.processAllAvailable()

      val done = spark.table("sess_merge")
        .select(col("user_id"), col("n"))
        .as[(Long, Long)].collect().filter(_._1 == 1L)
      assert(done.toSeq === Seq((1L, 3L)),
        s"bridged events must form ONE session of 3: ${done.toSeq}")
    } finally run.stop()
  }
}
