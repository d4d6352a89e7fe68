package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.TimeSeriesStreams.{DayFill, GapObs}

/** The streaming gap-fill twin must emit EXACTLY the batch gate's grid
  * on the same observations — including days whose observations span
  * micro-batch boundaries (the open day must keep absorbing updates)
  * and a full QUERY RESTART mid-stream (the open day and forward-fill
  * carrier live in the state store, recovered from the checkpoint).
  * Fed as a file-source stream in two runs sharing one checkpoint:
  * run 1 processes the first two time-chunks and stops; run 2 starts a
  * NEW query over the same checkpoint with the last chunk + the flush
  * sentinels that close each key's final open day.
  */
class StreamingGapFillSpec extends AnyFunSuite with SharedSpark {

  test("streaming grid equals the batch gate across batch boundaries " +
      "and a restart") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"

    // batch truth straight from the gate (day is already an epoch day)
    val truth = graft.operators.TemporalQueries.queries("q_ts_gapfill")(
        spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getBoolean(3))).toSet
    assert(truth.exists(_._4), "fixture should contain gap days to fill")
    assert(truth.exists(!_._4), "and observed days")

    // the same observations, event-time-ordered, cut into 3 time chunks
    val obs = graft.Tables.events(spark, dir)
      .select(col("user_id").as("userId"),
        graft.Tables.tsMicros.as("tsMicros"),
        col("event_id").as("eventId"), col("value"))
      .orderBy(col("tsMicros"), col("eventId"))
      .as[GapObs].collect()
    val users = obs.map(_.userId).distinct.sorted
    val chunks = obs.grouped(math.max(1, obs.length / 3 + 1)).toSeq
    assert(chunks.size == 3)

    val feed = new FileFeed[GapObs](spark, "gapfill")

    // replay-safe collector: a restart may re-deliver the last batch,
    // and each (user, day) is emitted once logically — assert that any
    // duplicate delivery carries the identical row
    val seen = new java.util.concurrent.ConcurrentHashMap[
      (Long, Long), (Double, Boolean)]()
    def run(): Unit =
      feed.drain(TimeSeriesStreams.gapFillStream(feed.stream)) { d =>
        val prev = seen.put((d.userId, d.day), (d.value, d.filled))
        assert(prev == null || prev == ((d.value, d.filled)),
          s"conflicting re-emission for (${d.userId}, ${d.day}): " +
            s"$prev vs (${d.value}, ${d.filled})")
      }

    // —— run 1: two chunks, then the query STOPS (AvailableNow)
    feed.write("chunk_0.parquet", chunks(0).toSeq)
    feed.write("chunk_1.parquet", chunks(1).toSeq)
    run()
    val afterRun1 = seen.size()
    assert(afterRun1 > 0, "run 1 should already close and emit days")
    assert(afterRun1 < truth.size, "run 1 must not have emitted everything")

    // —— run 2: a NEW query on the same checkpoint (restart) finishes
    // the stream; flush sentinels close each key's final open day
    feed.write("chunk_2.parquet", chunks(2).toSeq)
    feed.write("chunk_3_flush.parquet",
      users.map(TimeSeriesStreams.gapFlush).toSeq)
    run()

    val streamed = {
      val b = Set.newBuilder[(Long, Long, Double, Boolean)]
      seen.forEach { (k, v) => b += ((k._1, k._2, v._1, v._2)) }
      b.result()
    }
    assert(streamed.size == truth.size,
      s"${streamed.size} streamed vs ${truth.size} batch rows")
    assert(streamed == truth,
      s"diff: stream-only=${(streamed -- truth).take(5)} " +
        s"batch-only=${(truth -- streamed).take(5)}")
  }

  test("a key that wakes up after a flush continues its grid; a closed " +
      "day cannot reopen") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val D = 86400L * 1000000L
    def obs(day: Long, eid: Long, v: Double) =
      TimeSeriesStreams.GapObs(1L, day * D + 1000L, eid, v)

    val input = MemoryStream[TimeSeriesStreams.GapObs]
    val q = TimeSeriesStreams.gapFillStream(input.toDS())
      .writeStream.format("memory").queryName("gapfill_wake")
      .outputMode("append").start()
    try {
      // day 10 observed, then the key goes quiet → flush emits day 10
      input.addData(obs(10, 1, 5.0), TimeSeriesStreams.gapFlush(1L))
      q.processAllAvailable()
      // wake-up: day 13 arrives — the grid must CONTINUE (11, 12
      // forward-filled off the tombstone's carrier, day 10 not
      // re-emitted), exactly what the batch gate computes on the union
      input.addData(obs(13, 2, 7.0), TimeSeriesStreams.gapFlush(1L))
      q.processAllAvailable()
      val rows = spark.table("gapfill_wake")
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((10L, 5.0, false), (11L, 5.0, true),
        (12L, 5.0, true), (13L, 7.0, false)),
        s"post-flush wake-up grid wrong: $rows")
      // late data for an already-emitted day must fail LOUDLY
      input.addData(obs(10, 3, 9.0))
      val ex = intercept[Throwable] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(ex).exists(_.contains("non-decreasing")),
        s"expected the T3 ordering guard, got: ${chain(ex).take(3)}")
    } finally q.stop()
  }

  test("watermark-driven closure: days emit when the watermark passes " +
      "them, content equals the sentinel/batch grid") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val D = 86400L * 1000000L
    def obs(u: Long, day: Long, eid: Long, v: Double) =
      TimeSeriesStreams.GapObs(u, day * D + 1000L, eid, v)

    val input = MemoryStream[TimeSeriesStreams.GapObs]
    val q = TimeSeriesStreams.gapFillStreamWatermarked(input.toDS())
      .writeStream.format("memory").queryName("gapfill_wm")
      .outputMode("append").start()
    try {
      def rows() = spark.table("gapfill_wm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      // key 1 observes days 10 and 13; key 2's day-20 observation
      // drives the watermark far past both, so BOTH of key 1's days
      // close via TIMEOUT — no sentinel, no later key-1 arrival needed
      // for the final day
      input.addData(obs(1, 10, 1, 5.0))
      q.processAllAvailable()
      input.addData(obs(1, 13, 2, 7.0), obs(2, 20, 3, 9.9))
      q.processAllAvailable() // watermark advances to ~day 20
      input.addData(obs(2, 21, 4, 1.1)) // one more batch: timeouts fire
      q.processAllAvailable()
      input.addData(obs(2, 22, 5, 2.2)) // and key 2's day 21 closes too
      q.processAllAvailable()
      val got = rows()
      val key1 = got.filter(_._1 == 1L)
      assert(key1 == Set((1L, 10L, 5.0, false), (1L, 11L, 5.0, true),
        (1L, 12L, 5.0, true), (1L, 13L, 7.0, false)),
        s"key 1 grid wrong: $key1 (all days must close off the watermark)")
      assert(got.contains((2L, 20L, 9.9, false)) &&
        got.contains((2L, 21L, 1.1, false)),
        s"key 2's watermark-passed days must close: $got")
    } finally q.stop()
  }

  test("watermarked variant: an observation older than the watermark is " +
      "dropped before the processor — neither emitted nor thrown, and " +
      "counted in the query progress") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val D = 86400L * 1000000L
    def obs(u: Long, day: Long, eid: Long, v: Double) =
      TimeSeriesStreams.GapObs(u, day * D + 1000L, eid, v)

    val input = MemoryStream[TimeSeriesStreams.GapObs]
    val q = TimeSeriesStreams.gapFillStreamWatermarked(input.toDS())
      .writeStream.format("memory").queryName("gapfill_wm_late")
      .outputMode("append").start()
    try {
      input.addData(obs(1, 10, 1, 5.0))
      q.processAllAvailable()
      input.addData(obs(2, 20, 2, 9.9))
      q.processAllAvailable()
      input.addData(obs(2, 21, 3, 1.1))
      q.processAllAvailable()
      // key 1's day 10 closed when the watermark passed it
      input.addData(obs(1, 10, 4, 6.0))
      q.processAllAvailable()
      val got = spark.table("gapfill_wm_late")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      assert(got == Set((1L, 10L, 5.0, false), (2L, 20L, 9.9, false)),
        s"the late observation must not change the output: $got")
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1, s"the progress must count the dropped row, got $dropped")
    } finally q.stop()
  }

  test("watermarked variant REJECTS the flush sentinel loudly — the " +
      "shared GapObs type makes it one switch away, and the day math " +
      "would forward-fill ~10^11 grid rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[TimeSeriesStreams.GapObs]
    val q = TimeSeriesStreams.gapFillStreamWatermarked(input.toDS())
      .writeStream.format("memory").queryName("gapfill_wm_sentinel")
      .outputMode("append").start()
    try {
      input.addData(TimeSeriesStreams.GapObs(1L, 10L * 86400000000L, 1, 5.0),
        TimeSeriesStreams.gapFlush(1L))
      val ex = intercept[Throwable] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(ex).exists(_.contains("flush")),
        s"expected the sentinel rejection, got: ${chain(ex).take(3)}")
    } finally q.stop()
  }

  test("tombstone TTL: a quiet key's carrier expires off the event-time " +
      "clock, after which its grid restarts instead of filling the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val D = 86400L * 1000000L
    def obs(u: Long, day: Long, eid: Long, v: Double) =
      TimeSeriesStreams.GapObs(u, day * D + 1000L, eid, v)

    val input = MemoryStream[TimeSeriesStreams.GapObs]
    val q = TimeSeriesStreams.gapFillStreamWatermarked(input.toDS(),
        tombstoneTtlDays = 2L)
      .writeStream.format("memory").queryName("gapfill_wm_ttl")
      .outputMode("append").start()
    try {
      def rows() = spark.table("gapfill_wm_ttl")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      // key 1 observes day 10; key 2 drives the watermark forward in
      // steps so (a) key 1's day 10 closes via timeout, (b) the
      // tombstone's TTL timer then fires, dropping the carrier
      input.addData(obs(1, 10, 1, 5.0), obs(2, 20, 2, 9.9))
      q.processAllAvailable()
      input.addData(obs(2, 21, 3, 1.1)) // wm=day20: key 1 day 10 closes
      q.processAllAvailable()
      input.addData(obs(2, 22, 4, 2.2)) // wm=day21: TTL timer fires
      q.processAllAvailable()
      assert(rows().contains((1L, 10L, 5.0, false)))
      // key 1 wakes at day 30 with the carrier GONE: the grid restarts
      // (days 11..29 must NOT be filled); close day 30 by pushing the
      // watermark past it and triggering one more batch
      input.addData(obs(1, 30, 5, 7.0), obs(2, 40, 6, 3.3))
      q.processAllAvailable()
      input.addData(obs(2, 41, 7, 4.4)) // wm=day40: key 1 day 30 closes
      q.processAllAvailable()
      val key1 = rows().filter(_._1 == 1L)
      assert(key1 == Set((1L, 10L, 5.0, false), (1L, 30L, 7.0, false)),
        s"expired carrier must RESTART the grid, not fill 11..29: $key1")
    } finally q.stop()
  }

  test("a watermark-closed day closes only at its own end, across a " +
      "restart") {
    import spark.implicits._
    val D = 86400L * 1000000L
    def obs(u: Long, day: Long, eid: Long, v: Double, atMicros: Long = 1000L) =
      GapObs(u, day * D + atMicros, eid, v)
    // a two-day delay: the watermark trails the newest observation by two
    // days, so key 2's day 14 (not key 1's own day 13) moves it past the
    // end of day 11
    val feed = new FileFeed[GapObs](spark, "gapfill_wm_restart")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[DayFill]()
    def run(): Unit = feed.drain(TimeSeriesStreams.gapFillStreamWatermarked(
      feed.stream, delay = "2 days")) { d => emitted.add(d); () }
    def rows() = emitted.toArray(Array.empty[DayFill]).toSeq
      .sortBy(d => (d.userId, d.day))

    // —— run 1: key 1 opens day 10 (a timer at its end), then day 13,
    // which closes day 10 by data; key 2 then moves the watermark past
    // the end of day 11, where day 10's timer stood
    feed.write("f0.parquet", Seq(obs(1, 10, 1, 5.0)))
    feed.write("f1.parquet", Seq(obs(1, 13, 2, 7.0)))
    feed.write("f2.parquet", Seq(obs(2, 14, 3, 9.9)))
    run()
    assert(rows() == Seq(DayFill(1, 10, 5.0, false), DayFill(1, 11, 5.0, true),
      DayFill(1, 12, 5.0, true)),
      s"day 13 must stay open until the watermark passes its end: ${rows()}")

    // —— run 2 on the same checkpoint: a later day-13 observation is
    // absorbed, then key 3 moves the watermark past the end of day 14;
    // key 2's day 14 closes on the timer it armed before the restart
    feed.write("f3.parquet", Seq(obs(1, 13, 4, 8.0, atMicros = 3600L * 1000000L)))
    feed.write("f4.parquet", Seq(obs(3, 17, 5, 1.1)))
    feed.write("f5.parquet", Seq(obs(3, 18, 6, 2.2)))
    run()
    assert(rows() == Seq(DayFill(1, 10, 5.0, false), DayFill(1, 11, 5.0, true),
      DayFill(1, 12, 5.0, true), DayFill(1, 13, 8.0, false),
      DayFill(2, 14, 9.9, false), DayFill(3, 17, 1.1, false)),
      s"each day once, day 13 with its later value: ${rows()}")
  }
}
