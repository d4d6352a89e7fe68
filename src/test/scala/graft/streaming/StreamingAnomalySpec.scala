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
  * contract) through MemoryStream, and through a file source whose
  * query restarts on its checkpoint before the last batch.
  */
class StreamingAnomalySpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** The batch gate's flags, as (eventId, userId, n, anomaly). */
  private def truth(): Set[(Long, Long, Long, Boolean)] =
    graft.operators.TemporalQueries.queries("q_ts_anomaly")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet

  /** The gate's observations, event-time-ordered, cut into 3 chunks. */
  private def chunks(): Seq[Array[Obs]] = {
    val obs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        graft.Tables.tsMicros.as("tsm"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("x"))
      .orderBy(col("tsm"), col("event_id"))
      .collect()
      .map(r => Obs(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    obs.grouped(math.max(1, obs.length / 3 + 1)).toSeq
  }

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)

  test("streaming flags equal the batch gate across micro-batch " +
      "boundaries") {
    import spark.implicits._
    val truth = this.truth()

    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val q = TimeSeriesStreams.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anomaly_out")
      .outputMode("append").start()
    try {
      chunks().foreach { c =>
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

  test("the trailing window survives a query restart") {
    import spark.implicits._
    val truth = this.truth()
    val Seq(c0, c1, c2) = chunks()
    val feed = new FileFeed[Obs](spark, "anomaly")
    // replay-safe collector: a re-delivered flag must be identical
    val flags = new java.util.concurrent.ConcurrentHashMap[Long, AnomalyFlag]()
    def run(): Unit =
      feed.drain(TimeSeriesStreams.anomalyStream(feed.stream)) { f =>
        val prev = flags.put(f.eventId, f)
        assert(prev == null || prev == f, s"conflicting re-emission: $prev vs $f")
      }

    feed.write("chunk_0.parquet", c0.toSeq)
    feed.write("chunk_1.parquet", c1.toSeq)
    run()
    assert(flags.size == c0.length + c1.length)
    // a NEW query on the same checkpoint: the windows carry over
    feed.write("chunk_2.parquet", c2.toSeq)
    run()
    val streamed = {
      val b = Set.newBuilder[(Long, Long, Long, Boolean)]
      flags.forEach((_, f) => b += ((f.eventId, f.userId, f.n, f.anomaly)))
      b.result()
    }
    assert(streamed == truth,
      s"diff: stream-only=${(streamed -- truth).take(5)} " +
        s"batch-only=${(truth -- streamed).take(5)}")
  }

  test("a value outside the integer-exact domain fails loudly, naming " +
      "the key and the value") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val q = TimeSeriesStreams.anomalyStream(input.toDS())
      .writeStream.format("memory").queryName("anomaly_overflow")
      .outputMode("append").start()
    try {
      input.addData(Obs(1L, 7L, 0L, 100L), Obs(2L, 7L, 1L, -(1L << 27)))
      val ex = intercept[Throwable] { q.processAllAvailable() }
      assert(chain(ex).exists(m => m.contains("key 7") &&
        m.contains(s"${-(1L << 27)}") && m.contains("2^27")),
        s"expected the |x| >= 2^27 guard, got: ${chain(ex).take(3)}")
    } finally q.stop()
  }
}
