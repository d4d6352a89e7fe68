package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantics of the temporal operators (as-of join, banded range join,
  * sessionization) and the sampling/quantile operators — edge cases on
  * hand-built frames plus invariants on the driver testdata.
  */
class TemporalSamplingSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("asofJoin: inclusive match, no-prior null, key isolation") {
    import spark.implicits._
    val left = Seq(
      (1L, 5L, "a"),   // before any marker → null
      (1L, 10L, "b"),  // exactly at marker t=10 → inclusive match 100
      (1L, 17L, "c"),  // between 10 and 20 → 100
      (1L, 20L, "d"),  // at second marker → 200
      (2L, 50L, "e")   // other key: only key-2 markers visible
    ).toDF("k", "t", "name")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 7L, 700L))
      .toDF("k", "t", "v")
    val out = TemporalQueries.asofJoin(left, right, "k", "t", "v", "m")
      .select("name", "m").collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map("a" -> -1L, "b" -> 100L, "c" -> 100L,
      "d" -> 200L, "e" -> 700L))
  }

  test("sessionize: splits on gap, numbers sessions per key in order") {
    import spark.implicits._
    val df = Seq(
      (1L, 0L, 1L), (1L, 50L, 2L), (1L, 200L, 3L),   // gap>100 at 200
      (1L, 250L, 4L), (2L, 0L, 5L)
    ).toDF("k", "t", "id")
    val out = TemporalQueries.sessionize(df, "k", "t", "id", 100L)
      .select("id", "sess").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("q_asof_join: marker is the latest error at-or-before, same user") {
    val rows = SparkEntry_q("q_asof_join").collect()
    assert(rows.nonEmpty)
    // error events must map to themselves (self is at-or-before, ties
    // collapse to max event_id ≥ self... equality when unique ts)
    val errors = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val matched = rows.filter(r => errors.contains(r.getLong(0)))
    assert(matched.nonEmpty)
    assert(matched.forall(r => !r.isNullAt(2)),
      "an error event always has a marker (itself)")
  }

  test("q_range_join: every anchor window contains at least itself") {
    val rows = SparkEntry_q("q_range_join").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 1L),
      "anchor event lies inside its own window")
  }

  test("q_sessionize: session bounds ordered, counts positive") {
    val rows = SparkEntry_q("q_sessionize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L)                  // n_events
      assert(r.getLong(3) <= r.getLong(4))        // start_us <= end_us
    }
  }

  test("asofJoin: a null-payload marker supersedes older markers") {
    import spark.implicits._
    val left = Seq((1L, 25L), (1L, 15L)).toDF("id", "t")
      .select(col("id"), col("t"))
    val right = Seq((1L, 10L, Some(5L)), (1L, 20L, None: Option[Long]))
      .toDF("id", "t", "p")
    val got = TemporalQueries.asofJoin(left, right, "id", "t", "p", "out")
      .orderBy("t").collect()
    // t=15 sees the t=10 marker (payload 5); t=25 sees the t=20 marker
    // whose payload is NULL — the stale 5 must NOT leak through
    assert(got(0).getLong(1) == 15L && got(0).getLong(2) == 5L)
    assert(got(1).getLong(1) == 25L && got(1).isNullAt(2),
      s"null-payload marker must supersede: ${got.toSeq}")
  }

  test("intervalJoin: grid decomposition equals brute force on random " +
      "arbitrary-width intervals, each pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(4217)
    val W = 100L
    // widths 0..349 (empty, sub-cell, exactly-cell, multi-cell spans —
    // the gate only exercises fixed 2h/6h widths), 6 keys, dense enough
    // coordinates that overlaps are common; coordinates STRADDLE zero
    // (negative starts exercise the floor-division cell ids — truncating
    // div would mis-bucket everything left of the origin)
    def mk(n: Int) = (1 to n).map { i =>
      val s = rnd.nextInt(2000).toLong - 1000L
      (i.toLong, (rnd.nextInt(6) + 1).toLong, s, s + rnd.nextInt(350))
    }
    val a = mk(300).toDF("a_id", "k", "s1", "e1")
    val b = mk(300).toDF("b_id", "k", "s2", "e2")
    val got = TemporalQueries
      .intervalJoin(a, b, "k", "s1", "e1", "s2", "e2", W)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSeq
    assert(got.size == got.distinct.size,
      "ownership-cell rule must emit each pair exactly once")
    val brute = a.join(b, "k")
      .filter(col("e1") > col("s1") && col("e2") > col("s2") &&
        col("s1") < col("e2") && col("s2") < col("e1"))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must produce overlaps")
    assert(got.toSet == brute,
      s"missing=${(brute -- got.toSet).take(5)} " +
        s"extra=${(got.toSet -- brute).take(5)}")
  }

  test("q_strat: en downsampled harder than the rest") {
    val df = SparkEntry_q("q_strat")
    val total = graft.Tables.documents(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = kept.getOrElse("en", 0L).toDouble / total("en")
    val restKept = (kept - "en").values.sum.toDouble
    val restTotal = (total - "en").values.sum.toDouble
    assert(enRate < restKept / restTotal,
      s"en rate $enRate should be below the rest")
  }

  test("q_quantiles: quartiles monotone and approx within bound") {
    val rows = SparkEntry_q("q_quantiles").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q25, q50, q75) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(q25 <= q50 && q50 <= q75)
      assert(r.getBoolean(5), s"approx_percentile off for ${r.getString(0)}")
    }
  }

  private def SparkEntry_q(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)
}
