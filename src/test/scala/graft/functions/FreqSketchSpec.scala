package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class FreqSketchSpec extends AnyFunSuite with SharedSpark {

  /** zipf-ish skewed stream: token i appears ~N/i times. */
  private def skewed(n: Int): Seq[String] =
    (1 to 60).flatMap(i => Seq.fill(n / i)(s"t$i"))

  test("exact when capacity >= distinct count, across partitions") {
    import spark.implicits._
    val data = skewed(600)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = data.toDF("tok").repartition(4)
      .agg(FreqSketchOps.freqSketch(col("tok"), 256).as("fs"))
      .select(explode(col("fs")).as("e"))
      .select(col("e.token"), col("e.cnt"))
      .as[(String, Long)].collect().toMap
    assert(got === truth)
  }

  test("MG bounds hold when capacity < distinct count") {
    val n = 2000
    val data = skewed(n)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buf = new FreqSketchBuf(16)
    data.foreach(buf.add(_, 1L))
    val errBound = data.size.toLong / 16
    // stored counts are lower bounds within N/cap of truth
    buf.counts.foreach { case (t, c) =>
      assert(c <= truth(t), s"$t overestimated: $c > ${truth(t)}")
      assert(truth(t) - c <= errBound, s"$t under by more than N/cap")
    }
    // every token with true count > N/cap survives
    truth.filter(_._2 > errBound).keys.foreach { t =>
      assert(buf.counts.contains(t), s"heavy hitter $t evicted")
    }
  }

  test("merge sums shared counters and preserves the heavy-hitter bound") {
    val a = new FreqSketchBuf(8)
    val b = new FreqSketchBuf(8)
    skewed(400).foreach(a.add(_, 1L))
    skewed(400).reverse.foreach(b.add(_, 1L))
    val total = 2L * skewed(400).size
    a.mergeFrom(b)
    assert(a.counts.size <= 8)
    val truth = skewed(400).groupBy(identity).view.mapValues(_.size.toLong * 2).toMap
    a.counts.foreach { case (t, c) =>
      assert(c <= truth(t), s"merge overestimated $t")
      assert(truth(t) - c <= a.dropped, "merge under by more than dropped")
    }
    assert(a.dropped <= total / 8 * 2)
  }

  test("top-1 of the sketch matches the exact mode on skewed data") {
    import spark.implicits._
    val top = skewed(1000).toDF("tok").repartition(3)
      .agg(FreqSketchOps.freqSketch(col("tok"), 32).as("fs"))
      .select(explode(col("fs")).as("e"))
      .select(col("e.token")).as[String].head()
    assert(top === "t1")
  }
}
