package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The distributed exclusive scan must agree with the single-partition
  * window formulation (the semantics) while never BEING one (the scale
  * property), and its output must be invariant to how the input arrives.
  */
class PrefixSumSpec extends AnyFunSuite with SharedSpark {

  private def reference(rows: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    var acc = 0L
    rows.sortBy(_._1).map { case (k, v) =>
      val r = (k, v, acc); acc += v; r
    }
  }

  test("exclusive scan equals the window formulation on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val rows = new scala.util.Random(7L)
      .shuffle((0L until 500L).toList)
      .map(k => (k, rnd.nextInt(2000).toLong))
    val df = rows.toDF("k", "v")
    val got = PrefixSum.withRunningTotal(df, "k", "v", "cum")
      .select("k", "v", "cum").orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === reference(rows))
  }

  test("output is invariant under adversarial input partitioning") {
    import spark.implicits._
    val rows = (0L until 300L).map(k => (k, (k * 13 % 97) + 1))
    val layouts = Seq(
      rows.toDF("k", "v").repartition(1),
      rows.toDF("k", "v").repartition(17, col("v")), // keyed by VALUE
      rows.reverse.toDF("k", "v").repartition(5))
    val results = layouts.map { df =>
      PrefixSum.withRunningTotal(df, "k", "v", "cum")
        .select("k", "cum").orderBy("k")
        .as[(Long, Long)].collect().toSeq
    }
    assert(results.distinct.size === 1,
      "prefix sum must not depend on input partitioning")
    assert(results.head === reference(rows).map(t => (t._1, t._3)))
  }

  test("AQE cannot re-plan between the two passes: persist pins the partitioning") {
    // the r7 verdict belt item: pass 1 collects per-PARTITION totals
    // and pass 2 seeds each partition from its offset slot — an AQE
    // coalesce between the passes would mis-seed (the require() belt
    // fails loudly). This spec PROVES the pinning: a dedicated session
    // with AQE fully armed to coalesce (tiny advisory sizes, high
    // initial partition count) must still produce the exact reference
    // scan, because the persisted range-partitioned frame materializes
    // under pass 1's action and both passes read the SAME cached
    // partitioning.
    // isolated child session (own SQLConf, shared context — safe to
    // configure without touching the suite session or stopping it)
    val aq = spark.newSession()
    aq.conf.set("spark.sql.shuffle.partitions", 64)
    aq.conf.set("spark.sql.adaptive.enabled", "true")
    aq.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    aq.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    aq.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64b")
    aq.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
    import aq.implicits._
    val rnd = new scala.util.Random(23L)
    val rows = new scala.util.Random(29L)
      .shuffle((0L until 400L).toList)
      .map(k => (k, rnd.nextInt(1000).toLong))
    val df = rows.toDF("k", "v").repartition(32)
    val got = PrefixSum.withRunningTotal(df, "k", "v", "cum")
      .select("k", "v", "cum").orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === reference(rows),
      "prefix sum diverged under aggressive AQE coalescing")
  }

  test("the scan plan contains no single-partition global window") {
    // the plans the operator ran: pass 1's totals and pass 2's eager
    // checkpoint, which is the last
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "CAST(n_chars AS BIGINT) AS v")
    val ps = executedPlans(PrefixSum.withRunningTotal(df, "doc_id", "v", "cum"))
      .map(finalPlan)
    assert(ps.nonEmpty, "the scan ran no query")
    ps.foreach(p => assert(!p.contains("Window ["),
      s"the scan must not plan a window:\n$p"))
    assert(ps.last.contains("MapPartitions") || ps.last.contains("mapPartitions"),
      s"expected the per-partition scan stage:\n${ps.last}")
  }

  test("fuzz: 15 seeded-random layouts all agree with the reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(2024L)
    val rows = (0L until 200L).map(k => (k, rnd.nextInt(500).toLong))
    val want = reference(rows).map(t => (t._1, t._3))
    (1 to 15).foreach { i =>
      val shuffled = new scala.util.Random(i.toLong).shuffle(rows.toList)
      val nPart = 1 + i % 9
      val df =
        if (i % 3 == 0) shuffled.toDF("k", "v").repartition(nPart, col("v"))
        else if (i % 3 == 1) shuffled.toDF("k", "v").repartition(nPart)
        else shuffled.toDF("k", "v").coalesce(nPart)
      val got = PrefixSum.withRunningTotal(df, "k", "v", "cum")
        .select("k", "cum").orderBy("k").as[(Long, Long)].collect().toSeq
      assert(got === want, s"layout $i ($nPart parts) diverged")
    }
  }

  test("empty input and single-row input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(PrefixSum.withRunningTotal(empty, "k", "v", "cum").count() === 0L)
    val one = Seq((42L, 7L)).toDF("k", "v")
    val got = PrefixSum.withRunningTotal(one, "k", "v", "cum")
      .select("k", "v", "cum").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((42L, 7L, 0L)))
  }
}
