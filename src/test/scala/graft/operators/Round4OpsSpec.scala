package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.functions.BloomFilterOps._
import graft.functions.{BloomKernel, ZOrderKernel}
import graft.functions.ZOrderOps._

/** Specs for the round-4 operators: snapshot diff, bloom semi-join,
  * z-order layout.
  */
class Round4OpsSpec extends AnyFunSuite with SharedSpark {

  // ---------------- snapshot diff ----------------

  test("snapshot diff classifies inserts, updates, deletes; drops no-ops") {
    import spark.implicits._
    val old = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("k", "s", "v")
    val neu = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 41), (5L, "e", 50))
      .toDF("k", "s", "v")
    val d = SnapshotDiff.diff(old, neu, "k", Seq("s", "v"))
      .orderBy("k").collect()
    assert(d.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "u"), (3L, "d"), (4L, "u"), (5L, "c")))
    // columns: k, op, before_s, after_s, before_v, after_v
    val ins = d.find(_.getLong(0) == 5L).get
    assert(ins.isNullAt(2) && ins.getString(3) == "e" && ins.getInt(5) == 50)
    val del = d.find(_.getLong(0) == 3L).get
    assert(del.getString(2) == "c" && del.isNullAt(3) && del.isNullAt(5))
  }

  test("snapshot diff treats null-to-value and value-to-null as updates") {
    import spark.implicits._
    val old = Seq((1L, Option.empty[String]), (2L, Some("x")), (3L, Option.empty[String]))
      .toDF("k", "s")
    val neu = Seq((1L, Some("y")), (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("k", "s")
    val ops = SnapshotDiff.diff(old, neu, "k", Seq("s"))
      .orderBy("k").select("k", "op").as[(Long, String)].collect()
    // k=3 null==null is a no-op and must NOT appear
    assert(ops.toSeq === Seq((1L, "u"), (2L, "u")))
  }

  // ---------------- bloom filter ----------------

  test("bloom filter has no false negatives and bounded false positives") {
    import spark.implicits._
    val keys = (1L to 2000L).map(_ * 7919)
    val bf = keys.toDF("k").repartition(4)
      .agg(bloomAgg(col("k"), numBits = 1 << 16).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    // every inserted key probes true — across the partial-merge path
    assert(keys.forall(k => BloomKernel.mightContain(bf, k)))
    // false-positive rate sanity on disjoint keys: n/m = 2000/65536,
    // theoretical fp ≈ (1-e^(-kn/m))^k ≈ 1e-5 at k=5; allow slack
    val misses = (1L to 10000L).map(_ * 7919 + 1)
    val fp = misses.count(k => BloomKernel.mightContain(bf, k))
    assert(fp < 50, s"false-positive rate too high: $fp/10000")
  }

  test("bloom prefilter keeps join results identical to the plain join") {
    import spark.implicits._
    val fact = (1L to 5000L).map(i => (i, i % 100)).toDF("fk", "w")
    val dim = (1L to 40L).map(i => (i * 50, s"d$i")).toDF("dk", "name")
    val pre = BloomJoin.bloomPrefilter(fact, col("fk"), dim, col("dk"),
      numBits = 1 << 12)
      .join(dim, col("fk") === col("dk"))
    val plain = fact.join(dim, col("fk") === col("dk"))
    assert(pre.exceptAll(plain).isEmpty && plain.exceptAll(pre).isEmpty)
  }

  test("bloom prefilter probe sits below the join exchange in the plan") {
    import spark.implicits._
    val fact = (1L to 100L).toDF("fk")
    val dim = (1L to 10L).toDF("dk")
    val plan = BloomJoin.bloomPrefilter(fact, col("fk"), dim, col("dk"))
      .join(dim.hint("merge"), col("fk") === col("dk"))
      .queryExecution.executedPlan.toString
    val probeAt = plan.indexOf("BloomKernel.mightContain")
    val exchangeAt = plan.indexOf("Exchange hashpartitioning(fk")
    assert(probeAt >= 0, s"probe missing from plan:\n$plan")
    assert(exchangeAt >= 0, s"expected a shuffled join:\n$plan")
    // tree printing is top-down, so "below the exchange" = printed AFTER
    // it; a regression hoisting the probe above the shuffle would flip
    // this ordering and re-inflate the exchange the filter exists to thin
    assert(probeAt > exchangeAt,
      s"probe must sit below the fact-side exchange:\n$plan")
    // regression guard: the bitset must enter as a scalar subquery
    // (evaluated once), NOT as a broadcast-joined column — the column
    // form defensively copies the full bitset per probed row
    assert(plan.contains("Subquery"),
      s"bitset should bind via scalar subquery:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bitset must not be cross-joined onto the fact:\n$plan")
  }

  // ---------------- z-order ----------------

  test("z-order interleave matches hand-computed values") {
    // x=0b101 (5), y=0b011 (3) → z bits: y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1
    assert(ZOrderKernel.interleave2(5L, 3L, 3) === 0x1BL)
    assert(ZOrderKernel.interleave2(0L, 0L, 16) === 0L)
    // single bits land at even (x) / odd (y) positions
    assert(ZOrderKernel.interleave2(1L, 0L, 1) === 1L)
    assert(ZOrderKernel.interleave2(0L, 1L, 1) === 2L)
    // high bits beyond `bits` are ignored
    assert(ZOrderKernel.interleave2(4L, 0L, 2) === 0L)
  }

  test("z-order expression matches the kernel over a grid") {
    import spark.implicits._
    val rows = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"), zValue2(col("x"), col("y"), 5).as("z"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) === ZOrderKernel.interleave2(r.getLong(0), r.getLong(1), 5))
    }
    // z is a bijection on the grid
    assert(rows.map(_.getLong(2)).distinct.length === 32 * 32)
  }

  test("clusterByZ yields non-overlapping z ranges across partitions") {
    import spark.implicits._
    val df = (1L to 4000L).map(i => (i, (i * 2654435761L) % 256, (i * 40503L) % 256))
      .toDF("id", "x", "y")
    val clustered = ZOrderLayout.clusterByZ(df, col("x"), col("y"), 8, 8)
    // recompute z per row with its partition id; ranges must not overlap
    val ranges = clustered
      .withColumn("z", zValue2(col("x"), col("y"), 8))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("lo").collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1),
        s"overlapping z ranges: $a vs $b")
      case _ =>
    }
  }

  test("z-clustered layout prunes row groups a random layout cannot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = (1L to 200000L)
      .map(i => (i, (i * 2654435761L) % 256, (i * 40503L) % 256))
      .toDF("id", "x", "y")
    val base = SharedSpark.tempDir("zprune").toString
    ZOrderLayout.clusterByZ(df, col("x"), col("y"), bits = 8,
      partitions = 16).write.mode("overwrite").parquet(s"$base/clustered")
    df.repartition(16).write.mode("overwrite").parquet(s"$base/random")
    // selective 2-D box: both dimensions constrained, neither a prefix
    def scanned(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("x") < 16 && col("y") < 16)
      q.collect()
      def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
        p match {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case s: FileSourceScanExec =>
            Seq(s.metrics("numOutputRows").value)
          case other => other.children.flatMap(leaves)
        }
      leaves(q.queryExecution.executedPlan).sum
    }
    val (zRows, rRows) = (scanned(s"$base/clustered"), scanned(s"$base/random"))
    // the random layout reads every row group (min/max spans the full
    // domain in every file); the z layout must skip most of them
    assert(rRows == 200000L, s"expected no pruning on random layout: $rRows")
    assert(zRows < rRows / 4,
      s"z layout should prune at least 4x: z=$zRows random=$rRows")
  }
}
