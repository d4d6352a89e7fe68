package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Round-4 additions: incremental aggregate maintenance, containment
  * dedup, correlated-subquery decorrelation.
  */
class IncrementalSubquerySpec extends AnyFunSuite with SharedSpark {

  private def sf = "/root/testdata/sf0.001"

  test("maintain: equals direct re-aggregation, including vanished groups") {
    import spark.implicits._
    // base rows per key; key 1 loses all rows, key 2 is re-priced,
    // key 3 gains one, key 4 appears fresh
    val base = Seq((1L, 2L, 30L), (2L, 1L, 10L), (3L, 1L, 5L))
      .toDF("k", "n", "total")
    val delta = Seq(
      ("d", 1L, Some(10L), None: Option[Long]),
      ("d", 1L, Some(20L), None),
      ("u", 2L, Some(10L), Some(17L)),
      ("c", 3L, None, Some(7L)),
      ("c", 4L, None, Some(100L))
    ).toDF("op", "k", "before", "after")
    val got = IncrementalAgg.maintain(base, delta, "k")
      .orderBy("k").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((2L, 1L, 17L), (3L, 2L, 12L), (4L, 1L, 100L)))
  }

  test("maintain: NULL group keys merge like GROUP BY's single null group") {
    import spark.implicits._
    // GROUP BY collapses all NULL keys into one group; the maintenance
    // join must use null-safe equality or a null-key retraction never
    // meets its base row (and even vanishes at the n>0 filter)
    val base = Seq((Some(1L), 1L, 10L), (None, 2L, 100L))
      .toDF("k", "n", "total")
    val delta = Seq(
      ("d", None: Option[Long], Some(60L), None: Option[Long]),
      ("c", Some(1L), None: Option[Long], Some(5L))
    ).toDF("op", "k", "before", "after")
    val got = IncrementalAgg.maintain(base, delta, "k")
      .orderBy(col("k").asc_nulls_first)
      .as[(Option[Long], Long, Long)].collect()
    assert(got.toSeq === Seq((None, 1L, 40L), (Some(1L), 2L, 15L)),
      s"null-key group must maintain like any other: ${got.toSeq}")
  }

  test("snapshot diff with empty compareCols captures inserts/deletes only") {
    import spark.implicits._
    val oldDf = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val newDf = Seq((2L, "z"), (3L, "w")).toDF("k", "v")
    val got = SnapshotDiff.diff(oldDf, newDf, "k", Seq.empty)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    // key 2 present in both → no 'u' possible without compare columns
    assert(got.toSeq === Seq((1L, "d"), (3L, "c")))
  }

  test("randomized join maintenance: maintained view equals recomputation, 20 changelogs") {
    // the q_incr_join shape on synthetic frames: a fact table joined to
    // a dimension, rolled up by the dimension attribute; random fact
    // changelogs (insert/delete mixes, incl. keys joining nothing and
    // groups emptying out) maintained incrementally must equal a
    // from-scratch recompute of the post-change join
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val dim = (1L to 8L).map(k => (k, s"g${k % 3}")).toDF("dk", "grp")
    (1 to 20).foreach { trial =>
      val factBase = (1 to 20).map { i =>
        (rnd.nextLong(10) + 1, rnd.nextLong(50) + 1, i.toLong)
      } // (dk in [1,10] vs dim keys 1..8 — 9 and 10 dangle; cents; rowid)
      val delIds = factBase.map(_._3).filter(_ => rnd.nextInt(3) == 0).toSet
      val ins = (1 to rnd.nextInt(8)).map { i =>
        (rnd.nextLong(10) + 1, rnd.nextLong(50) + 1)
      }
      val baseDf = factBase.toDF("dk", "cents", "rid")
      val base = baseDf.join(dim, "dk").groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
      val delta =
        baseDf.filter($"rid".isin(delIds.toSeq: _*)).join(dim, "dk")
          .select($"grp", lit("d").as("op"), $"cents".as("before"),
            lit(null).cast("long").as("after"))
          .unionByName(ins.toDF("dk", "cents").join(dim, "dk")
            .select($"grp", lit("c").as("op"),
              lit(null).cast("long").as("before"), $"cents".as("after")))
      val got = IncrementalAgg.maintain(base, delta, "grp")
        .orderBy($"grp").as[(String, Long, Long)].collect().toSeq
      val post = factBase.filterNot(r => delIds.contains(r._3))
        .map(r => (r._1, r._2)) ++ ins
      val expect = post.toDF("dk", "cents").join(dim, "dk").groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
        .orderBy($"grp").as[(String, Long, Long)].collect().toSeq
      assert(got === expect, s"trial $trial: dels=$delIds ins=$ins")
    }
  }

  test("maintain gate: maintenance equals recomputation on testdata") {
    val got = IncrementalAgg.queries("q_incr_agg")(spark, sf)
    import graft.Tables._
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val post = o.filter(col("o_orderdate") < cutoff &&
        col("o_orderkey") % 17 =!= 0)
      .withColumn("cents", col("cents") +
        when(col("o_orderkey") % 19 === 0, 100L).otherwise(0L))
      .unionByName(o.filter(col("o_orderdate") >= cutoff))
    val direct = post.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
      .orderBy(col("o_custkey"))
    assert(got.collect().toSeq === direct.collect().toSeq)
  }

  test("containment: embedded short doc scores 1.0 one-way") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix tail"),
      (3L, "completely different content with other words entirely")
    ).toDF("doc_id", "text")
    val dir = SharedSpark.tempDir("contain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupQueries.containment(spark, dir, None, 0.8)
      .select("contained", "container", "cont").collect()
    // doc 1's 7 bigram shingles all occur in doc 2 → containment 1.0
    assert(rows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) == 1.0))
    // doc 2 is NOT contained in doc 1 (11 shingles, only 7 shared → 0.64)
    assert(!rows.exists(r => r.getLong(0) == 2L && r.getLong(1) == 1L))
    assert(!rows.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("correlated EXISTS decorrelates to semi/anti joins") {
    val df = SubqueryQueries.queries("q_exists")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected LeftSemi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected LeftAnti join:\n$plan")
  }

  test("correlated scalar subquery matches join formulation") {
    import graft.Tables._
    val o = orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val avgs = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("s"))
    val expect = o.join(avgs, "o_custkey")
      .filter(col("cents") * col("cnt") > col("s"))
      .select(col("o_orderkey")).orderBy(col("o_orderkey"))
    val got = SubqueryQueries.queries("q_scalar")(spark, sf)
    assert(got.collect().toSeq === expect.collect().toSeq)
  }

  test("SCD2 apply equals full rebuild at every batch boundary") {
    import org.apache.spark.sql.functions._
    // the rebuild reference: one SCD2 window over the FULL history —
    // what the q_scd2_apply oracle states in SQL, here in Spark so the
    // equivalence can be checked at cutoffs the gate doesn't cover,
    // including the degenerate splits (all-base, all-delta)
    val rows = graft.Tables.orders(spark, sf).select(
      (col("o_orderkey") % 997).as("k"), col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"),
      col("o_orderdate").as("ts"))
    // multiset compare (row -> count), NOT a set: a duplicate emission
    // from one of the apply's union branches must fail, not vanish
    def multiset(rs: Array[org.apache.spark.sql.Row]): Map[String, Int] =
      rs.map(_.toString).groupBy(identity).view.mapValues(_.length).toMap
    val rebuild = multiset(CdcQueries.scd2(rows, "k", "ts", "o_orderkey")
      .select(col("k"), col("o_orderkey"), col("cents"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect())
    for (cutoff <- Seq("1992-01-01", "1994-06-15", "1996-01-01",
        "1997-08-01", "2000-01-01")) {
      val applied = multiset(
        IncrementalAgg.scd2Apply(spark, sf, cutoff).collect())
      assert(applied === rebuild, s"apply != rebuild at cutoff $cutoff")
    }
  }
}
