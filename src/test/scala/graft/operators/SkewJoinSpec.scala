package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SkewJoinSpec extends AnyFunSuite with SharedSpark {

  test("salted join returns exactly the rows of the plain join") {
    import spark.implicits._
    // one hot key (90% of rows) + a long tail
    val fact = (1 to 1000).map(i =>
      (i.toLong, if (i % 10 == 0) s"k${i % 7}" else "hot", i * 1.5))
      .toDF("id", "k", "v")
    val dim = Seq(("hot", 1), ("k0", 2), ("k3", 3), ("nomatch", 9))
      .toDF("k", "w")
    val salted = SkewJoin.saltedJoin(fact, dim, "k", 8, col("id"))
      .select("id", "k", "w")
    val plain = fact.join(dim, Seq("k")).select("id", "k", "w")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("plan joins on (key, salt) via a shuffled join, no broadcast of dim") {
    import spark.implicits._
    val fact = (1 to 100).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "k")
    val dim = Seq(("k0", 1), ("k1", 2)).toDF("k", "w")
    val p = SkewJoin.saltedJoin(fact, dim, "k", 8, col("id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected shuffled merge join:\n$p")
    assert(p.contains("__salt"), "salt must be part of the join key")
  }

  test("a null salt expression must not drop fact rows") {
    import spark.implicits._
    val fact = Seq((Some(1L), "a"), (None: Option[Long], "a"))
      .toDF("salt_src", "k")
    val dim = Seq(("a", "dim_a")).toDF("k", "name")
    val got = SkewJoin.saltedJoin(fact, dim, "k", salts = 4,
      factSalt = col("salt_src"))
    assert(got.count() == 2,
      "row with null salt source vanished from the salted join")
  }

  test("salt spreads a hot key across all buckets") {
    import spark.implicits._
    val fact = (1 to 800).map(i => (i.toLong, "hot")).toDF("id", "k")
    val dim = Seq(("hot", 1)).toDF("k", "w")
    val byBucket = fact
      .withColumn("__salt", pmod(col("id"), lit(8)).cast("int"))
      .groupBy("__salt").count().collect()
    assert(byBucket.length === 8)
    assert(byBucket.forall(_.getLong(1) === 100L))
  }
}
