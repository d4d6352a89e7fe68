package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.functions.TextFunctions._

/** The production MinHash candidate contract: star edges are
  * membership-sized (≤ bands·|docs|), never clique-quadratic, and
  * produce the SAME connected components as the pairwise candidate set.
  */
class MinHashStarSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def shingled = {
    import graft.Tables.documents
    documents(spark, dir).select(col("doc_id"),
      shingleHashes(tokens(col("text")), 2).as("hs"))
  }

  test("star-edge count is membership-bounded: ≤ bands·|docs|") {
    val docs = shingled
    val nDocs = docs.count()
    val bands = 4
    val starsDf = DedupQueries.minHashStarCandidates(docs, bands = bands)
    val stars = starsDf.count()
    starsDf.unpersist()
    assert(stars <= bands * nDocs,
      s"star edges ($stars) exceed the membership bound (${bands * nDocs})")
  }

  test("star edges yield the same components as pairwise candidates") {
    val docs = shingled.persist()
    val withHs = docs.filter(size(col("hs")) > 0)

    // pairwise formulation (what dedup_mh_lsh emits)
    val sigs = withHs.select(
      (col("doc_id") +: (0 until 8).map(j =>
        minHash(col("hs"), j).as(s"s$j"))): _*)
    val bandsDf = sigs.select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"s${2 * b}").as("h1"),
          col(s"s${2 * b + 1}").as("h2"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.h1").as("h1"), col("bh.h2").as("h2"))
    val a = bandsDf.toDF("ia", "band", "h1", "h2")
    val b = bandsDf.toDF("ib", "band", "h1", "h2")
    val pairwise = a.join(b, Seq("band", "h1", "h2"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()

    val stars = DedupQueries.minHashStarCandidates(docs)
    val vertices = docs.select(col("doc_id"))
    val fromStars = DedupQueries.connectedComponents(vertices, stars)
    val fromPairs = DedupQueries.connectedComponents(vertices, pairwise)
    assert(fromStars.exceptAll(fromPairs).isEmpty &&
      fromPairs.exceptAll(fromStars).isEmpty,
      "star and pairwise candidate sets must produce identical components")
    stars.unpersist()
    docs.unpersist()
  }
  test("capped candidate pairs route oversized buckets via star edges") {
    import spark.implicits._
    // a 20-member identical family (every band bucket size 20) plus one
    // near-identical pair and one singleton
    val fam = (0L until 20L).map(i => (i, Seq(1L, 2L, 3L, 4L, 5L)))
    val pair = Seq((100L, Seq(10L, 11L, 12L, 13L)),
      (101L, Seq(10L, 11L, 12L, 13L)))
    val solo = Seq((200L, Seq(77L, 78L, 79L)))
    val hashes = (fam ++ pair ++ solo).toDF("doc_id", "hs")
    val uncapped = DedupQueries.lshCandidatePairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the family contributes 20·19/2 = 190 pairs + the pair
    assert(uncapped.size === 191)
    assert(uncapped.contains((100L, 101L)))
    val capped = DedupQueries.lshCandidatePairsCapped(hashes, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped (r8 routing semantics): the 20-member buckets contribute
    // STAR edges only — every member paired with the bucket minimum
    // (19 rows, not 190) — so verified family members are still
    // droppable; the small pair survives pairwise as before
    assert(capped === ((1L until 20L).map(i => (0L, i)).toSet + ((100L, 101L))))
    // a cap above every bucket size reproduces the uncapped set exactly
    val wide = DedupQueries.lshCandidatePairsCapped(hashes, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === uncapped)
  }

  test("simhash hamming bands have EXACT recall at the threshold (pigeonhole)") {
    // the dedup_sh_ham claim: 4 x 15-bit bands over the 60-bit simhash
    // find EVERY pair at hamming <= 3 (3 differing bits cannot touch
    // all 4 bands). Compare the banded gate against the brute-force
    // all-pairs popcount on real data — the sets must be identical.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    import graft.functions.TextFunctions.{tokens, shingleHashes}
    import graft.functions.TextHashExpressions.sim_hash60
    val h = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), sim_hash60(shingleHashes(col("tk"), 1)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- h; (ib, sb) <- h
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val banded = graft.SparkEntry.queries("dedup_sh_ham")(spark, dir)
      .select(col("ia"), col("ib")).as[(Long, Long)].collect().toSet
    assert(banded === brute,
      s"banded candidates diverge from brute force (${banded.size} vs ${brute.size})")
    assert(brute.nonEmpty, "no hamming-neighbor pairs at sf0.001 - vacuous")
  }

  test("capped simhash hamming routes identical-signature families via stars") {
    import spark.implicits._
    // 30 identical docs: identical SimHash => every band bucket has 30
    // members (> cap 10), so pairwise would emit 435 pairs; the capped
    // form emits 29 star edges and the family stays drop-decidable
    // (ham = 0 against the representative). Two near-identical docs in
    // small buckets keep the pairwise path exercised.
    val fam = (0 until 30).map(i => (1000L + i, "w1 w2 w3 w4 w5 w6 w7 w8"))
    val pair = Seq((100L, "p1 p2 p3 p4 p5 p6 p7"), (101L, "p1 p2 p3 p4 p5 p6 p7"))
    val solo = Seq((200L, "z1 z2 z3 z4 q9 q8 q7"))
    val fx = SharedSpark.tempDir("shham-dense").toFile
    fx.deleteOnExit()
    (fam ++ pair ++ solo).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    val capped = DedupQueries
      .simhashHamming(spark, fx.getAbsolutePath, maxBucket = Some(10))
      .select(col("ia"), col("ib")).as[(Long, Long)].collect().toSet
    // family: exactly the 29 star edges from the minimum member
    val famStars = (1001L to 1029L).map(i => (1000L, i)).toSet
    assert(capped.intersect(famStars) === famStars,
      "every family member must pair with the representative")
    assert(!capped.exists { case (a, b) =>
      a >= 1001L && a <= 1029L && b >= 1001L && b <= 1029L },
      "no pairwise edges inside the oversized family")
    assert(capped.contains((100L, 101L)),
      "small-bucket pairwise candidates must survive the cap")
    // the uncapped form on the same fixture is clique-quadratic
    val uncapped = DedupQueries
      .simhashHamming(spark, fx.getAbsolutePath, maxBucket = None)
      .count()
    assert(uncapped >= 435L + 1L, s"uncapped should be pairwise ($uncapped)")
  }
}
