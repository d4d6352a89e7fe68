package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Invariants of the winnow-fingerprint dedup path (`dedup_winnow`)
  * beyond the DuckDB gate: the fingerprint substitution must KEEP the
  * recall that matters (exact duplicates — identical fingerprint sets —
  * are always found at jac = 1.0) while running on fingerprint sets a
  * fraction of the full shingle sets' size (the whole point of the
  * substitution; the Schleimer shared-span guarantee itself is proven
  * in WinnowPropsSpec / VectorKernelPropsSpec).
  */
class DedupWinnowSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("every exact-duplicate pair is found with jac = 1.0") {
    // exact text duplicates (with >= 4 3-gram shingles, the winnow
    // domain) have identical fingerprint sets — identical minhash
    // signatures, so banding can never separate them, and the exact
    // verify scores them 1.0. This is the recall floor the fingerprint
    // substitution must never lose. The pinned testdata has no exact
    // text duplicates (its dup structure is near-dup), so the corpus
    // is synthetic: 10 base docs + verbatim copies of the first 5,
    // plus the sf0.001 docs as background noise.
    import spark.implicits._
    val rnd = new scala.util.Random(41L)
    val base = (0 until 10).map { i =>
      (5000L + i,
        (0 until 20).map(_ => s"w${rnd.nextInt(400)}").mkString(" "))
    }
    val copies = base.take(5).map { case (id, t) => (id + 100, t) }
    val fx = SharedSpark.tempDir("winnow-dup").toFile
    fx.deleteOnExit()
    val noise = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    (base ++ copies).toDF("doc_id", "text")
      .union(noise)
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    val found = DedupQueries.queries("dedup_winnow")(spark, fx.getAbsolutePath)
      .filter(col("jac") === 1.0)
      .select(col("ia"), col("ib")).as[(Long, Long)].collect().toSet
    val expected = base.take(5).map { case (id, _) => (id, id + 100) }.toSet
    val missed = expected.diff(found)
    assert(missed.isEmpty, s"exact-duplicate pairs missed: $missed")
  }

  test("fingerprint sets are a strict, bounded subset of the 3-gram sets") {
    // selection density: winnow(w=4) keeps roughly 2/(w+1) = 40% of the
    // grams; assert the corpus-wide ratio stays under 0.75 — if a
    // regression made winnow keep (nearly) everything, the candidate
    // volume advantage over the full-set path silently evaporates
    import graft.functions.TextFunctions.{tokens => toks, shingleHashes}
    import graft.functions.TextHashExpressions.{winnow, sorted_distinct_longs}
    val r = graft.Tables.documents(spark, dir)
      .select(shingleHashes(toks(col("text")), 3).as("g"))
      .filter(size(col("g")) >= 4)
      .select(size(winnow(col("g"), 4)).cast("long").as("nf"),
        size(sorted_distinct_longs(col("g"))).cast("long").as("ns"))
      .agg(sum(col("nf")).as("nf"), sum(col("ns")).as("ns"))
      .collect()(0)
    val ratio = r.getLong(0).toDouble / r.getLong(1).toDouble
    info(f"fingerprint/full-set size ratio = $ratio%.3f")
    assert(ratio < 0.75, f"winnow selection density degraded: $ratio%.3f")
    assert(ratio > 0.0)
  }
}
