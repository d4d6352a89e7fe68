package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import graft.functions.KernelCall.{bind, param}

/** Column functions for the text-hash hot path.
  *
  * The HOF formulations (`aggregate(split(s,""), …)`) evaluate an
  * interpreted lambda and allocate a UTF8String PER CHARACTER — at 100 TB
  * that is billions of allocations inside the dedup scan. Each function
  * here is one [[KernelCall]] binding: a single static call into
  * [[TextHash]] inside WholeStageCodegen, with identical semantics to the
  * HOF versions (and to the DuckDB oracles).
  */
object TextHashExpressions {

  private val Longs = ArrayType(LongType)
  private val Strings = ArrayType(StringType)
  private val LongSet = ArrayType(LongType, containsNull = false)

  /** polyHash(string) → long. */
  def poly_hash(col: Column): Column =
    bind("poly_hash", TextHash, "polyHash", LongType)(col -> StringType)

  /** min((h*a+b) mod P) over array<long>. */
  def poly_minhash(col: Column, a: Long, b: Long): Column =
    bind("poly_minhash", TextHash, "minHash", LongType)(
      col -> Longs, param(a) -> LongType, param(b) -> LongType)

  /** One-pass 16-bit SimHash over array<long> token hashes. */
  def simhash16(col: Column): Column =
    bind("simhash16", TextHash, "simHash16", LongType)(col -> Longs)

  /** 60-bit SimHash over array<long> (see TextHash.simHash60). */
  def sim_hash60(col: Column): Column =
    bind("sim_hash60", TextHash, "simHash60", LongType)(col -> Longs)

  /** Σ position·polyHash(token) mod P over array<string>. */
  def fingerprint(col: Column): Column =
    bind("fingerprint", TextHash, "fingerprint", LongType)(col -> Strings)

  /** Word n-gram shingle hashes from array<string> tokens; no shingle
    * strings materialized.
    */
  def shingle_hashes(col: Column, n: Int): Column =
    bind("shingle_hashes", TextHash, "shingleHashes", LongSet)(
      col -> Strings, param(n) -> IntegerType)

  /** Distinct over array<long> (first-occurrence order). */
  def distinct_longs(col: Column): Column =
    bind("distinct_longs", TextHash, "distinctLongs", LongSet)(col -> Longs)

  /** Ascending-sorted distinct array<long> — the set form
    * [[intersect_count_sorted]] merges.
    */
  def sorted_distinct_longs(col: Column): Column =
    bind("sorted_distinct_longs", TextHash, "sortedDistinctLongs", LongSet)(col -> Longs)

  /** |A ∩ B| over two ascending-sorted array<long> — allocation-free
    * merge, vs `size(array_intersect(...))` building a hash set and the
    * intersection array per evaluation just to take its length.
    */
  def intersect_count_sorted(a: Column, b: Column): Column =
    bind("intersect_count_sorted", TextHash, "sortedIntersectCount", LongType)(
      a -> Longs, b -> Longs)

  /** Banded byte-Levenshtein (−1 past `maxDist`) — see
    * TextHash.levBanded. The §2.69 fuzzy-verify hot path: the builtin
    * levenshtein measured ~35 µs (full) / ~7 µs (banded) per 64-char
    * pair; this compiles to one static call on primitive rows.
    */
  def lev_banded(a: Column, b: Column, maxDist: Int): Column =
    bind("lev_banded", TextHash, "levBanded", IntegerType)(
      a -> StringType, b -> StringType, param(maxDist) -> IntegerType)

  /** Count of the most frequent value in array<long> (0 for empty). */
  def max_dup_count(col: Column): Column =
    bind("max_dup_count", TextHash, "maxDupCount", LongType)(col -> Longs)

  /** Whitespace-token count over a string — ≡ size(filter(split(s,
    * "\\s+"), _ != "")) without the token-array allocation or regex
    * (see TextHash.wsTokenCount). The count-only hot path. */
  def ws_token_count(col: Column): Column =
    bind("ws_token_count", TextHash, "wsTokenCount", IntegerType)(col -> StringType)

  /** Tokens of array<string> equal to one of `markers` (see
    * TextHash.markerCount).
    */
  def marker_count(toks: Column, markers: Seq[String]): Column =
    bind("marker_count", TextHash, "markerCount", IntegerType)(
      toks -> Strings, param(markers.toArray) -> Strings)

  /** The language whose marker list holds the most tokens of
    * array<string>, first-listed on a tie (see TextHash.langId).
    */
  def lang_id(toks: Column, markers: Seq[(String, Seq[String])]): Column =
    bind("lang_id", TextHash, "langId", StringType)(
      toks -> Strings, param(markers.map(_._1).toArray) -> Strings,
      param(markers.map(_._2.toArray).toArray) -> ArrayType(Strings))

  /** Winnowing fingerprint selection (see TextHash.winnow). */
  def winnow(col: Column, w: Int): Column =
    bind("winnow", TextHash, "winnow", LongSet)(col -> Longs, param(w) -> IntegerType)

  /** Exact Σ over array<long> (see TextHash.sumLongs). */
  def sum_longs(col: Column): Column =
    bind("sum_longs", TextHash, "sumLongs", LongType)(col -> Longs)

  /** Residue-class histogram over array<long> (see TextHash.modCounts). */
  def mod_counts(col: Column, m: Int): Column =
    bind("mod_counts", TextHash, "modCounts", LongSet)(col -> Longs, param(m) -> IntegerType)

  /** Adjacent-pair emitter over array<string> (see TextHash.adjacentPairs):
    * one (w1, w2) struct per position, last position (wₙ, NULL).
    */
  def adjacent_pairs(col: Column): Column =
    bind("adjacent_pairs", TextHash, "adjacentPairs", ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = true))), containsNull = false))(col -> Strings)
}
