package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines
  * (BASELINE.json mandate: language-ID, quality scoring, token counting,
  * document fingerprinting, shingling for dedup).
  *
  * No UDFs: the per-token work runs in [[TextHashExpressions]] kernels,
  * each one static call from WholeStageCodegen, per partition with no
  * driver involvement (100 TB rule). The few higher-order functions
  * left (the empty-token filter in [[tokens]], [[wordShingles]]'
  * transform, the classifier's aggregate) are `CodegenFallback`: Spark
  * interprets their lambdas per element, so a hot path gets a kernel
  * instead. Every function is deterministic and cross-engine
  * reproducible: hashes are explicit polynomial folds, not
  * engine-private hash implementations.
  */
object TextFunctions {

  /** The large prime modulus of every polynomial hash — aliased from
    * TextHash (the kernels' home) so the two can never drift.
    */
  val P: Long = TextHash.P

  /** Whitespace tokenization (empty tokens filtered). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Token count WITHOUT materializing the token array — a native
    * codegen byte scan (maximal non-`\s` runs, ≡ size(tokens(text)));
    * consumers that also need the array keep using [[tokens]] so the
    * split runs once. */
  def tokenCount(text: Column): Column =
    TextHashExpressions.ws_token_count(text)

  /** Deterministic polynomial string hash: fold(c → a*31 + ord(c) mod P).
    * Equivalent SQL: list_reduce(list_transform(string_split(s,''),
    * c -> ord(c)), (a,b) -> (a*31+b) % P). Native codegen expression —
    * the HOF formulation allocated a UTF8String per character.
    */
  def stringHash(s: Column): Column = TextHashExpressions.poly_hash(s)

  /** Word n-gram shingles (space-joined token windows). Guarded for docs
    * shorter than n tokens — `sequence(1, 0)` would count DOWN in Spark,
    * not produce an empty array.
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, typedLit(Seq.empty[String]))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))

  /** MinHash signature value j over a set of shingle hashes:
    * min((a_j·h + b_j) mod P) with fixed a_j = 2j+1, b_j = 13j+7.
    */
  def minHash(shingleHashes: Column, j: Int): Column =
    TextHashExpressions.poly_minhash(shingleHashes, 2L * j + 1, 13L * j + 7)

  /** 16-bit SimHash from token hashes (+1/−1 vote per bit, >0 → bit set);
    * one native pass instead of 16 interpreted folds.
    */
  def simHash16(tokenHashes: Column): Column =
    TextHashExpressions.simhash16(tokenHashes)

  /** Order-sensitive document fingerprint: Σ position·tokenHash mod P. */
  def docFingerprint(toks: Column): Column =
    TextHashExpressions.fingerprint(toks)

  /** Hashes of word n-gram shingles straight from the token array —
    * equivalent to `transform(wordShingles(toks,n), stringHash)` with no
    * intermediate shingle strings.
    */
  def shingleHashes(toks: Column, n: Int): Column =
    TextHashExpressions.shingle_hashes(toks, n)

  /** Hashing-trick linear classifier score over pre-computed token
    * hashes: Σ w[h mod 64] with the fixed Knuth-multiplicative integer
    * milli-weight table w[j] = (j·2654435761) mod 1997 − 998. ONE
    * definition shared by the `text_classify` gate and `pipe_curate`'s
    * classifier stage (and mirrored by `TextQueries.classifierSql`) so
    * a model tweak can never desynchronize them.
    */
  def classifierScoreFromHashes(hashes: Column): Column =
    aggregate(hashes, lit(0L), (acc, h) =>
      acc + (((h % 64) * lit(2654435761L)) % 1997 - 998))

  /** Classifier score straight from the token array — hashes via the
    * single-pass shingle kernel (n = 1 ≡ per-token polyHash), so a plan
    * already computing `shingleHashes(toks, 1)` pays the hash pass once
    * (codegen subexpression elimination collapses the two uses).
    */
  def classifierScore(toks: Column): Column =
    classifierScoreFromHashes(shingleHashes(toks, 1))

  /** Language-ID by marker-token voting; deterministic argmax with a
    * fixed tie-break order. Markers are configurable; defaults exercise
    * the mechanism on any vocabulary.
    */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "fast"),
    "fr" -> Seq("table", "row", "line"),
    "es" -> Seq("value", "part", "batch"),
    "de" -> Seq("window", "group", "merge"),
    "zh" -> Seq("spark", "scan", "hash"))

  /** Tokens listed in `markers`, each counted once; an empty list
    * scores 0. One kernel pass ([[TextHashExpressions.marker_count]]).
    */
  def markerScore(toks: Column, markers: Seq[String]): Column =
    TextHashExpressions.marker_count(toks, markers)

  /** The language whose markers the most tokens match (as
    * [[markerScore]] counts them), the first-listed on a tie: one kernel
    * pass counts every language. A NULL token array matches no marker,
    * so it ties everywhere and gets the first-listed language.
    */
  def langId(toks: Column,
      markers: Seq[(String, Seq[String])] = defaultMarkers): Column = {
    require(markers.nonEmpty, "langId needs at least one language")
    coalesce(TextHashExpressions.lang_id(toks, markers), lit(markers.head._1))
  }

  /** Quality heuristics over a document and its [[tokens]]: mean token
    * length, stopword ratio and a token-count band — per-row IEEE
    * doubles (deterministic cross-engine). The caller passes the token
    * array it already has, so the text is split once.
    */
  def qualityScore(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val stop = markerScore(toks, Seq("the", "a", "of", "and")).cast("double")
    val meanTokLen = (length(text).cast("double") - nTok + 1.0) / nTok
    val stopRatio = stop / nTok
    // empty/whitespace-only documents score 0, not +Infinity (IEEE x/0)
    // — Infinity would rank blank docs as the HIGHEST quality
    when(nTok === 0.0, lit(0.0)).otherwise(
      meanTokLen * lit(0.5) + stopRatio * lit(2.0) +
        when(nTok >= 20 && nTok <= 1000, lit(1.0)).otherwise(lit(0.0)))
  }
}
