package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Epoch shuffle + token-balanced shard packing — the training-data
  * pipeline's LAST step, between curation (`pipe_curate`) / packing
  * (`text_pack`) and the trainer: deterministically permute the corpus
  * (so every epoch reads a different document order without a
  * stateful shuffle service) and cut the permuted order into N
  * contiguous shards of near-equal TOKEN mass (trainers consume
  * token-balanced files, not row-balanced ones — a row-balanced split
  * over heavy-tailed document lengths skews step time per worker).
  *
  * Determinism: the shuffle key is a seeded multiplicative permutation
  * `(doc_id mod 2^31) * M(seed)  (mod 2^32)` with the seed folded into
  * the MULTIPLIER, `M(seed) = 2654435761 * (2*seed + 1) mod 2^32` —
  * odd×odd stays odd, so M is a bijection mod 2^32 and 31-bit doc_ids
  * get distinct keys; ids beyond 2^31 collide with their mod-2^31
  * partner, so the global order key is `(h, doc_id)` — the doc_id
  * tiebreak keeps the order total, deterministic and identical in
  * both engines for ANY int64 id space (collision density 2^-31, so
  * the epoch-freshness property is unaffected). The seed must not be
  * additive: `h + seed` merely ROTATES the key space, so two "epochs"
  * would read the corpus in almost the same order (the spec pins >½
  * of documents re-bucketing across adjacent seeds); a different
  * multiplier genuinely re-permutes. Both engines state the hash in
  * pure int64 arithmetic (max intermediate (2^31−1)·(2^32−1) <
  * 2^63−1), and the oracle positivizes its modulus chain
  * (`(x % m + m) % m`) to match Spark's `pmod` on NEGATIVE ids too —
  * plain `%` follows the dividend's sign in both engines, which would
  * order a negative id's key differently than pmod.
  *
  * Scale shape (100 TB): ONE parallel range sort (the standard
  * sort-by-key shuffle — the minimum any global permutation pays),
  * then [[PrefixSum.withRunningTotal]]'s two-pass scan (per-partition
  * totals are O(partitions) driver metadata, the per-row pass is
  * narrow), then a map-only shard rule `least(N-1, cum_before div
  * target)`. The naive formulation — `sum() over (order by h)` — is a
  * single-partition window; the scan replaces it, identical semantics
  * (the oracle STATES the window form and the hash must match).
  * The physical write ([[writeShards]]) appends one directory per
  * shard with rows in permuted order, so a trainer streams each shard
  * sequentially.
  */
object ShardQueries extends GateFamily {

  /** Shards per epoch. 32 here (= test parallelism); a 100 TB corpus
    * uses O(corpus_tokens / shard_budget) — the rule is unchanged. */
  val ShardCount = 32

  /** Epoch seed: vary per epoch for a fresh permutation. */
  val Seed = 427031L

  /** Seed-folded odd multiplier: odd × odd mod 2^32 stays odd ⇒ a
    * bijection on [0, 2^32), injective on 31-bit doc_ids. */
  private[operators] def multiplier(seed: Long): Long =
    java.lang.Math.floorMod(2654435761L * (2 * seed + 1), 4294967296L)

  private def shuffleHash(seed: Long) =
    expr(s"pmod((doc_id % 2147483648) * ${multiplier(seed)}L, 4294967296)")

  /** Full assignment frame: doc_id, n_tok, h (permuted order key),
    * cum_before (exclusive token prefix in permuted order), shard.
    * Token-balanced by construction: every shard's mass is within one
    * document of target = ceil(total_tokens / nShards). */
  def assignShards(s: SparkSession, dir: String,
      nShards: Int = ShardCount, seed: Long = Seed): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("h", shuffleHash(seed))
    // the scan's pass 1 already totals the corpus driver-side — no
    // extra action for the target; empty corpus guarded to target 1;
    // doc_id tiebreak keeps the order total past 31-bit id spaces
    val (scanned, allTok) = PrefixSum.scanWithTotal(
      toks, "h", "n_tok", "cum_before", tieCols = Seq("doc_id"))
    val target = math.max(1L, (allTok + nShards - 1) / nShards)
    scanned.withColumn("shard",
      least(lit(nShards - 1L), expr(s"cum_before div $target")))
  }

  /** Physical shard layout: one directory per shard, rows in permuted
    * (h) order within each file so a trainer streams the shard
    * sequentially in epoch order. Carries the assignment columns
    * (doc_id, n_tok, h); a trainer joins payloads back by doc_id —
    * shipping full text through the permutation sort would shuffle the
    * corpus body where only the key set needs to move. */
  def writeShards(s: SparkSession, dir: String, out: String,
      nShards: Int = ShardCount, seed: Long = Seed): Unit = {
    val assigned = assignShards(s, dir, nShards, seed)
      .select(col("doc_id"), col("n_tok"), col("h"), col("shard"))
    assigned
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .write.partitionBy("shard").mode("overwrite").parquet(out)
  }

  def gates: Seq[Gate] = Seq(
    // Doc-level assignment — the oracle restates the permutation, the
    // window-form prefix and the shard rule; a hash match proves the
    // distributed scan ≡ the single-window semantics end-to-end.
    Gate("pipe_shard", (s, dir) =>
      assignShards(s, dir)
        .select(col("doc_id"), col("n_tok"), col("shard")), _ =>
      // token split uses the EXPLICIT whitespace class (incl. \v): RE2's
      // \s omits vertical tab where Java's includes it — the explicit
      // class makes the oracle exact even on VT-bearing text (the same
      // divergence text_tok_count documents for its n_piece column)
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(
         |           regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+'),
         |           x -> x <> '')) AS BIGINT) AS n_tok,
         |         (((doc_id % 2147483648) * ${multiplier(Seed)})
         |           % 4294967296 + 4294967296) % 4294967296 AS h
         |  FROM documents),
         |scan AS (
         |  SELECT doc_id, n_tok,
         |         COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cum_before
         |  FROM toks),
         |tot AS (
         |  SELECT GREATEST(1, (SUM(n_tok) + $ShardCount - 1)
         |                     // $ShardCount) AS target
         |  FROM toks)
         |SELECT s.doc_id, s.n_tok,
         |       CAST(LEAST(${ShardCount - 1}, s.cum_before // t.target)
         |            AS BIGINT) AS shard
         |FROM scan s CROSS JOIN tot t
         |ORDER BY doc_id""".stripMargin)
  )
}
