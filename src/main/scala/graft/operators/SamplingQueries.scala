package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Sampling + distribution-statistics operators over `documents` — the
  * corpus-curation steps an LLM training pipeline runs after dedup:
  * rebalance languages/sources by deterministic subsampling, and audit
  * length distributions per stratum.
  *
  * Scale design (100 TB):
  *  - stratified sample: a PURE MAP filter — the keep/drop decision is
  *    an arithmetic hash of the row's own key (Knuth multiplicative,
  *    explicitly written out so any engine reproduces it), so sampling
  *    needs no shuffle, no RNG state, no coordination, and reruns
  *    byte-identically — rerunnable sampling is what makes a 100 TB
  *    curation job restartable.
  *  - quantiles: exact `percentile` is checked against the oracle at
  *    test scale AND validates its own `approx_percentile` companion in
  *    the same pass; at 100 TB the approx sketch (bounded memory,
  *    mergeable partials) is the production path, and the gate proves
  *    the two agree within tolerance on real data.
  */
object SamplingQueries extends GateFamily {

  // Knuth multiplicative hash on doc_id → a stable per-row value both
  // engines compute identically; mod 100 gives a percentile in [0,100).
  // doc_id is masked to 31 bits FIRST: the raw product overflows signed
  // 64-bit once doc_id exceeds ~3.47e9, which Spark wraps silently but
  // ANSI engines (the DuckDB oracle included) reject — the mask keeps
  // the product in range everywhere, so the "reruns identically on any
  // engine" claim holds at 100 TB id ranges, not just test data.
  private val pctHash = "pmod((doc_id % 2147483648) * 2654435761, 4294967296)"
  private val pctExpr = s"$pctHash % 100"

  def gates: Seq[Gate] = Seq(
    // Language rebalancing: downsample the dominant language (en → 10%)
    // and keep 30% of everything else.
    Gate("q_strat", (s, dir) => {
      documents(s, dir)
        .withColumn("pct", expr(pctExpr))
        .filter(col("pct") < when(col("lang") === "en", 10).otherwise(30))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }, _ =>
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE ((((doc_id % 2147483648) * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
        |ORDER BY doc_id""".stripMargin),

    // Reservoir-style k-per-stratum sample, deterministically: rank each
    // document inside its (lang, source) stratum by the same arithmetic
    // hash and keep the 5 lowest — a fixed-size per-stratum sample that
    // reruns byte-identically (a true reservoir's RNG state cannot).
    // The row_number()≤k form runs THROUGH the TopKRewrite bounded-heap
    // aggregate, so each stratum shuffles at most k rows per partition —
    // on a 100 TB corpus the shuffle carries ~k·strata·partitions rows,
    // not the corpus.
    Gate("q_sample_k", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(expr(pctHash), col("doc_id"))
      documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("source"), col("doc_id"), col("rn"))
    }, _ =>
      """SELECT lang, source, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT lang, source, doc_id,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY lang, source
        |           ORDER BY ((((doc_id % 2147483648) * 2654435761) % 4294967296 + 4294967296) % 4294967296),
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, source, rn""".stripMargin),

    // Domain mixing under a token budget — the "sampling weights" step
    // of corpus assembly (e.g. upweight curated sources, downweight raw
    // web): each source gets a target weight; its keep-rate is
    // weight_share × budget / source_tokens, capped at 1; documents keep
    // deterministically via the same Knuth hash as q_strat. All
    // rate arithmetic is INTEGER (micro-units, floor division) so both
    // engines agree bit-for-bit. 100 TB shape: two scans (token count +
    // filtered aggregate) with one vocabulary-of-sources-sized aggregate
    // broadcast between them — the keep decision itself is map-only.
    Gate("q_domain_mix", (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      // per-source totals + weights (weight = source ordinal % 4 + 1 —
      // a deterministic stand-in for a curation policy table)
      val bySrc = toks.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("src_tok"))
        .withColumn("w", expr("CAST(substring(source, 4) AS BIGINT) % 4 + 1"))
      val totals = bySrc.agg(sum(col("src_tok")).as("all_tok"), sum(col("w")).as("w_sum"))
      // budget = 40% of corpus tokens; rate in micro-units with pure
      // integer arithmetic: floor(w * budget * 1e6 / (w_sum * src_tok)).
      // int64 bound: w·budget·1e6 overflows past ~2e12 corpus tokens —
      // the rates are a per-source scalar table (20 rows), so a >2e12
      // corpus computes them in DECIMAL(38) driver-side; the map-only
      // keep rule below is what runs at corpus scale and never overflows
      val rates = bySrc.crossJoin(broadcast(totals))
        .withColumn("budget", expr("all_tok * 4 div 10"))
        // zero-token source keeps everything (rate 1): guarded explicitly
        // in BOTH engines — Spark's div-by-zero NULL and DuckDB's
        // div-by-zero ERROR would otherwise diverge
        .withColumn("rate_u", expr(
          "CASE WHEN src_tok = 0 THEN 1000000L " +
            "ELSE least(1000000L, w * budget * 1000000 div (w_sum * src_tok)) END"))
        .select(col("source"), col("w"), col("src_tok"), col("rate_u"))
      toks.join(broadcast(rates), "source")
        .filter(expr(s"$pctHash % 1000000") < col("rate_u"))
        .groupBy(col("source"), col("w"), col("src_tok"), col("rate_u"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    }, _ =>
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'),
        |                              x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |by_src AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok,
        |         CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w
        |  FROM toks GROUP BY 1),
        |tot AS (SELECT SUM(src_tok) AS all_tok, SUM(w) AS w_sum FROM by_src),
        |rates AS (
        |  SELECT source, w, src_tok,
        |         CAST(CASE WHEN src_tok = 0 THEN 1000000
        |              ELSE LEAST(1000000, w * (all_tok * 4 // 10) * 1000000
        |                         // (w_sum * src_tok)) END AS BIGINT) AS rate_u
        |  FROM by_src CROSS JOIN tot)
        |SELECT t.source, r.w, r.src_tok, r.rate_u,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       CAST(SUM(t.n_tok) AS BIGINT) AS tok_kept
        |FROM toks t JOIN rates r USING (source)
        |WHERE ((((t.doc_id % 2147483648) * 2654435761) % 4294967296 + 4294967296) % 4294967296) % 1000000
        |      < r.rate_u
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin),

    // WEIGHTED priority sampling (§2.64) — the Duffield-Lund-Thorup
    // (JACM 2007) priority-sample shape: each row draws a deterministic
    // pseudo-uniform u (the same Knuth hash as q_strat, on o_orderkey)
    // and gets priority u/w, and the k SMALLEST priorities per stratum
    // form a sample whose inclusion odds scale with the row's weight —
    // the "sample heavy rows preferentially, reproducibly" primitive a
    // curation pipeline uses for weight-aware corpus audits (weight =
    // order value here; token count or quality score in a document
    // corpus). The division is INTEGER micro-units (u·10^6 div w, exact
    // in int64 up to u < 2^32 · w ≥ 1) so ranks are engine-exact, and
    // the per-stratum top-k runs THROUGH the TopKRewrite bounded heap:
    // ≤ k rows per stratum per partition reach the shuffle, never the
    // table — the q_sample_k scale shape with weights.
    Gate("q_wsample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = "pmod((o_orderkey % 2147483648) * 2654435761, 4294967296)"
      val o = orders(s, dir)
        .withColumn("w",
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        // non-positive weight = excluded from the sample frame, stated
        // in BOTH engines (Spark div-by-zero NULL vs DuckDB error)
        .filter(col("w") > 0)
        .withColumn("prio", expr(s"$u * 1000000 div w"))
      val win = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("prio"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 8)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          col("prio"))
    }, _ =>
      """SELECT o_orderpriority, CAST(rn AS INT) AS rn, o_orderkey, prio
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, prio,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |           ORDER BY prio, o_orderkey) AS rn
        |  FROM (
        |    SELECT o_orderpriority, o_orderkey,
        |      ((((o_orderkey % 2147483648) * 2654435761) % 4294967296 + 4294967296) % 4294967296)
        |        * 1000000
        |        // CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        AS prio
        |    FROM orders
        |    WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0))
        |WHERE rn <= 8 ORDER BY o_orderpriority, rn""".stripMargin),

    // Per-language length distribution: exact quartiles of n_chars
    // (oracle-checked) + proof the mergeable approx sketch lands within
    // 5% of exact on the same data.
    Gate("q_quantiles", (s, dir) => {
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(n_chars, 0.25)"), 4).as("q25"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("q50"),
          round(expr("percentile(n_chars, 0.75)"), 4).as("q75"),
          expr("approx_percentile(n_chars, 0.5)").as("approx_q50"))
        .select(col("lang"), col("n"), col("q25"), col("q50"), col("q75"),
          (abs(col("approx_q50") - col("q50")) <= col("q50") * 0.05)
            .as("approx_ok"))
    }, _ =>
      """SELECT lang, COUNT(*) AS n,
        |  ROUND(quantile_cont(n_chars, 0.25), 4) AS q25,
        |  ROUND(quantile_cont(n_chars, 0.5), 4) AS q50,
        |  ROUND(quantile_cont(n_chars, 0.75), 4) AS q75,
        |  TRUE AS approx_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
  )
}
