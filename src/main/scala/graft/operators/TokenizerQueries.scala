package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Tokenizer-training and corpus-statistics operators — the remaining
  * text-pipeline family members from the curation literature:
  *
  *  - `text_sdedup`: EXACT SUBSTRING dedup (the Lee et al. 2021
  *    "Deduplicating Training Data Makes Language Models Better" ESD
  *    pass) re-expressed as fixed-length gram marking: every 8-token
  *    window that occurs anywhere else in the corpus — except its
  *    canonical first occurrence — is excised from the document. The
  *    suffix-array formulation is inherently single-machine; fixed-k
  *    gram marking is the distributed middle ground (duplicated spans
  *    ≥ k tokens are exactly the spans covered by duplicated k-grams).
  *  - `text_bpe`: one BPE tokenizer-TRAINING iteration (Sennrich et al.
  *    2016), distributed: corpus-wide adjacent-pair statistics, the
  *    argmax merge, and the greedy merge application — the statistic a
  *    trainer loop iterates ([[BpeTrainer]] is that loop).
  *  - `text_pmi`: PMI collocation mining — the classic corpus-analytics
  *    pass (Church & Hanks 1990) for multi-word-expression discovery.
  *
  * Reference analogue: the reference has no text analytics (SURVEY §2.7
  * — oracdc is a CDC pipeline); these extend the BASELINE.json
  * LLM-pipeline mandate alongside TextQueries.
  */
object TokenizerQueries extends GateFamily {

  private val K = 8 // gram length for substring dedup (tokens)

  def gates: Seq[Gate] = Seq(
    Gate("text_sdedup", (s, dir) => sdedup(s, dir), _ =>
      // same poly-hash domain as the dedup family (rep_filter precedent)
      (toksCte +
      """, t AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         list_reduce(list_transform(
        |             string_split(array_to_string(tk[i : i+7], ' '), ''),
        |             c -> CAST(ord(c) AS BIGINT)),
        |           (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) - 6)) AS i
        |        FROM t WHERE len(tk) >= 8)),
        |firsts AS (SELECT h, MIN(doc_id * 1000 + pos) AS mk FROM g GROUP BY 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, UNNEST(range(pos, pos + 8)) AS p
        |  FROM g JOIN firsts USING (h) WHERE doc_id * 1000 + pos <> mk),
        |ncov AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY 1),
        |pos AS (SELECT doc_id, UNNEST(range(0, len(tk))) AS p, tk FROM t),
        |kept AS (
        |  SELECT p.doc_id, string_agg(p.tk[p.p + 1], ' ' ORDER BY p.p) AS new_text
        |  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.p = p.p
        |  WHERE c.p IS NULL GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(n.n_removed, 0) AS BIGINT) AS n_removed,
        |       COALESCE(k.new_text, '') AS new_text
        |FROM t LEFT JOIN ncov n USING (doc_id) LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    Gate("text_bpe", (s, dir) => bpe(s, dir), _ =>
      (toksCte +
      """, tok AS (SELECT doc_id, UNNEST(tk) AS t FROM toks),
        |pairs AS (
        |  SELECT t[i : i+1] AS pr
        |  FROM (SELECT t, UNNEST(range(1, length(t))) AS i
        |        FROM tok WHERE length(t) >= 2)),
        |best AS (SELECT pr, COUNT(*) AS c FROM pairs GROUP BY 1
        |         ORDER BY c DESC, pr LIMIT 1)
        |SELECT doc_id,
        |  CAST(SUM(length(t)) AS BIGINT) AS n_sym0,
        |  CAST(SUM(length(replace(t, b.pr, chr(1)))) AS BIGINT) AS n_sym1,
        |  ANY_VALUE(b.pr) AS best_pair,
        |  CAST(ANY_VALUE(b.c) AS BIGINT) AS best_cnt
        |FROM tok, best b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Gate("text_pmi", (s, dir) => pmi(s, dir), _ =>
      (toksCte +
      """, t AS (SELECT tk FROM toks WHERE len(tk) > 0),
        |uni AS (SELECT t AS w, COUNT(*) AS c
        |        FROM (SELECT UNNEST(tk) AS t FROM t) GROUP BY 1),
        |n AS (SELECT SUM(c) AS n FROM uni),
        |bc AS (
        |  SELECT w1, w2, COUNT(*) AS cxy
        |  FROM (SELECT tk[i] AS w1, tk[i+1] AS w2
        |        FROM (SELECT tk, UNNEST(range(1, len(tk))) AS i
        |              FROM t WHERE len(tk) >= 2))
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT b.w1, b.w2, CAST(b.cxy AS BIGINT) AS cxy,
        |       CAST((b.cxy * 1000000 // u1.c) * n.n // u2.c AS BIGINT) AS pmi_u
        |FROM bc b, n
        |JOIN uni u1 ON u1.w = b.w1
        |JOIN uni u2 ON u2.w = b.w2
        |ORDER BY pmi_u DESC, w1, w2 LIMIT 20""".stripMargin)),
    Gate("pipe_tok", (s, dir) => pipeTok(s, dir), _ =>
      // the whole chain stated independently: three unrolled training
      // iterations (pair stats → argmax → replace-with-placeholder),
      // whole-text encode, window-function prefix sum for the packing
      (toksCte +
      """, t AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |tok AS (SELECT UNNEST(tk) AS w FROM t),
        |p1 AS (
        |  SELECT pr FROM (
        |    SELECT w[i : i+1] AS pr
        |    FROM (SELECT w, UNNEST(range(1, length(w))) AS i
        |          FROM tok WHERE length(w) >= 2))
        |  GROUP BY pr ORDER BY COUNT(*) DESC, pr LIMIT 1),
        |s1 AS (SELECT replace(w, (SELECT pr FROM p1), chr(1)) AS w FROM tok),
        |p2 AS (
        |  SELECT pr FROM (
        |    SELECT w[i : i+1] AS pr
        |    FROM (SELECT w, UNNEST(range(1, length(w))) AS i
        |          FROM s1 WHERE length(w) >= 2))
        |  GROUP BY pr ORDER BY COUNT(*) DESC, pr LIMIT 1),
        |s2 AS (SELECT replace(w, (SELECT pr FROM p2), chr(2)) AS w FROM s1),
        |p3 AS (
        |  SELECT pr FROM (
        |    SELECT w[i : i+1] AS pr
        |    FROM (SELECT w, UNNEST(range(1, length(w))) AS i
        |          FROM s2 WHERE length(w) >= 2))
        |  GROUP BY pr ORDER BY COUNT(*) DESC, pr LIMIT 1),
        |enc AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |         CAST(length(replace(replace(replace(array_to_string(tk, ' '),
        |             (SELECT pr FROM p1), chr(1)),
        |             (SELECT pr FROM p2), chr(2)),
        |             (SELECT pr FROM p3), chr(3)))
        |           - (len(tk) - 1) AS BIGINT) AS n_sym
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tok, n_sym,
        |         COALESCE(SUM(n_sym) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before
        |  FROM enc)
        |SELECT doc_id, n_tok, n_sym, CAST(cum_before AS BIGINT) AS cum_before,
        |       CAST(cum_before // 1024 AS BIGINT) AS blk0,
        |       CAST((cum_before + n_sym - 1) // 1024 AS BIGINT) AS blk1,
        |       CAST((cum_before + n_sym - 1) // 1024
        |            - cum_before // 1024 + 1 AS BIGINT) AS n_blocks,
        |       (SELECT pr FROM p1) AS m1, (SELECT pr FROM p2) AS m2,
        |       (SELECT pr FROM p3) AS m3
        |FROM c ORDER BY doc_id""".stripMargin)),

    // T5-style span-corruption sample builder (Raffel et al. 2020) —
    // the denoising-objective data-generation step between a curated
    // corpus and the trainer: ~15% of token positions are masked by a
    // DETERMINISTIC hash rule (Knuth-multiplicative over (doc_id, pos)
    // — rerunnable byte-identically, the q_strat rule), consecutive
    // masked positions collapse to ONE sentinel in the input, and the
    // target emits each span as sentinel + its tokens. Run-collapse
    // needs only each position's left neighbor — element_at(m, i), no
    // sequential state — so the whole op is ONE map pass at
    // parquet-scan speed with zero shuffle at 100 TB.
    Gate("text_mask", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        // pre-reduce mod 2^31 BEFORE the Knuth multiply (the q_strat
        // rule): (doc_id*1000+i) overflows the int64 product for
        // doc_id ≳ 3.47M — Spark would wrap silently (negative
        // remainder over-masks), DuckDB would raise — so the reduction
        // keeps both engines byte-identical at any corpus size
        .withColumn("m", expr(
          "transform(sequence(0, size(tk)-1)," +
            " i -> (((doc_id * 1000 + i) % 2147483648) * 2654435761)" +
            " % 1000000007 % 100 < 15)"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          expr("size(filter(m, x -> x))").cast("long").as("n_masked"),
          // element_at is 1-based: element_at(m, i+1) = mask of pos i,
          // element_at(m, i) = mask of pos i-1 (the left neighbor)
          concat_ws(" ", expr(
            "flatten(transform(sequence(0, size(tk)-1), i -> " +
              "CASE WHEN NOT element_at(m, i+1) THEN array(element_at(tk, i+1)) " +
              "WHEN i = 0 OR NOT element_at(m, i) THEN array('<X>') " +
              "ELSE array() END))")).as("input_text"),
          concat_ws(" ", expr(
            "flatten(transform(sequence(0, size(tk)-1), i -> " +
              "CASE WHEN NOT element_at(m, i+1) THEN array() " +
              "WHEN i = 0 OR NOT element_at(m, i) THEN array('<X>', element_at(tk, i+1)) " +
              "ELSE array(element_at(tk, i+1)) END))")).as("target_text"))
    }, _ =>
      // DuckDB list indexing is 1-based like element_at; m[i+1] = mask of
      // pos i, m[i] = left neighbor — identical neighbor logic
      (toksCte +
      """, t AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |mk AS (
        |  SELECT doc_id, tk,
        |         list_transform(range(0, len(tk)), i ->
        |           (((doc_id * 1000 + i) % 2147483648) * 2654435761)
        |             % 1000000007 % 100 < 15) AS m
        |  FROM t)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(m, x -> x)) AS BIGINT) AS n_masked,
        |  COALESCE(array_to_string(flatten(list_transform(range(0, len(tk)), i ->
        |    CASE WHEN NOT m[i+1] THEN [tk[i+1]]
        |         WHEN i = 0 OR NOT m[i] THEN ['<X>']
        |         ELSE [] END)), ' '), '') AS input_text,
        |  -- array_to_string([]) is NULL in DuckDB, '' in Spark's
        |  -- concat_ws: coalesce so a doc with no masked position (or
        |  -- all masked) states the same empty string in both engines
        |  COALESCE(array_to_string(flatten(list_transform(range(0, len(tk)), i ->
        |    CASE WHEN NOT m[i+1] THEN []
        |         WHEN i = 0 OR NOT m[i] THEN ['<X>', tk[i+1]]
        |         ELSE [tk[i+1]] END)), ' '), '') AS target_text
        |FROM mk ORDER BY doc_id""".stripMargin)),

    // Sliding-window document chunking — the retrieval/embedding prep
    // step (RAG indexing, long-doc embedding): 64-token windows at
    // stride 48 (16-token overlap so no boundary context is lost), a
    // trailing start is kept only while the previous window has not
    // already reached the document's end (s = 0 OR s + 16 < n — the
    // canonical "stop once covered" rule). Entirely MAP-ONLY: window
    // starts and slices come from the row's own token array, so at
    // 100 TB chunking runs at parquet-scan speed with zero shuffle and
    // the output feeds the ANN family's embedding side directly.
    Gate("text_chunk", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
          explode(expr(
            "transform(filter(transform(sequence(0, (size(tk)-1) div 48)," +
              " k -> k*48), s -> s = 0 OR s + 16 < size(tk))," +
              " s -> struct(s AS start, slice(tk, s+1, 64) AS w))")).as("c"))
        .select(col("doc_id"), col("n_tok"),
          col("c.start").cast("long").as("start"),
          size(col("c.w")).cast("long").as("n_chunk_tok"),
          concat_ws(" ", col("c.w")).as("chunk_text"))
    }, _ =>
      // DuckDB list slice tk[a : b] is 1-based inclusive and clamps at
      // the list end — identical to Spark's slice(tk, a, 64) semantics
      (toksCte +
      """, t AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |st AS (
        |  SELECT doc_id, tk, UNNEST(list_filter(
        |    list_transform(range(0, (len(tk)-1)//48 + 1), k -> k*48),
        |    s -> s = 0 OR s + 16 < len(tk))) AS s
        |  FROM t)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |       CAST(s AS BIGINT) AS start,
        |       CAST(len(tk[s+1 : s+64]) AS BIGINT) AS n_chunk_tok,
        |       array_to_string(tk[s+1 : s+64], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, start""".stripMargin))
  )

  /** Exact substring dedup. Plan shape (all equi-keyed, linear): one
    * persisted scan pass computes tokens + the K-gram hash array per
    * doc (the jac_lsh lesson: ONE tokenize/hash pass feeds every
    * consumer); posexplode → one shuffle keyed by gram hash finds each
    * gram's canonical first occurrence (min packed (doc,pos) —
    * map-side-combinable MIN); non-canonical occurrences expand to
    * their ≤K covered token positions (constant fan-out) and ONE
    * doc-keyed aggregation dedups them into the per-doc covered set
    * (collect_set — a distinct() first would add a second shuffle on
    * (doc_id, p) for nothing); the same shuffle's output joins back to
    * rebuild the excised document. Nothing pairwise — cost is linear
    * in corpus grams, the property that makes substring-level dedup
    * runnable at 100 TB where the suffix-array formulation needs the
    * corpus on one machine. Positions pack as doc_id*1000+pos
    * (≤ 553-char docs → < 1000 tokens, same bound as text_ldedup).
    */
  private[operators] def sdedup(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        shingleHashes(col("tk"), K).as("hs"))
      .persist()
    val grams = base.select(col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "g")))
    val firsts = grams.groupBy(col("g"))
      .agg(min(col("doc_id") * 1000 + col("pos")).as("mk"))
    // a gram with exactly one occurrence IS its own min — only true
    // duplicates survive the filter, no count needed
    val cov = grams.join(firsts, "g")
      .filter(col("doc_id") * 1000 + col("pos") =!= col("mk"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (K - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("cov"))
    val out = base.join(cov, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"),
        expr("CAST(array() AS ARRAY<INT>)")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tok"),
        size(col("cov")).cast("long").as("n_removed"),
        concat_ws(" ", expr(
          "transform(filter(sequence(0, size(tk)-1)," +
            " i -> NOT array_contains(cov, i))," +
            " i -> element_at(tk, i+1))")).as("new_text"))
      .localCheckpoint(true)
    base.unpersist(blocking = false)
    out
  }

  /** END-TO-END tokenizer chain — the corpus → training-tensors path as
    * ONE gate, composing the individually gated stages: tokenize →
    * BPE-TRAIN three merges (the iterated `text_bpe` statistic) →
    * ENCODE every document with the learned table → sequence-PACK the
    * symbol counts into 1024-symbol blocks (the `text_pack` prefix-sum
    * operator). The r7 trio proved the pieces; this proves the
    * composition against one independent DuckDB statement.
    *
    * Mechanics: merged pairs become PLACEHOLDER chars (U+0001..U+0003,
    * absent from the corpus — the `text_bpe` trick), so iteration k's
    * state is k chained `replace` calls over the original token — and
    * greedy left-to-right `replace` IS the sequential-BPE apply rule
    * for single-char symbols. Pair statistics are computed per TOKEN
    * (substring windows; pairs never contain a space), so applying the
    * replaces to the whole space-joined document text is equivalent to
    * per-token application — encode is ONE map pass over documents:
    * n_sym = length(enc_text) − (n_tok − 1) separators.
    *
    * Plan shape: ONE persisted tokenize pass feeds training, encode
    * and packing (PlanAuditSpec asserts the cache reuse). Each of the
    * three training iterations is one map-side-combinable pair count
    * ending in a 1-ROW argmax collect (the BpeTrainer/PrefixSum
    * metadata pattern — the merge table lives on the driver, the
    * corpus never moves); encode rides the learned pairs as literals
    * at parquet-scan speed; packing is the two-pass distributed
    * exclusive scan ([[PrefixSum.withRunningTotal]]), never a
    * single-partition window. At 100 TB: 3 aggregation passes + 1 map
    * pass + the O(P) scan step.
    */
  private[operators] def pipeTok(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .persist()
    val merges = learnChainMerges(tok, n = 3)
    val out = packEncoded(tok, merges)
    tok.unpersist(blocking = false)
    out
  }

  /** The three placeholder chars the chain's merges collapse to —
    * absent from the corpus by construction (the `text_bpe` trick).
    */
  private val placeholders = Seq("\u0001", "\u0002", "\u0003")

  /** Pair statistics over the current symbol state (prior merges
    * applied as chained literal replaces) — the frame one training
    * iteration aggregates.
    */
  private def pairStats(tok: DataFrame,
      applied: Seq[(String, String)]): DataFrame = {
    val st = applied.foldLeft(col("t")) { case (c, (p, ch)) =>
      replace(c, lit(p), lit(ch))
    }
    tok.select(explode(col("tk")).as("t"))
      .select(st.as("st"))
      .filter(length(col("st")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(st)-1), i -> substring(st, i, 2))"))
        .as("pr"))
      .groupBy(col("pr")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pr")).limit(1)
  }

  /** n training iterations, each one map-side-combinable pair count
    * ending in a 1-ROW argmax collect (the BpeTrainer metadata
    * pattern — the merge table lives on the driver).
    */
  private[operators] def learnChainMerges(tok: DataFrame, n: Int): Seq[String] =
    (0 until n).foldLeft(Seq.empty[String]) { (acc, i) =>
      // headOption + a diagnosable failure: a corpus whose symbol state
      // has no length-≥2 token yields an EMPTY argmax — a bare
      // collect()(0) would die with ArrayIndexOutOfBoundsException and
      // no context (and downstream merges(0..2) literals assume all n
      // merges exist, so degrading to fewer merges is not an option)
      val best = pairStats(tok, acc.zip(placeholders)).collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"BPE chain training: no adjacent symbol pair exists at " +
            s"iteration $i of $n — the corpus cannot support $n merges"))
      acc :+ best.getString(0)
    }

  /** Encode with the learned merges (one map pass over the
    * space-joined document — see the pipeTok scaladoc for why this
    * equals per-token apply) and sequence-pack the symbol counts via
    * the distributed exclusive scan.
    */
  private def packEncoded(tok: DataFrame, merges: Seq[String]): DataFrame = {
    val enc = merges.zip(placeholders).foldLeft(concat_ws(" ", col("tk"))) {
      case (c, (p, ch)) => replace(c, lit(p), lit(ch))
    }
    val perDoc = tok.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tok"),
      (length(enc) - (size(col("tk")) - 1)).cast("long").as("n_sym"))
    PrefixSum.withRunningTotal(perDoc, "doc_id", "n_sym", "cum_before")
      .withColumn("blk0", expr("cum_before div 1024"))
      .withColumn("blk1", expr("(cum_before + n_sym - 1) div 1024"))
      .withColumn("n_blocks", col("blk1") - col("blk0") + 1)
      // the learned merge table rides in the manifest — the gate's
      // output proves the TRAIN stage, not just the packing
      .withColumn("m1", lit(merges(0))).withColumn("m2", lit(merges(1)))
      .withColumn("m3", lit(merges(2)))
  }

  /** One BPE training iteration. The pair statistic counts OVERLAPPING
    * adjacent occurrences ("aaa" contributes two "aa") — the exact
    * figure sequential BPE maximizes — and the merge applies greedily
    * left-to-right (String.replace semantics, identical in DuckDB).
    * Plan: the exploded token frame persists once (pair counts + the
    * per-doc symbol sums are its two consumers); the winning pair is a
    * 1-row aggregate BROADCAST back, so the corpus never moves — at
    * 100 TB each iteration costs one map-side-combinable count plus
    * one map pass, and the trainer loop ([[BpeTrainer.learn]]) carries
    * only the merge table on the driver.
    */
  private[operators] def bpe(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .persist()
    val best = tok.filter(length(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(t)-1), i -> substring(t, i, 2))"))
        .as("best_pair"))
      .groupBy(col("best_pair")).agg(count(lit(1)).as("best_cnt"))
      .orderBy(col("best_cnt").desc, col("best_pair")).limit(1)
    val out = tok.crossJoin(broadcast(best))
      .groupBy(col("doc_id"))
      .agg(sum(length(col("t"))).as("n_sym0"),
        // the merged pair becomes ONE symbol: a 1-char placeholder
        // (U+0001, absent from the corpus) keeps string length ==
        // symbol count
        sum(length(replace(col("t"), col("best_pair"),
          lit(1.toChar.toString)))).as("n_sym1"),
        first(col("best_pair")).as("best_pair"),
        first(col("best_cnt")).as("best_cnt"))
      .localCheckpoint(true)
    tok.unpersist(blocking = false)
    out
  }

  /** PMI collocations: score_u = ((cxy·10^6 div cx)·N) div cy — the
    * PMI ratio in integer micro-units (log is monotone, so the top-k
    * is the top-k PMI; integer arithmetic keeps both engines
    * bit-equal). The division order is chosen for OVERFLOW SAFETY:
    * cxy·10^6 ≤ N·10^6 and (cxy·10^6 div cx) ≤ 10^6·(cxy/cx) ≤ 10^6,
    * so the largest intermediate is ~10^6·N — int64-safe to ~9×10^12
    * corpus tokens (trillions), where the naive cxy·N·10^6 product
    * wraps (silently in Spark, an error in DuckDB) at ~10^10 tokens.
    * Plan (r9, the text_dsir fusion): ONE token-stream aggregation
    * serves both tallies — each position i emits (tᵢ, tᵢ₊₁), the LAST
    * position (tₙ, NULL), so every token occurs exactly once as w1
    * and the unigram count is c(w) = Σ_{w2, incl NULL} cxy(w,·) —
    * derived from the DISTINCT-BIGRAM-sized grouped frame, never a
    * second pass over the corpus (the r8 form paid two full
    * token-stream shuffles; measured 2.1× its oracle at 10×). The
    * bigram frame then joins the unigram frame EQUI-KEYED on each
    * word — a 100 TB corpus's vocabulary does not broadcast (the
    * text_dsir rule) — and N rides as a broadcast scalar. Ranking is
    * a global top-20 (TakeOrdered, k rows per partition).
    * min-support cxy ≥ 5 prunes the noise floor, as in Church & Hanks.
    */
  private[operators] def pmi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no corpus-sized persist: the token stream is read ONCE (the whole
    // point of the fusion); only the grouped pair frame — bounded by
    // |distinct bigrams|, orders of magnitude below the corpus — caches
    val g = documents(s, dir)
      .select(tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      // native one-pass pair emitter — the transform(sequence(...)) HOF
      // form evaluated an interpreted lambda per token (r9 measured)
      .select(explode(graft.functions.TextHashExpressions
        .adjacent_pairs(col("tk"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
    // w1's unigram count RIDES the tally frame as a window sum
    // (r11 — the r10 verdict's remaining item): one w1-keyed shuffle
    // of the distinct-bigram frame replaces the separate unigram
    // aggregate + bigram→w1 equi-join the r9 shape paid (same shuffle
    // key, plus an extra aggregate and join stage). The w2 join stays
    // an equi-join against the per-word frame derived from the SAME
    // windowed partitioning (vocabulary never broadcasts at 100 TB —
    // the text_dsir rule).
    val gw = g.withColumn("c1",
        sum(col("cxy")).over(Window.partitionBy(col("w1"))))
      .persist()
    // c1 is constant per w1 group and gw is already w1-partitioned, so
    // this aggregate adds no exchange
    val uni = gw.groupBy(col("w1")).agg(first(col("c1")).as("c"))
    val nTot = uni.agg(sum(col("c")).as("n"))
    val bi = gw.filter(col("w2").isNotNull && col("cxy") >= 5)
    val out = bi.crossJoin(broadcast(nTot))
      .join(uni.select(col("w1").as("w2"), col("c").as("c2")), "w2")
      .select(col("w1"), col("w2"), col("cxy"),
        expr("(cxy * 1000000 div c1) * n div c2").as("pmi_u"))
      .orderBy(col("pmi_u").desc, col("w1"), col("w2")).limit(20)
      .localCheckpoint(true)
    gw.unpersist(blocking = false)
    out
  }

  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
      |  FROM documents)
      |""".stripMargin
}
