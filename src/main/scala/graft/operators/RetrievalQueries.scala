package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Ranked retrieval + statistical language-model scoring over the
  * `documents` corpus — the two text operators a training-data pipeline
  * runs that the dedup/quality families don't cover:
  *
  *  - **BM25 top-k retrieval** (`text_bm25`): the standard sparse
  *    retrieval scorer (Robertson/Spärck Jones). Used in curation to
  *    pull topic-relevant subsets out of a web corpus and as the
  *    retrieval half of decontamination-by-query. 100 TB shape: the
  *    broadcast query-term set filters the exploded token stream
  *    BEFORE the one (doc, term)-keyed shuffle, so the exchange
  *    carries only query-term hits (≤ |terms| per document), never the
  *    corpus's full postings; term statistics (df per term —
  *    query-bounded) and the query set BROADCAST; scoring is a
  *    broadcast hash join over the slice; the final top-k per query
  *    runs through the TopKRewrite bounded heap, so the rank shuffle
  *    carries ≤ k rows per partition per query, never the candidate
  *    lists.
  *
  *  - **Bigram-LM negative log-likelihood** (`text_lm_score`): the
  *    CCNet-style "train a small LM on the corpus, score every document,
  *    filter the tail" quality signal, with add-one smoothing. 100 TB
  *    shape: unigram/bigram count tables are vocabulary-sized aggregates
  *    (one shuffle each); scoring re-joins counts onto the exploded
  *    bigram stream by key (equi-joins, postings-shaped — never
  *    all-pairs); the per-document reduce is the only other shuffle.
  *    (Hash-keyed and per-distinct-NLL variants were measured slower
  *    at sf0.1 AND 10× and reverted — see the lmScore body note.)
  *
  * Cross-engine float determinism (same convention as the vector
  * kernels, `VectorFunctions.scala`): every per-term/per-bigram double
  * score is quantized to integer micro-units (`floor(x * 1e6)`) BEFORE
  * aggregation, so the sum is exact integer arithmetic — associative,
  * order-free — and the only float sensitivity left is `ln`'s last ulp
  * landing exactly on a floor boundary (~1e-10 per value).
  *
  * Reference basis: oracdc has no retrieval surface (it is a CDC
  * engine); these extend the BASELINE.json LLM-pipeline mandate the way
  * `text_decontam`/`dedup_*` do.
  */
object RetrievalQueries extends GateFamily {

  /** Fixed query set: (qid, term) pairs over the synthetic vocabulary.
    * Literal in BOTH engines so tokenization parity is not part of the
    * gate (the tokenizer has its own gates).
    */
  private val queryTerms: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "hash", 1 -> "scan",
    2 -> "table", 2 -> "row", 2 -> "line",
    3 -> "window", 3 -> "group", 3 -> "merge", 3 -> "fast",
    4 -> "key", 4 -> "value", 4 -> "sort",
    5 -> "slow", 5 -> "batch", 5 -> "agg")

  private val queryValuesSql = queryTerms
    .map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  // BM25 with k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
  // The expression TEXT is shared shape with the oracle SQL below so both
  // engines evaluate the identical IEEE operation tree.
  private val idfExpr =
    "ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
  private val tffExpr =
    "(CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
  private val bm25MicroExpr =
    s"CAST(floor($idfExpr * $tffExpr * 1000000.0) AS BIGINT)"

  // add-one-smoothed bigram NLL in micro-nats: -ln((c2+1)/(c1+V)) * 1e6
  private val nllMicroExpr =
    "CAST(floor(-ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0) AS BIGINT)"

  /** BM25 retrieval (see object scaladoc). */
  def bm25(s: SparkSession, dir: String): DataFrame = {
      import s.implicits._
      // one tokenize pass for both consumers (postings build + corpus
      // stats) — corpus-bounded doc_id+array frame, released at the end
      val toks = documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .persist()
      // corpus stats: scalar frame, broadcast to every scorer task
      val stats = toks.agg(count(lit(1)).as("n_docs"), avg(size(col("tk"))).as("avgdl"))
      val q = queryTerms.toDF("qid", "t")
      // the query-term SLICE of the postings, with the broadcast term
      // set applied BEFORE the tf aggregation (r17, guide §2.3/§3.2):
      // only query-term occurrences reach the (doc, dl, t) exchange —
      // the former shape aggregated the ENTIRE exploded token stream
      // into corpus-wide postings and then kept the ~|terms| slice, so
      // at 100 TB the one corpus-sized shuffle this operator pays now
      // carries ≤ |query terms| hits per document instead of every
      // token. Restricting before or after the groupBy commutes (t is a
      // grouping key), so tf/df/score are bit-identical. Persisted: the
      // slice feeds BOTH the df aggregate and the scorer — one pass
      // over the filtered stream instead of one each (the
      // minHashStarCandidates small-frame discipline).
      val slice = toks
        .select(col("doc_id"), size(col("tk")).as("dl"), explode(col("tk")).as("t"))
        .join(broadcast(q.select(col("t")).distinct()), "t")
        .groupBy(col("doc_id"), col("dl"), col("t"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      // df from the slice: postings are unique per (doc, term), so
      // COUNT = document frequency; tiny (≤ |terms| rows), broadcasts
      val df_ = slice.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val scored = slice
        .join(broadcast(q), "t")
        .join(broadcast(df_), "t")
        .crossJoin(broadcast(stats))
        .withColumn("s_u", expr(bm25MicroExpr))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("s_u")).as("score_u"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score_u").desc, col("doc_id"))
      // result is ≤ 10·|queries| rows — eager materialize, release caches
      val out = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("doc_id"), col("score_u"), col("rn"))
        .localCheckpoint(true)
      slice.unpersist(blocking = false)
      toks.unpersist(blocking = false)
      out
  }

  /** Bigram-LM scoring (see object scaladoc). */
  def lmScore(s: SparkSession, dir: String): DataFrame = {

      // ONE tokenize pass feeds all four consumers (unigram counts,
      // vocabulary size, bigram-count build, bigram scorer): the token
      // frame is corpus-bounded (doc_id + array — the same shape
      // dedup_jac_lsh persists) and without it the scan+tokenize
      // would run once per consumer
      val toks = documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .persist()
      // unigram count table (vocabulary-sized aggregate); persisted —
      // it feeds the V scalar and the scorer join.
      //
      // r17 note (verdict item 4, measured and REVERTED): two
      // reformulations of the count joins were built and paired-A/B'ed
      // at sf0.1 and the 10× docs fixture — (a) xxhash64 exchange keys
      // with per-group min/max collision enforcement + per-distinct-
      // bigram NLL (3.5 s vs 2.7 s at 10×: the min/max string buffers
      // in every partial aggregate and the double hash evaluation cost
      // more than the 8-byte keys saved), and (b) string keys with the
      // NLL computed once per distinct bigram and re-attached through
      // one join (4.9 s vs 3.6 s at 10×: broadcasting the
      // bigram-vocabulary NLL table costs more than the second
      // vocab-table join it removed, and ln-per-occurrence is
      // nanoseconds). The wide-key premise does not hold here: bigrams
      // are ~15 bytes, the count tables broadcast at every measured
      // scale, and the corpus-side exchanges are the doc_id reduce,
      // not the count joins. Keep this formulation.
      val uni = toks.select(explode(col("tk")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c1"))
        .persist()
      val vstats = uni.agg(count(lit(1)).as("v"))
      // bigram stream WITH multiplicity (each occurrence scores) — NOT
      // persisted: it is the corpus × expansion frame; its two readers
      // re-explode from the cached tokens, a pure map
      val bi = toks
        .select(col("doc_id"), explode(wordShingles(col("tk"), 2)).as("bg"))
        .withColumn("w1", element_at(split(col("bg"), " "), 1))
      val c2 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      // counts join back by key: postings-shaped equi-joins; documents
      // with < 2 tokens have no bigrams and drop out (as in the oracle)
      // eager materialize (the per-doc score table IS the operator's
      // output — it would be written to storage at corpus scale), so
      // the caches can release immediately
      val out = bi.join(c2, "bg")
        .join(uni.withColumnRenamed("t", "w1"), "w1")
        .crossJoin(broadcast(vstats))
        .withColumn("nll", expr(nllMicroExpr))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bi"), sum(col("nll")).as("nll_u"))
        .withColumn("avg_u", expr("nll_u div n_bi"))
        .localCheckpoint(true)
      uni.unpersist(blocking = false)
      toks.unpersist(blocking = false)
      out
  }

  /** Hybrid retrieval with reciprocal-rank fusion (`retr_rrf`) — the
    * standard production pattern (Cormack & Clarke SIGIR'09; every
    * BM25+vector "hybrid search" stack): run the sparse BM25 arm and a
    * dense cosine arm for the same query set, then fuse per-document
    * ranks as Σ 1/(60 + rank) and keep the top 5. Query q's dense
    * vector is embedding (q−1)·100 — a fixed deterministic pairing, so
    * both engines see the same query set without a learned encoder.
    *
    * 100 TB shape: each arm is its own already-scale-proven plan.
    * BM25: broadcast query slice + bounded-heap ranks. Dense (r10):
    * served from the PERSISTED IVF-PQ index — train once, save the
    * codebooks + code rows ([[SimilarityQueries.saveIvfPqIndex]]),
    * reload, and probe through [[SimilarityQueries.ivfPqSearchPrecoded]]
    * (nprobe-bounded cell equi-join + LUT candidates + exact re-rank),
    * exactly the production serving path — per-query cost is
    * Σ|probed cells|, never |N|, and the fusion below is UNCHANGED
    * from the brute-force arm it replaced (the arms-swap property a
    * hybrid stack lives on; HybridSplitSpec proves it against the
    * brute arm with a recall floor). The fusion itself joins two
    * ≤ k·|queries|-row frames — driver-scale metadata,
    * broadcast-joined, zero corpus shuffles. Ranks fuse in integer
    * micro-units (1e6 div (60+r)) so the fused ordering is
    * bit-identical cross-engine.
    */
  private[graft] def rrf(s: SparkSession, dir: String): DataFrame = {
    // sparse arm: BM25 top-10 (≤ 10·|queries| rows, checkpointed).
    // The arms are independent plans and COULD run as two concurrent
    // job groups, but measured on local[32] the overlap loses badly
    // (31.9 s vs 5.9 s sequential — the lloyd mapPartitions pass and
    // the checkpoint actions thrash each other's task slots), so they
    // run sequentially.
    val sp = bm25(s, dir)
      .select(col("qid"), col("doc_id"), col("rn").as("rs"))
    // dense arm: IVF-PQ index-served cosine top-10. Queries are the
    // five vec_id % 100 = 0 lattice vectors (query q ↔ embedding
    // (q−1)·100, the fixed pairing); self-matches drop inside the
    // serve (vec_id <> qid on the raw ids).
    fuse(sp, denseTop10(s, dir))
  }

  /** The dense query-id lattice: embedding (q−1)·100 for q in 1..5 —
    * ONE definition feeds the filter, the knownBatch pivot constant and
    * (by restatement) the oracle's `% 100 = 0 AND < 500` predicate, so
    * the pivot can never run on a stale count if the lattice changes.
    */
  private val denseQueryIds: Seq[Long] = 0L until 500L by 100L

  /** Version sigil of the persisted RRF dense-arm index — bump when
    * the training semantics (seed rule, M, quantization) change so a
    * stale artifact can never serve a new gate definition.
    */
  private val RrfIdxVersion = "rrfidx1"

  /** Build-if-absent the persisted IVF-PQ index for `dir`'s embeddings
    * — the ingest-time write a production retrieval stack performs
    * ONCE per corpus (the `ensureCuratedBase` lifecycle): train, save
    * codebooks + code rows ([[SimilarityQueries.saveIvfPqIndex]]) to a
    * temp dir, stamp a `_GRAFT_OK` marker carrying the semantics
    * version + an embeddings-table fingerprint (in-place fixture
    * regeneration rebuilds), and atomically publish. Every later
    * serve — the `retr_rrf` gate included — only loads and probes, so
    * the gate's measured shape matches production (the r11 verdict's
    * item 5: the gate was the one whose in-bench wall still paid
    * train+persist per run).
    */
  private[graft] def ensureRrfIndex(s: SparkSession, dir: String): String = {
    import graft.operators.SimilarityQueries._
    val path = graft.Tables.artifactPath(s"graft-$RrfIdxVersion", dir)
    val stamp =
      s"$RrfIdxVersion:${graft.Tables.tableFingerprint(dir, "embeddings.parquet")}"
    graft.Tables.ensureArtifact(path, stamp) { tmp =>
      val eq = quantized(s, dir)
      val index = trainIvfPq(s, eq, 8,
        col("vec_id") % 25 === 0 && col("vec_id") < 400)
      saveIvfPqIndex(s, index, eq.select(col("vec_id"), col("q")), tmp)
    }
    path
  }

  /** The dense arm of [[rrf]] — top-10 cosine neighbors of the five
    * query vectors, served from the PERSISTED IVF-PQ index
    * ([[ensureRrfIndex]]; the save/load roundtrip is exact on the
    * integer domain, spec-proven in StreamingAnnSpec). Exposed for
    * HybridSplitSpec's arm-swap + recall-floor assertions.
    */
  private[graft] def denseTop10(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilarityQueries._
    val eq = quantized(s, dir)
    val (idx2, codes) = loadIvfPqIndex(s, ensureRrfIndex(s, dir))
    val qs = eq.filter(col("vec_id").isInCollection(denseQueryIds))
    ivfPqSearchPrecoded(idx2, eq, codes, qs, nprobe = 4, k = 10,
        knownBatch = Some(denseQueryIds.size.toLong))
      .select(expr("CAST(qid div 100 + 1 AS INT)").as("qid"),
        col("vec_id").as("doc_id"), col("rn").as("rd"))
  }

  /** RRF fusion of a sparse (qid, doc_id, rs) and dense (qid, doc_id,
    * rd) rank frame — rank-only, arm-agnostic (the property the r10
    * index-served arm swap relies on).
    */
  private[graft] def fuse(sp: DataFrame, dn: DataFrame): DataFrame = {
    // fusion: two rank lists, full-outer on (qid, doc) — a missing arm
    // contributes 0, exactly the RRF convention
    val fused = sp.join(dn, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + rs)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rd)"), lit(0L))).as("rrf_u"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_u").desc, col("doc_id"))
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("doc_id"), col("rrf_u"), col("rn"))
  }

  def gates: Seq[Gate] = Seq(
    Gate("text_bm25", (s, dir) => bm25(s, dir), _ =>
      (bm25RankedCte +
      """SELECT qid, doc_id, score_u, CAST(rn AS INT) AS rn FROM sprank
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),
    Gate("text_lm_score", (s, dir) => lmScore(s, dir), _ =>
      (toksCte +
      s""", uni AS (SELECT t, COUNT(*) AS c1
        |         FROM (SELECT UNNEST(tk) AS t FROM toks) GROUP BY 1),
        |vs AS (SELECT COUNT(*) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
        |  FROM (SELECT doc_id,
        |               UNNEST(list_transform(range(1, len(tk)),
        |                      i -> tk[i] || ' ' || tk[i+1])) AS bg
        |        FROM toks)),
        |c2t AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, $nllMicroExpr AS nll
        |  FROM bi JOIN c2t USING (bg) JOIN uni u ON u.t = bi.w1 CROSS JOIN vs)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bi,
        |       CAST(SUM(nll) AS BIGINT) AS nll_u,
        |       CAST(CAST(SUM(nll) AS BIGINT) // COUNT(*) AS BIGINT) AS avg_u
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    Gate("retr_rrf", (s, dir) => rrf(s, dir), _ =>
      // dense arm = the shared IVF-PQ probed-cell chain (ann_ivfpq's
      // oracle text, query set restated as the % 100 lattice), so the
      // gate checks the INDEX-SERVED computation the Spark side runs —
      // the brute-force CROSS JOIN arm it replaced (r10) lives on as
      // the HybridSplitSpec recall baseline
      (bm25RankedCte +
      SimilarityQueries.quantCteCont +
      SimilarityQueries.ivfPqOracleCand(
        c => s"$c % 100 = 0 AND $c < 500", nprobe = 4) +
      """, dn AS (
        |  SELECT CAST(qid // 100 + 1 AS INT) AS qid, vec_id AS doc_id, rn
        |  FROM (
        |    SELECT c.qid, c.vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY c.qid
        |             ORDER BY CAST(list_dot_product(qa.q, qb.q) AS DOUBLE)
        |               / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
        |               DESC, c.vec_id) AS rn
        |    FROM cand c JOIN n qa ON qa.vec_id = c.qid
        |    JOIN n qb ON qb.vec_id = c.vec_id)
        |  WHERE rn <= 10),
        |sp10 AS (SELECT qid, doc_id, rn FROM sprank WHERE rn <= 10),
        |fused AS (
        |  SELECT COALESCE(s.qid, d.qid) AS qid,
        |         COALESCE(s.doc_id, d.doc_id) AS doc_id,
        |         CAST(COALESCE(1000000 // (60 + s.rn), 0)
        |            + COALESCE(1000000 // (60 + d.rn), 0) AS BIGINT) AS rrf_u
        |  FROM sp10 s FULL OUTER JOIN dn d
        |    ON s.qid = d.qid AND s.doc_id = d.doc_id)
        |SELECT qid, doc_id, rrf_u, CAST(rn AS INT) AS rn FROM (
        |  SELECT qid, doc_id, rrf_u,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY rrf_u DESC, doc_id) AS rn
        |  FROM fused)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      // the dense-arm index trains once at ingest and every serve loads
      // and probes it: the timed gate measures the serve, not a re-train
      prepare = ensureRrfIndex(_, _)),

    // Vocabulary encoding — the LAST step before training: map every
    // token to its id in a frequency-ranked vocabulary (OOV → 0),
    // emitting the ordered id array per document. 100 TB shape: the
    // vocabulary is a vocabulary-sized aggregate (one shuffle) whose
    // ranked head BROADCASTS; encoding is a broadcast left-join over
    // the exploded token stream and ONE doc-keyed shuffle rebuilds the
    // ordered arrays (a static production vocab compiles into a
    // broadcast map and drops even that aggregate). The global
    // row_number runs on the vocab aggregate, never the corpus. Tiny
    // vocab (top 10) here so the OOV path carries real traffic.
    Gate("text_encode", (s, dir) => {
      // persist: the tokenized frame feeds BOTH the vocabulary
      // aggregate and the encode explode — without it the corpus scan
      // + tokenize runs twice (the bm25/lmScore one-pass discipline)
      val toks = documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .persist()
      val uni = toks.select(explode(col("tk")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("t"))
      val vocab = uni.withColumn("id", row_number().over(w))
        .filter(col("id") <= 10).select(col("t"), col("id"))
      val out = toks
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "t")))
        .join(broadcast(vocab), Seq("t"), "left")
        .withColumn("id", coalesce(col("id"), lit(0)))
        .groupBy(col("doc_id"))
        // ids as a joined string: the driver's pandas comparator cannot
        // hash raw array cells (the round-2 lesson — array outputs are
        // stringified for the gate)
        .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, id)))," +
          " x -> CAST(x.id AS STRING)), ',')").as("ids"),
          sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"))
        .localCheckpoint(true)
      toks.unpersist(blocking = false)
      out
    }, _ =>
      (toksCte +
      """, uni AS (SELECT t, COUNT(*) AS cnt
        |         FROM (SELECT UNNEST(tk) AS t FROM toks) GROUP BY 1),
        |vocab AS (
        |  SELECT t, id FROM (
        |    SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS INTEGER) AS id
        |    FROM uni)
        |  WHERE id <= 10),
        |u AS (SELECT doc_id, UNNEST(tk) AS t,
        |             generate_subscripts(tk, 1) AS pos FROM toks),
        |enc AS (
        |  SELECT doc_id, pos, COALESCE(v.id, 0) AS id
        |  FROM u LEFT JOIN vocab v USING (t))
        |SELECT doc_id,
        |       array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS ids,
        |       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM enc GROUP BY 1 ORDER BY doc_id""".stripMargin))
  )

  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
      |  FROM documents)
      |""".stripMargin

  /** BM25 CTE chain through the ranked top-10 — shared verbatim between
    * the `text_bm25` and `retr_rrf` oracles so the two gates can never
    * state different sparse arms.
    */
  private val bm25RankedCte = toksCte +
    s""", docs AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
      |postings AS (
      |  SELECT doc_id, dl, t, COUNT(*) AS tf
      |  FROM (SELECT doc_id, len(tk) AS dl, UNNEST(tk) AS t FROM docs)
      |  GROUP BY 1, 2, 3),
      |stats AS (SELECT COUNT(*) AS n_docs, AVG(len(tk)) AS avgdl FROM docs),
      |q(qid, t) AS (VALUES $queryValuesSql),
      |qp AS (SELECT q.qid, p.doc_id, p.dl, p.t, p.tf
      |       FROM postings p JOIN q ON q.t = p.t),
      |df AS (SELECT t, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, t FROM qp) GROUP BY 1),
      |scored AS (
      |  SELECT qid, doc_id,
      |         CAST(SUM(CAST(floor($idfExpr * $tffExpr * 1000000.0) AS BIGINT)) AS BIGINT) AS score_u
      |  FROM qp JOIN df USING (t) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |sprank AS (
      |  SELECT qid, doc_id, score_u,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |                            ORDER BY score_u DESC, doc_id) AS rn
      |  FROM scored)
      |""".stripMargin
}
