package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** Text-analysis gate queries over the `documents` table (BASELINE.json
  * LLM-pipeline mandate: token counting, quality scoring, language-ID,
  * fingerprinting). All single-scan, shuffle-free projections — at
  * 100 TB these run as pure map tasks at parquet-read speed.
  */
object TextQueries extends GateFamily {

  def gates: Seq[Gate] = Seq(
    // Corpus DIVERSITY diagnostic (§2.70) — the distinct-n statistic
    // (the n-gram side of Li et al.'s distinct-1/2 and the diversity
    // audit a curation run reports per source): distinct bigrams /
    // total bigrams per source, in integer micro-units. One exploded
    // bigram-hash frame (the shared native kernel), one
    // (source, hash)-keyed distinct + count — both map-side-combined.
    // Exact COUNT(DISTINCT) is the gate; at 100 TB the production
    // path swaps in approx_count_distinct (the mergeable HLL the
    // q_approx_nd gate already proves) with everything else unchanged.
    Gate("text_distinct_n", (s, dir) => {
      import graft.functions.TextFunctions._
      documents(s, dir)
        .select(col("source"),
          explode(shingleHashes(tokens(col("text")), 2)).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("source"), col("n_bigrams"), col("n_distinct"),
          expr("n_distinct * 1000000 div n_bigrams").as("diversity_u"))
    }, _ =>
      """WITH toks AS (
        |  SELECT source,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'),
        |                     x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT source,
        |    UNNEST(list_transform(range(1, len(tk)), i ->
        |      list_reduce(list_transform(string_split(tk[i] || ' ' || tk[i+1], ''),
        |                                 c -> CAST(ord(c) AS BIGINT)),
        |                  (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |  FROM toks)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
        |       CAST(COUNT(DISTINCT h) * 1000000 // COUNT(*) AS BIGINT)
        |         AS diversity_u
        |FROM sh GROUP BY source ORDER BY source""".stripMargin),

    // Token counting, both ways the mandate names: whitespace tokens AND
    // a BPE-ish pretokenizer regex (GPT-2-family shape: letter runs,
    // digit runs, single non-alnum marks — the piece count a byte-pair
    // tokenizer's pretokenizer would hand to the merge table). Map-only.
    Gate("text_tok_count", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tok"),
          // explicit whitespace class, not \s: Java's \s includes \x0B,
          // RE2's (DuckDB) does not — the explicit class is identical in
          // both engines
          regexp_count(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"))
            .as("n_piece"),
          length(col("text")).as("text_len"))
    }, _ =>
      (toksCte +
      """SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tok,
        |       CAST(len(regexp_extract_all(text,
        |           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS INTEGER) AS n_piece,
        |       CAST(length(text) AS INTEGER) AS text_len
        |FROM toks ORDER BY doc_id""".stripMargin)),

    Gate("text_quality", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tok"),
          qualityScore(col("text"), tokens(col("text"))).as("q"))
    }, _ =>
      (toksCte +
      """SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tok,
        |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
        |  (((CAST(length(text) AS DOUBLE) - CAST(len(tk) AS DOUBLE)) + 1.0)
        |     / CAST(len(tk) AS DOUBLE)) * 0.5
        |  + (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and'))) AS DOUBLE)
        |     / CAST(len(tk) AS DOUBLE)) * 2.0
        |  + (CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
        |  END AS q
        |FROM toks ORDER BY doc_id""".stripMargin)),

    Gate("text_lang_id", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), langId(tokens(col("text"))).as("pred"))
    }, _ =>
      (toksCte +
      """SELECT doc_id,
        |  CASE GREATEST(s_en, s_fr, s_es, s_de, s_zh)
        |    WHEN s_en THEN 'en' WHEN s_fr THEN 'fr' WHEN s_es THEN 'es'
        |    WHEN s_de THEN 'de' ELSE 'zh' END AS pred
        |FROM (SELECT doc_id,
        |  len(list_filter(tk, t -> t IN ('the','a','data','fast'))) AS s_en,
        |  len(list_filter(tk, t -> t IN ('table','row','line'))) AS s_fr,
        |  len(list_filter(tk, t -> t IN ('value','part','batch'))) AS s_es,
        |  len(list_filter(tk, t -> t IN ('window','group','merge'))) AS s_de,
        |  len(list_filter(tk, t -> t IN ('spark','scan','hash'))) AS s_zh
        |  FROM toks)
        |ORDER BY doc_id""".stripMargin)),

    // Token-less documents are dropped: the oracle's per-token GROUP BY
    // never yields a row for them. The filter must test "has a token"
    // directly — trim(text) ≠ '' is NOT equivalent (trim strips only
    // SPACES, so a tab/newline-only document would pass the trim
    // filter, tokenize to [] and emit fingerprint 0 where the oracle
    // emits no row). tokenCount is the native byte-scan kernel, so the
    // guard costs no second tokenizer run.
    Gate("text_fprint", (s, dir) => {
      documents(s, dir)
        .filter(tokenCount(col("text")) > 0)
        .select(col("doc_id"),
          docFingerprint(tokens(col("text"))).as("fp"))
    }, _ =>
      (toksCte +
      """SELECT doc_id,
        |  CAST(SUM(i * list_reduce(list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |                      (a, b) -> (a * 31 + b) % 1000000007))
        |    % 1000000007 AS BIGINT) AS fp
        |FROM (SELECT doc_id, UNNEST(tk) AS t,
        |             generate_subscripts(tk, 1) AS i FROM toks)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: mask emails and long digit runs before a corpus
    // ships to training. The testdata is synthetic word-soup with no
    // real PII, so the gate deterministically appends an email + phone
    // per document (both engines build the identical string) and then
    // proves the masking removed them. Map-only: regex scrub at scan
    // speed, no shuffle.
    Gate("text_pii", (s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val num = "\\b\\d{7,}\\b"
      documents(s, dir)
        .withColumn("raw", concat(col("text"), lit(" contact user"),
          col("doc_id"), lit("@example.com tel "),
          lpad(col("doc_id").cast("string"), 9, "0")))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
            num, "<NUM>").as("scrubbed"),
          regexp_count(col("raw"), lit(email)).as("n_emails"),
          regexp_count(col("raw"), lit(num)).as("n_nums"))
    }, _ =>
      // NB DuckDB regexp_replace is first-match-only without the 'g' flag
      """WITH raw AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com tel '
        |         || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '\b\d{7,}\b', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\b\d{7,}\b')) AS INTEGER) AS n_nums
        |FROM raw ORDER BY doc_id""".stripMargin),

    // Normalization: lowercase + whitespace collapse + trim — the
    // canonical pre-tokenization cleanup pass. Map-only.
    Gate("text_norm", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
        .withColumn("norm_len", length(col("norm")))
    }, _ =>
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')) AS norm,
        |  CAST(length(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')))
        |       AS INTEGER) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Benchmark DECONTAMINATION — the eval-overlap sweep every serious
    // training corpus runs (the GPT-3/LLaMA n-gram overlap rule):
    // documents sharing ≥ 8 distinct word-bigram shingles with the
    // held-out benchmark set are flagged before training. The 100 TB
    // plan shape is different from near-dedup: the benchmark's shingle
    // inventory is TINY and BROADCASTS, so the corpus is scanned
    // map-only (explode + broadcast semi-join + partial count) — the
    // only shuffle carries ≤ one row per document. doc_id % 97 = 0
    // stands in for the benchmark set.
    Gate("text_decontam", (s, dir) => decontam(s, dir), _ =>
      // decontamination: same bigram-shingle hash domain as the dedup
      // family; benchmark inventory joined back as a plain semi-join
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         UNNEST(list_distinct(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i+1]))) AS s
        |  FROM toks),
        |h AS (
        |  SELECT DISTINCT doc_id,
        |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM sh),
        |bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, h FROM h WHERE doc_id % 97 <> 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY 1),
        |hits AS (
        |  SELECT c.doc_id, COUNT(*) AS n_hit
        |  FROM corpus c JOIN bench b ON b.h = c.h GROUP BY 1)
        |SELECT s.doc_id, s.n, COALESCE(t.n_hit, 0) AS n_hit,
        |       COALESCE(t.n_hit, 0) >= 8 AS contaminated
        |FROM sizes s LEFT JOIN hits t USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Repetition-based quality filter — the Gopher/MassiveText rules:
    // flag documents whose duplicate-token fraction or top-bigram
    // fraction is anomalously high (boilerplate, keyword stuffing,
    // degenerate generations). ENTIRELY MAP-ONLY: both signals are
    // per-document statistics computed by codegen kernels over the
    // row's own token array (the top-bigram count is a native
    // sort+max-run over the shingle hashes, `TextHash.maxDupCount`) —
    // at 100 TB this runs at parquet-scan speed with zero shuffle,
    // where the relational formulation (the oracle) pays an
    // UNNEST + two GROUP BYs over corpus × tokens. Fractions are exact
    // integer micro-units (floor division), never floats.
    Gate("text_rep_filter", (s, dir) => {
      import graft.functions.TextHashExpressions.{distinct_longs, max_dup_count}
      documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          size(distinct_longs(shingleHashes(col("tk"), 1))).cast("long").as("n_uniq"),
          max_dup_count(shingleHashes(col("tk"), 2)).as("top2"),
          (size(col("tk")) - 1).cast("long").as("n_bi"))
        .withColumn("dup_frac_u", expr("(n_tok - n_uniq) * 1000000 div n_tok"))
        .withColumn("top2_frac_u", expr("top2 * 1000000 div n_bi"))
        .withColumn("flagged",
          col("dup_frac_u") > 620000 || col("top2_frac_u") > 80000)
    }, _ =>
      // repetition filter: the oracle states the same statistics
      // relationally (UNNEST + GROUP BY over the same poly-hash domain),
      // proving the map-only kernels equal the relational semantics
      (toksCte +
      """, t2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 2),
        |th AS (SELECT doc_id,
        |  UNNEST(list_transform(tk, t ->
        |    list_reduce(list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |                (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |  FROM t2),
        |uniq AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |                CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq
        |         FROM th GROUP BY 1),
        |bh AS (SELECT doc_id,
        |  UNNEST(list_transform(range(1, len(tk)), i ->
        |    list_reduce(list_transform(string_split(tk[i] || ' ' || tk[i+1], ''),
        |                               c -> CAST(ord(c) AS BIGINT)),
        |                (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |  FROM t2),
        |bi AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2,
        |              CAST(SUM(c) AS BIGINT) AS n_bi
        |       FROM (SELECT doc_id, h, COUNT(*) AS c FROM bh GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT u.doc_id, u.n_tok, u.n_uniq, b.top2, b.n_bi,
        |  CAST((u.n_tok - u.n_uniq) * 1000000 // u.n_tok AS BIGINT) AS dup_frac_u,
        |  CAST(b.top2 * 1000000 // b.n_bi AS BIGINT) AS top2_frac_u,
        |  (CAST((u.n_tok - u.n_uniq) * 1000000 // u.n_tok AS BIGINT) > 620000
        |   OR CAST(b.top2 * 1000000 // b.n_bi AS BIGINT) > 80000) AS flagged
        |FROM uniq u JOIN bi b USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Line-level GLOBAL exact dedup + document reconstruction — the C4
    // cleanup rule ("discard every repeated three-sentence span / line
    // corpus-wide, keeping one occurrence") re-expressed for Spark. The
    // synthetic docs carry no newlines, so a "line" is an aligned
    // 8-token chunk; the op is granularity-agnostic. Shape: chunk
    // map-only → ONE shuffle keyed by the line itself (groupBy + MIN of
    // a packed (doc_id,line_no) key — map-side combinable, so a
    // duplicate-heavy 100 TB corpus collapses before the exchange, the
    // reason this beats the window-function formulation) → ONE shuffle
    // on doc_id to stitch surviving lines back into documents. Nothing
    // is pairwise; cost is linear in corpus lines.
    Gate("text_ldedup", (s, dir) => {
      val lines = documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(tk)-1) div 8)," +
            " i -> concat_ws(' ', slice(tk, i*8+1, 8)))"))
          .as(Seq("line_no", "line")))
      // first-occurrence owner per distinct line: packed key keeps the
      // aggregate a plain MIN (line_no < 1000 by construction: ≤ 553
      // chars / 8-token lines)
      val survivors = lines.groupBy(col("line"))
        .agg(min(col("doc_id") * 1000 + col("line_no")).as("k"))
      survivors
        .select(expr("k div 1000").as("doc_id"),
          expr("CAST(k % 1000 AS INT)").as("line_no"), col("line"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("concat_ws(' ', transform(array_sort(" +
            "collect_list(struct(line_no, line))), e -> e.line))")
            .as("new_text"))
    }, _ =>
      // line dedup: same chunking + first-occurrence-wins stated
      // relationally; string_agg ORDER BY reproduces the stitch order
      (toksCte +
      """, t AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |lines AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |         array_to_string(tk[i*8+1 : i*8+8], ' ') AS line
        |  FROM (SELECT doc_id, tk,
        |               UNNEST(range(0, (len(tk)-1)//8 + 1)) AS i FROM t)),
        |surv AS (
        |  SELECT line, MIN(doc_id*1000 + line_no) AS k FROM lines GROUP BY 1)
        |SELECT CAST(k//1000 AS BIGINT) AS doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       string_agg(line, ' ' ORDER BY k%1000) AS new_text
        |FROM surv GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Model-based quality filtering — the fastText/CCNet-style linear
    // classifier pass every production corpus runs (GPT-3's WebText
    // similarity filter, CCNet's fastText stage): score = Σ over tokens
    // of w[h(tok) mod D], keep when positive. Weights are a fixed
    // pseudo-random integer table (Knuth-multiplicative over the bucket
    // index, milli-units) so both engines state the identical model and
    // the sum is integer-exact — order-free, partitioning-invariant.
    // ENTIRELY MAP-ONLY: hashing-trick featurization + dot product run
    // inside one codegen `aggregate` over the row's token array; at
    // 100 TB this is a parquet-scan-speed pass, the property that makes
    // classifier filtering affordable where a real model server isn't.
    Gate("text_classify", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), classifierScore(col("tk")).as("score"))
        .withColumn("keep", col("score") > 0)
    }, _ =>
      (toksCte +
      s"""SELECT doc_id, score, score > 0 AS keep FROM (
        |  SELECT doc_id, ${classifierSql("tk")} AS score
        |  FROM toks WHERE len(tk) > 0)
        |ORDER BY doc_id""".stripMargin)),

    // DSIR-style importance reweighting (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // each raw document by how target-like its hashed-n-gram profile
    // is — per-bigram ratio target-count/raw-count, per-doc mean. The
    // `lang = 'en'` slice stands in for the target corpus. Ratios are
    // integer micro-units (floor division) so every engine agrees
    // bit-for-bit; the log-domain variant changes only the per-feature
    // arithmetic, not the dataflow. Plan shape: the bigram frame is
    // computed ONCE (persist/force/release discipline — both count
    // aggregations and the scoring join read the cache, same as
    // dedup_jac_lsh); ONE map-side-combinable count keyed by bigram
    // hash (raw and target tallies fused into a single aggregation via
    // a conditional count — no second pass, no ratio join), then one
    // scoring join keyed the same way (shuffle-join at corpus scale — a
    // 100 TB corpus's bigram vocabulary does NOT broadcast), one final
    // per-doc sum. Linear end to end, two shuffles total.
    Gate("text_dsir", (s, dir) => dsir(s, dir), _ =>
      // DSIR: same bigram-hash domain as the dedup/decontam family
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, lang,
        |    UNNEST(list_transform(range(1, len(tk)), i ->
        |      list_reduce(list_transform(string_split(tk[i] || ' ' || tk[i+1], ''),
        |                                 c -> CAST(ord(c) AS BIGINT)),
        |                  (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |  FROM toks),
        |raw AS (SELECT h, COUNT(*) AS cr FROM sh GROUP BY 1),
        |tgt AS (SELECT h, COUNT(*) AS ct FROM sh WHERE lang = 'en' GROUP BY 1),
        |ratio AS (
        |  SELECT r.h, COALESCE(t.ct, 0) * 1000000 // r.cr AS r
        |  FROM raw r LEFT JOIN tgt t USING (h)),
        |agg AS (
        |  SELECT s.doc_id, SUM(x.r) AS rsum, COUNT(*) AS n
        |  FROM sh s JOIN ratio x USING (h) GROUP BY 1)
        |SELECT doc_id, CAST(rsum // n AS BIGINT) AS wt_u,
        |       CAST(rsum // n AS BIGINT) > 500000 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin),

    // WINNOWING fingerprints (Schleimer et al. SIGMOD'03 — the MOSS
    // scheme, the local fingerprinting rule code/plagiarism dedup
    // uses): per document, the minimum 3-gram hash of every 4-gram
    // window, deduplicated — guaranteeing any shared span of ≥ 6
    // tokens yields a shared fingerprint while keeping ~2/(w+1) of
    // the grams. ENTIRELY MAP-ONLY via one native kernel pass
    // (TextHash.winnow — the HOF window formulation would run n·w
    // interpreted lambdas per row); at 100 TB this is a
    // parquet-scan-speed pass whose output feeds any of the
    // inverted-index dedup paths in place of full shingle sets.
    Gate("text_winnow", (s, dir) => {
      import graft.functions.TextHashExpressions.{winnow, sum_longs}
      documents(s, dir)
        .select(col("doc_id"), shingleHashes(tokens(col("text")), 3).as("g"))
        .filter(size(col("g")) >= 4)
        .select(col("doc_id"), size(col("g")).cast("long").as("n_gram"),
          winnow(col("g"), 4).as("fp"))
        .select(col("doc_id"), col("n_gram"),
          size(col("fp")).cast("long").as("n_fp"),
          sum_longs(col("fp")).as("fp_sum"))
    }, _ =>
      // winnowing stated relationally: 3-gram poly-hashes, min per
      // 4-window, distinct, count + exact sum
      (toksCte +
      """, g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(tk) - 1), i ->
        |           list_reduce(list_transform(
        |               string_split(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], ''),
        |               c -> CAST(ord(c) AS BIGINT)),
        |             (a, b) -> (a * 31 + b) % 1000000007)) AS g
        |  FROM toks),
        |f AS (
        |  SELECT doc_id, len(g) AS n_gram,
        |         list_distinct(list_transform(range(1, len(g) - 2), i ->
        |           list_min(g[i : i + 3]))) AS fp
        |  FROM g WHERE len(g) >= 4)
        |SELECT doc_id, CAST(n_gram AS BIGINT) AS n_gram,
        |       CAST(len(fp) AS BIGINT) AS n_fp,
        |       CAST(list_sum(fp) AS BIGINT) AS fp_sum
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Corpus-wide frequent terms via the Misra–Gries sketch (bounded
    // state per partial; merge sums shared counters then re-trims to
    // capacity): exact here because the 1024-counter capacity dominates
    // the vocabulary, approximate with proven bounds when it doesn't —
    // the only way "top tokens over 100 TB" fits in memory at all. See
    // FreqSketchAgg.
    Gate("text_terms", (s, dir) => {
      documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .agg(graft.functions.FreqSketchOps.freqSketch(col("tok"), 1024).as("fs"))
        .select(explode(col("fs")).as("e"))
        .select(col("e.token").as("token"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(10)
    }, _ =>
      // exact regime: capacity (1024) >> vocabulary, so the sketch holds
      // every counter and the top-10 equals the exact GROUP BY
      (toksCte +
      """SELECT t AS token, COUNT(*) AS cnt
        |FROM (SELECT UNNEST(tk) AS t FROM toks)
        |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 10""".stripMargin))
  )

  /** Benchmark DECONTAMINATION — the eval-overlap sweep every serious
    * training corpus runs (the GPT-3/LLaMA n-gram overlap rule):
    * documents sharing ≥ 8 distinct word-bigram shingles with the
    * held-out benchmark set are flagged before training. doc_id
    * % 97 = 0 stands in for the benchmark set.
    *
    * 100 TB plan shape (r8): the benchmark's shingle inventory is
    * BENCHMARK-sized by construction (a fixed eval suite), never
    * corpus-sized — the same metadata class as the BPE merge table and
    * the PQ codebook — so it collects to the driver once and rides
    * into the corpus pass as a sorted literal array. The whole sweep
    * is then ONE map-only pass: per document, an allocation-free
    * sorted-set intersect (`intersect_count_sorted`) against the
    * benchmark array — no explode, no hit-count shuffle, no join, at
    * parquet-scan speed. The r7 form (explode → broadcast semi-join →
    * count → left join) paid three exchanges and sat at 4.0× its
    * oracle (2.1 s vs 0.53 s); this form is the shape a production
    * decontaminator runs (a set/bloom probe per document).
    */
  private[operators] def decontam(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
    val base = documents(s, dir)
      .select(col("doc_id"), sorted_distinct_longs(
        shingleHashes(tokens(col("text")), 2)).as("ds"))
      .filter(size(col("ds")) > 0)
    // benchmark inventory to the driver: the doc_id filter evaluates
    // before the shingle projection, so this job tokenizes ONLY the
    // benchmark slice (~1% of the corpus)
    val bench: Array[Long] = base.filter(col("doc_id") % 97 === 0)
      .select(explode(col("ds")).as("sh")).distinct()
      .collect().map(_.getLong(0)).sorted
    base.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("ds")).cast("long").as("n"),
        intersect_count_sorted(col("ds"), lit(bench)).as("n_hit"))
      .withColumn("contaminated", col("n_hit") >= 8)
  }

  /** The `text_dsir` plan (see its scaladoc above): the bigram frame
    * is persisted, the scores are eagerly materialized, then the cache
    * is released.
    */
  private[operators] def dsir(s: SparkSession, dir: String): DataFrame = {
    val sh = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        shingleHashes(tokens(col("text")), 2).as("hs"))
      .filter(size(col("hs")) > 0)
      .persist()
    val occ = sh.select(col("doc_id"), col("lang"), explode(col("hs")).as("h"))
    val ratio = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("lang") === "en", 1)).as("ct"))
      .select(col("h"), expr("ct * 1000000 div cr").as("r"))
    val out = occ.join(ratio, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("r")).as("rsum"), count(lit(1)).as("n"))
      .select(col("doc_id"), expr("rsum div n").as("wt_u"),
        (expr("rsum div n") > 500000L).as("keep"))
      .localCheckpoint(true)
    sh.unpersist(blocking = false)
    out
  }

  /** SQL statement of the hashing-trick classifier score over a token
    * list expression — the oracle mirror of
    * `TextFunctions.classifierScore`, shared by the `text_classify` and
    * `pipe_curate` oracles so the model is stated exactly once per
    * engine. */
  private[operators] def classifierSql(tkExpr: String): String =
    s"""CAST(list_sum(list_transform($tkExpr, t ->
       |    ((list_reduce(list_transform(string_split(t, ''),
       |                                 c -> CAST(ord(c) AS BIGINT)),
       |                  (a, b) -> (a * 31 + b) % 1000000007)
       |      % 64) * 2654435761) % 1997 - 998)) AS BIGINT)""".stripMargin

  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
      |  FROM documents)
      |""".stripMargin
}
