package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operator family over `documents` / `embeddings`
  * (BASELINE.json LLM-pipeline mandate): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup: hash-groupBy on a digest — one shuffle keyed by digest;
  *  - MinHash+LSH: per-doc signatures are a map-only pass; the candidate
  *    join shuffles on (band, signature) so cost scales with collisions,
  *    never with |docs|²;
  *  - n-gram Jaccard: shuffle join keyed by shingle (at production scale
  *    drop ultra-frequent shingles first — they only add join fan-out);
  *  - cosine near-dup: blocked by random-hyperplane LSH bucket (shared
  *    with SimilarityQueries) so the pair space is per-block, not global;
  *  - every hash is an explicit arithmetic fold — reproducible across
  *    engines and partitionings, unlike engine-private hash functions.
  */
object DedupQueries extends GateFamily {

  /** PRODUCTION MinHash candidate API — star edges, not pairwise.
    *
    * Documents sharing an LSH bucket form a clique, and a clique's
    * connectivity is exactly preserved by a STAR: every member joined to
    * the bucket's minimum member. The output is therefore membership-
    * sized — ≤ bands·|docs| rows — and feeds [[connectedComponents]]
    * directly. By contrast the PAIRWISE candidate set (the shape
    * `dedup_mh_lsh` emits, matching the textbook definition its
    * oracle states) is Θ(Σ|bucket|²) in the OUTPUT itself: one
    * million-document duplicate group at 100 TB makes the result
    * quadratic (~10^12 rows) before any downstream step runs. Route
    * production candidate generation through this entry and treat the
    * pairwise form as a conformance/diagnostic query.
    *
    * Input: (idCol, hashesCol: array<long> shingle hashes). Bands use 2
    * MinHash rows each (signature length = 2·bands); the packed
    * (band, h1, h2) bucket key is collision-free because minhashes are
    * < 2^30 (mod 1e9+7) and band < 16.
    *
    * The returned edge list is ALREADY MATERIALIZED and persisted
    * (edge-list-sized — ≤ bands·|docs| rows): consumers iterate over it
    * (connected components reads it every round), and eager
    * materialization lets this method release its internal membership
    * cache before returning instead of leaking it for the session
    * lifetime. Call `unpersist()` on the result when done with it.
    */
  def minHashStarCandidates(docs: DataFrame, idCol: String = "doc_id",
      hashesCol: String = "hs", bands: Int = 4): DataFrame = {
    require(bands >= 1 && bands < 16, s"bands must be in [1,16): $bands")
    // persist BEFORE the shingle-count filter: filtered lazily, the
    // predicate is pushed below the input repartition and evaluates the
    // whole hash pipeline single-threaded on the unsplit scan (then
    // recomputes it above the exchange); cached, the pipeline runs once
    // across all cores and the filter reads the cached arrays.
    // where(lit(true)): gives the internal cache a DISTINCT analyzed
    // plan, so persisting (and later unpersisting) here can never alias
    // — and silently evict — a cache the CALLER created on `docs`
    val src = docs.where(lit(true)).persist()
    val sigs = src.filter(size(col(hashesCol)) > 0).select(
      (col(idCol) +: (0 until 2 * bands).map(j =>
        minHash(col(hashesCol), j).as(s"s$j"))): _*)
    val memb = sigs.select(col(idCol), explode(array((0 until bands).map(b =>
        shiftleft(lit(b.toLong), 60) bitwiseOR
          (shiftleft(col(s"s${2 * b}"), 30) bitwiseOR col(s"s${2 * b + 1}"))): _*))
      .as("bucket"))
      // memberships feed rep-selection AND the star join; persist runs
      // the scan → shingle → minhash pipeline once (lazy, recoverable)
      .persist()
    val reps = memb.groupBy(col("bucket")).agg(min(col(idCol)).as("rep"))
    val stars = memb.join(reps, "bucket")
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("ia"), col(idCol).as("ib")).distinct()
      .persist()
    stars.count() // force: both memb reads happen now
    memb.unpersist(blocking = false)
    src.unpersist(blocking = false)
    stars
  }

  /** doc_id + word-bigram shingle hashes (longs; no shingle strings are
    * materialized — computed by one native codegen pass per document).
    */
  private[graft] def docShingleHashes(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      shingleHashes(tokens(col("text")), 2).as("hs"))

  /** LSH-candidate generation + EXACT Jaccard verification over a
    * (doc_id, hs: array&lt;long&gt;) frame — the lazy plan shared by the
    * `dedup_jac_lsh` gate and the plan-audit spec. The caller is
    * expected to pass a PERSISTED `hashes` frame: this plan reads it
    * four times (two band self-join sides, two verify-set sides), and
    * without a cache each read re-runs the scan→tokenize→shingle
    * pipeline — the 4× recompute r6 measured at 6.0 s vs the one-pass
    * 0.93 s oracle (sf0.1).
    */
  def jaccardOnCandidates(hashes: DataFrame): DataFrame =
    jaccardOnCandidates(hashes, maxBucket = None)

  /** [[jaccardOnCandidates]] with the duplicate-density guard:
    * `maxBucket = Some(B)` verifies pairs only from band buckets of ≤ B
    * members (see [[lshCandidatePairsCapped]]) — the form a
    * duplicate-dense 100 TB sweep runs, with oversized buckets routed
    * to the star/cluster path instead of pairwise enumeration.
    */
  def jaccardOnCandidates(hashes: DataFrame,
      maxBucket: Option[Int]): DataFrame = {
    import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
    val cand = maxBucket match {
      case Some(b) => lshCandidatePairsCapped(hashes, b)
      case None => lshCandidatePairs(hashes)
    }
    // distinct shingle sets for exact verification — derived from the
    // cached `hs` arrays (cheap per-row distinct, no re-scan). SORTED
    // sets + a merge-count kernel: Catalyst pushes the jac filter into
    // the join condition and the m/jac projections re-state it, so the
    // intersect evaluates up to 3× per candidate pair — an allocation-
    // free merge makes that constant negligible where
    // size(array_intersect(...)) built a hash set + result array per
    // evaluation (r6: this one stage was ~70% of the query's CPU).
    val sets = hashes.select(col("doc_id"),
      sorted_distinct_longs(col("hs")).as("set"))
    cand
      .join(sets.select(col("doc_id").as("ia"), col("set").as("sa")), "ia")
      .join(sets.select(col("doc_id").as("ib"), col("set").as("sb")), "ib")
      .withColumn("m", intersect_count_sorted(col("sa"), col("sb")))
      .withColumn("jac", col("m").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("m")).cast("double"))
      .filter(col("jac") >= 0.5)
      .select(col("ia"), col("ib"), col("m"), col("jac"))
  }

  /** MinHash (8 hashes) + LSH (4 bands × 2 rows) band memberships
    * (doc_id, band, h1, h2) — the row format of a MATERIALIZED band
    * index (what a production corpus persists between delta batches;
    * see [[incrementalNearDups]]). Duplicates in `hs` never change a
    * MIN, so no distinct pass is needed; callers drop shingle-less
    * docs first. Bands via one explode, NOT a 4-way union: each union
    * branch would recompute the whole scan+signature subtree.
    */
  private[graft] def lshBands(hashes: DataFrame): DataFrame = {
    val sigs = hashes.select(
      (col("doc_id") +: (0 until 8).map(j =>
        minHash(col("hs"), j).as(s"s$j"))): _*)
    sigs.select(col("doc_id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"s${2 * b}").as("h1"),
          col(s"s${2 * b + 1}").as("h2"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.h1").as("h1"), col("bh.h2").as("h2"))
  }

  /** Incremental near-dedup: probe a DELTA batch against an existing
    * corpus — the production shape for a continuously-growing corpus
    * (crawl snapshots, streaming ingestion). The corpus side's band
    * index and shingle sets are exactly what a production pipeline
    * PERSISTS between batches (ingest-time artifacts, appended as docs
    * arrive), so per batch only the delta is shingled and signed; the
    * candidate join is keyed by (band, h1, h2), so probe cost scales
    * with the delta size and its collision structure — NEVER with
    * corpus size — and each candidate is verified by exact Jaccard
    * against the full shingle sets. Output: (ia ∈ corpus, ib ∈ delta)
    * pairs with jac ≥ threshold — the delta docs to drop (or route to
    * review) before the batch joins the corpus.
    *
    * Inputs are (doc_id, hs array&lt;long&gt;) frames; pass PERSISTED
    * frames when the caller reuses them (the verify stage reads each
    * side once more).
    */
  def incrementalNearDups(corpusHashes: DataFrame, deltaHashes: DataFrame,
      threshold: Double = 0.5): DataFrame =
    incrementalNearDupsWithIndex(
      lshBands(corpusHashes).toDF("ia", "band", "h1", "h2"),
      corpusHashes, deltaHashes, threshold)

  /** [[incrementalNearDups]] against a PRE-BUILT band index — the form a
    * long-lived corpus actually runs: `saveBandIndex` writes the band
    * rows + shingle sets once at ingest, every later delta batch
    * `loadBandIndex`s and probes them without re-shingling the corpus.
    * `index` columns: (ia, band, h1, h2); `corpusHashes` supplies the
    * exact-verify sets (doc_id, hs).
    */
  def incrementalNearDupsWithIndex(index: DataFrame, corpusHashes: DataFrame,
      deltaHashes: DataFrame, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
    val probe = lshBands(deltaHashes).toDF("ib", "band", "h1", "h2")
    val cand = probe.join(index, Seq("band", "h1", "h2"))
      .select(col("ia"), col("ib")).distinct()
    val setsA = corpusHashes.select(col("doc_id").as("ia"),
      sorted_distinct_longs(col("hs")).as("sa"))
    val setsB = deltaHashes.select(col("doc_id").as("ib"),
      sorted_distinct_longs(col("hs")).as("sb"))
    cand.join(setsA, "ia").join(setsB, "ib")
      .withColumn("m", intersect_count_sorted(col("sa"), col("sb")))
      .withColumn("jac", col("m").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("m")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("ia"), col("ib"), col("m"), col("jac"))
  }

  /** Admission drop list for a DELTA batch against a persisted corpus
    * index — the two near-dup rules of incremental curation in ONE
    * candidate join + ONE verify chain. The batch's band rows probe
    * (corpus band index ∪ the batch's own bands): a {corpus, delta}
    * collision verifies against the stored corpus set and drops the
    * delta member regardless of id order (the corpus is immutable); a
    * {delta, delta} collision (ia < ib) verifies within the batch and
    * drops the LARGER id (the batch keep-min rule). The two-sweep
    * formulation (within-batch capped LSH, then a separate corpus
    * probe) computes the same drops through two full candidate/verify
    * chains — measured ~2× the wall of this fused pass at the
    * `pipe_incr_idx` gate scale.
    *
    * 100 TB shape: probe cost scales with the batch's size and
    * collision structure, never the corpus (the corpus side enters
    * only through index rows the equi-join touches). The delta-internal
    * arm is UNCAPPED pairwise — a delta batch is a bounded micro-batch
    * by construction, so Σ|bucket ∩ batch|² is batch-bounded (the
    * maxBucket/star guard exists for corpus-scale sweeps, not
    * admission batches).
    *
    * `index`: (ia, band, h1, h2) from [[loadBandIndex]]; `corpusSets`:
    * (doc_id, hs) verify sets; `deltaHashes`: (doc_id, hs) — pass a
    * flat (checkpointed/persisted) frame, it is read three times.
    * Returns distinct delta ids to drop, column `vid`.
    */
  def batchAdmissionDrops(index: DataFrame, corpusSets: DataFrame,
      deltaHashes: DataFrame, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
    val dBands = lshBands(deltaHashes)
    val probe = dBands.toDF("ib", "band", "h1", "h2")
    val allIdx = index
      .select(col("ia"), lit(true).as("corp"),
        col("band"), col("h1"), col("h2"))
      .unionByName(dBands.toDF("ia", "band", "h1", "h2")
        .select(col("ia"), lit(false).as("corp"),
          col("band"), col("h1"), col("h2")))
    // candidates and verify sets both carry the corp flag and join on
    // (ia, corp): corpus and delta id spaces may legally overlap (a
    // re-ingested doc_id), and without the flag an id present in both
    // would produce duplicate join rows verified against the wrong set
    val cand = probe.join(allIdx, Seq("band", "h1", "h2"))
      .filter(col("corp") || col("ia") < col("ib"))
      .select(col("ia"), col("corp"), col("ib")).distinct()
    val setsA = corpusSets.select(col("doc_id").as("ia"),
        lit(true).as("corp"), sorted_distinct_longs(col("hs")).as("sa"))
      .unionByName(deltaHashes.select(col("doc_id").as("ia"),
        lit(false).as("corp"), sorted_distinct_longs(col("hs")).as("sa")))
    val setsB = deltaHashes.select(col("doc_id").as("ib"),
      sorted_distinct_longs(col("hs")).as("sb"))
    cand.join(setsA, Seq("ia", "corp")).join(setsB, "ib")
      .withColumn("m", intersect_count_sorted(col("sa"), col("sb")))
      .withColumn("jac", col("m").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("m")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("ib").as("vid")).distinct()
  }

  /** Persist the corpus's dedup index to storage: band rows
    * (`bands/` — the LSH probe structure, keyed (band, h1, h2)) and
    * sorted shingle sets (`sets/` — the exact-verify side). Parquet so
    * a 100 TB corpus's index lives on the lakehouse next to the data,
    * partition-pruned by the probe join like any other table; appending
    * a new batch's rows to both directories IS the index update.
    */
  def saveBandIndex(corpusHashes: DataFrame, path: String): Unit = {
    import graft.functions.TextHashExpressions.sorted_distinct_longs
    // two write actions read the hash frame — persist around them so an
    // unpersisted caller frame (the natural docShingleHashes output)
    // pays the scan→shingle pipeline once, not per write
    val cached = corpusHashes.persist()
    try {
      lshBands(cached).write.mode("overwrite").parquet(s"$path/bands")
      cached.select(col("doc_id"),
          sorted_distinct_longs(col("hs")).as("hs"))
        .write.mode("overwrite").parquet(s"$path/sets")
    } finally cached.unpersist(blocking = false)
  }

  /** Reload a [[saveBandIndex]] index: (band index, verify sets) —
    * feed both to [[incrementalNearDupsWithIndex]]. The sets come back
    * already sorted-distinct; `sorted_distinct_longs` inside the verify
    * is idempotent on them.
    */
  def loadBandIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    // select BY NAME: an appending writer may emit the four columns in
    // another order, and a positional toDF would silently mis-map them
    (spark.read.parquet(s"$path/bands")
        .select(col("doc_id").as("ia"), col("band"), col("h1"), col("h2")),
      spark.read.parquet(s"$path/sets").select(col("doc_id"), col("hs")))

  /** PAIRWISE candidate pairs (ia < ib, distinct) — the textbook shape
    * `dedup_mh_lsh`'s oracle states, shared with the LSH-verified
    * exact-Jaccard gate. NO persist: the two self-join sides shuffle
    * identical canonicalized band subplans by (band, h1, h2), so
    * Spark's exchange reuse computes the scan → shingle → minhash →
    * explode pipeline ONCE and feeds both sides from the same shuffle
    * files — the de-duplication a cache would buy, without pinning a
    * corpus-sized dataset in storage memory for the session lifetime
    * (the leak shape r5's review fixed in [[minHashStarCandidates]]),
    * and the frame stays LAZY for explain/schema callers.
    */
  private[graft] def lshCandidatePairs(hashes: DataFrame): DataFrame = {
    val bands = lshBands(hashes)
    val a = bands.toDF("ia", "band", "h1", "h2")
    val b = bands.toDF("ib", "band", "h1", "h2")
    a.join(b, Seq("band", "h1", "h2"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
  }

  /** [[lshCandidatePairs]] with a BUCKET-SIZE GUARD — the production
    * knob for duplicate-DENSE corpora. Buckets of ≤ `maxBucket`
    * members enumerate pairwise as usual; LARGER buckets are ROUTED
    * through the membership-cost STAR path instead — every member
    * paired with the bucket's minimum member only. A bucket of m
    * members yields m² pair rows pairwise, so one 100-way duplicate
    * family costs 10 000 verified pairs — the r7 100× sweep (500 k
    * docs, every doc in a 100-way family) measured ~200 M pairs,
    * which thrashes any bounded-memory pairwise stage and is
    * OUTPUT-bound, not a plan defect. An oversized bucket is by
    * construction already a near-duplicate cluster, and a cluster's
    * members are drop-decidable against its representative alone (the
    * [[minHashStarCandidates]] argument), so the star edges keep the
    * DROP semantics — a verified family member is still found and
    * dropped — at m−1 rows per bucket instead of m². (r8: earlier the
    * guard EXCLUDED oversized buckets entirely, which silently leaked
    * whole duplicate families through a capped sweep.) All consumers
    * of the band frame shuffle by the same (band, h1, h2) key, so
    * exchange reuse computes the scan → shingle → minhash pipeline
    * once — same no-persist discipline as the uncapped form.
    */
  private[operators] def lshCandidatePairsCapped(hashes: DataFrame,
      maxBucket: Int): DataFrame =
    cappedBucketPairs(lshBands(hashes), Seq("band", "h1", "h2"),
      maxBucket, payload = None).distinct()

  /** The duplicate-density cap/star routing stated ONCE for every
    * banding family: buckets of ≤ `cap` members yield all pairwise
    * candidates; oversized buckets yield STAR edges (bucket-min
    * representative vs each member — membership-sized, drop-decidable
    * through the rep; the r8 fix, which previously had to be
    * re-implemented per family). `banded` carries `keyCols` + doc_id
    * (+ an optional per-doc `payload` column, e.g. the simhash
    * signature, emitted as <p>a/<p>b on both pair sides). ONE
    * aggregation yields both the size filter and the rep — a separate
    * rep groupBy would add a shuffle over data the size pass already
    * touches. Selects are BY NAME (the loadBandIndex lesson).
    */
  private def cappedBucketPairs(banded: DataFrame, keyCols: Seq[String],
      cap: Int, payload: Option[String]): DataFrame = {
    def keys = keyCols.map(col)
    val sized = banded.groupBy(keys: _*)
      .agg(count(lit(1)).as("bc"), min(col("doc_id")).as("rep"))
    val ok = sized.filter(col("bc") <= cap).select(keys: _*)
    val big = sized.filter(col("bc") > cap)
      .select(keys :+ col("rep"): _*)
    val pruned = banded.join(ok, keyCols)
    def side(sfx: String) = pruned.select(
      keys ++ Seq(col("doc_id").as("i" + sfx)) ++
        payload.map(p => col(p).as(p + sfx)): _*)
    val pairs = side("a").join(side("b"), keyCols)
      .filter(col("ia") < col("ib"))
      .select(Seq(col("ia"), col("ib")) ++
        payload.toSeq.flatMap(p => Seq(col(p + "a"), col(p + "b"))): _*)
    // star edges: ia < ib by construction (rep is the bucket min)
    val stars = payload match {
      case None =>
        banded.join(big, keyCols)
          .filter(col("doc_id") =!= col("rep"))
          .select(col("rep").as("ia"), col("doc_id").as("ib"))
      case Some(p) =>
        // the rep's payload joins back from the (tiny) big-bucket table
        val reps = banded.join(big, keyCols)
          .filter(col("doc_id") === col("rep"))
          .select(keys ++ Seq(col("rep"), col(p).as(p + "a")): _*)
          .distinct()
        banded.join(reps, keyCols)
          .filter(col("doc_id") =!= col("rep"))
          .select(col("rep").as("ia"), col("doc_id").as("ib"),
            col(p + "a"), col(p).as(p + "b"))
    }
    pairs.unionByName(stars)
  }

  /** SimHash hamming-neighbor pairs (the `dedup_sh_ham` gate; see its
    * map-entry scaladoc). `maxBucket = Some(B)` is the same
    * duplicate-density guard as [[lshCandidatePairsCapped]]: band
    * buckets over B members contribute STAR edges (member vs bucket
    * minimum) instead of m² pairwise rows — identical-signature
    * families at 100× would otherwise hand the verify stage a
    * quadratic candidate set, exactly the MinHash failure mode. The
    * exact-recall pigeonhole property (every pair at hamming ≤ 3
    * shares a band) holds for the UNCAPPED form; capped, an oversized
    * bucket keeps drop-decidability through its representative — the
    * [[minHashStarCandidates]] argument.
    */
  private[graft] def simhashHamming(s: SparkSession, dir: String,
      maxBucket: Option[Int]): DataFrame = {
    import graft.functions.TextHashExpressions.sim_hash60
    val h = documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        sim_hash60(shingleHashes(col("tk"), 1)).as("sh"))
    val banded = h.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        (shiftrightunsigned(col("sh"), 15 * b) bitwiseAND lit(0x7FFFL))): _*))
        .as(Seq("b", "k")))
    val cand = maxBucket match {
      case None =>
        val a = banded.select(col("b"), col("k"),
          col("doc_id").as("ia"), col("sh").as("sha"))
        val bb = banded.select(col("b"), col("k"),
          col("doc_id").as("ib"), col("sh").as("shb"))
        a.join(bb, Seq("b", "k"))
          .filter(col("ia") < col("ib"))
          .select(col("ia"), col("ib"), col("sha"), col("shb"))
      case Some(cap) =>
        // the shared cap/star routing, signature riding as the payload
        cappedBucketPairs(banded, Seq("b", "k"), cap, payload = Some("sh"))
    }
    cand
      .select(col("ia"), col("ib"),
        expr("CAST(bit_count(sha ^ shb) AS BIGINT)").as("ham"))
      .distinct()
      .filter(col("ham") <= 3)
  }

  /** Sorted-neighborhood rank, decomposed for scale (r16): per-`lang`
    * `row_number` over `(k, doc_id)` computed WITHOUT a per-language
    * window task. The windowed formulation
    * (`row_number over Window.partitionBy(lang).orderBy(k, doc_id)`)
    * sorts each language in ONE task — a single-task sort of most of
    * the corpus when one language dominates (the classic skewed-key
    * scale-killer). This is the PrefixSum two-pass scan instead:
    *
    *   1. range-partition + sort by (lang, k, doc_id) — the parallel
    *      sort machinery, every core busy regardless of language skew;
    *   2. per-(partition, lang) counts — ≤ P·|langs| rows collected as
    *      driver METADATA (not data);
    *   3. exclusive per-(partition, lang) offsets broadcast back; each
    *      partition scans its sorted rows once, seeding a running
    *      counter at its language's offset.
    *
    * Ranks are bit-identical to the windowed form (the combined order
    * key is total — doc_id is unique), proven on adversarial layouts by
    * FuzzySnmSpec. Input must have columns (doc_id, lang, k); output
    * adds `rn` (1-based, long) and is eagerly materialized (the two
    * band-join sides both read it; the range sort must not run twice).
    */
  private[graft] def snmRanked(d0: DataFrame): DataFrame = {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = d0.sparkSession
    val orderKey = Seq(col("lang"), col("k"), col("doc_id"))
    val parted = d0.repartitionByRange(orderKey: _*)
      .sortWithinPartitions(orderKey: _*).persist()
    // pass 1: per-(partition, lang) counts — metadata-sized by design
    // (one row per partition per language present in it)
    val counts = parted
      .select(spark_partition_id().as("pid"), col("lang"))
      .groupBy(col("pid"), col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets: Map[(Int, String), Long] =
      counts.groupBy(_._2).iterator.flatMap { case (lang, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, n) =>
          val o = ((pid, lang), acc); acc += n; o
        }
      }.toMap
    val bOff = spark.sparkContext.broadcast(offsets)
    val schema = StructType(parted.schema.fields :+
      StructField("rn", LongType, nullable = false))
    val enc = RowEncoder.encoderFor(schema)
    val langIdx = parted.schema.fieldIndex("lang")
    // pass 2: one narrow scan per partition — rows arrive sorted by
    // (lang, k, doc_id), so a language change resets the counter to
    // that language's exclusive offset for this partition
    val ranked = parted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // explicit first-row sentinel: `cur == null` would re-fire on every
      // row of a null-lang run, resetting the counter each time and
      // diverging from the windowed formulation this helper must match
      var started = false
      var cur: String = null
      var run = 0L
      it.map { r =>
        val lang = r.getString(langIdx)
        if (!started || lang != cur) {
          started = true
          cur = lang
          run = bOff.value.getOrElse((pid, lang), 0L)
        }
        run += 1
        Row.fromSeq(r.toSeq :+ run)
      }
    }(enc)
    // eager MEMORY_AND_DISK persist + one forcing count instead of the
    // former localCheckpoint(true) (r16 verdict item 6 — storage
    // discipline): same single materialization, both band-join sides
    // still read one cached frame and the broadcast offsets stay valid
    // against the partitioning that produced them (a lost block
    // recomputes from parted's shuffle files, whose partitioning is
    // fixed once written — the PrefixSum contract holds), but the
    // blocks are spillable, CacheManager-tracked (the per-gate cleanup
    // can release them; localCheckpoint blocks bypass the CacheManager
    // and pin executor storage until GC) and recoverable on executor
    // loss instead of failing the job.
    val out = ranked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    parted.unpersist(blocking = false)
    out
  }

  def gates: Seq[Gate] = Seq(
    // Exact dedup by content digest (hash-groupBy).
    Gate("dedup_exact", (s, dir) => {
      documents(s, dir)
        .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("digest"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    }, _ =>
      """SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin),

    // Entity-resolution-style FUZZY matching (§2.69): sorted-
    // neighborhood candidate generation (Hernández & Stolfo, SIGMOD'95
    // — the classic scalable record-linkage blocking) + edit-distance
    // verify, the primitive the set-similarity family (Jaccard/
    // SimHash) cannot express because edit distance is ORDER-sensitive
    // (transposed or shifted spans). Rows sort per lang by the 64-char
    // normalized key; each row is compared only with the NEXT w = 10
    // rows in sort order, so the pair space is a HARD n·w bound — the
    // first cut blocked on (lang, length bucket) and paid Σ|block|²,
    // which measured QUADRATIC at the 10× corpus (112 s; length
    // buckets concentrate). The rank-band join is the q_range_join
    // grid trick on the rank axis (bucket width w, A explodes into ≤2
    // buckets, equi-join + residual); the sort itself is one ranged
    // window per lang. Verify = levenshtein on the key prefix (ASCII
    // corpus → char semantics agree across engines). Production ER
    // runs the UNION of several sort keys (key prefix, reversed key,
    // phonetic) through this same shape to cover early-position edits.
    // Parallelism (r16): the rank is the RANGE-PARTITIONED two-pass
    // scan ([[snmRanked]], the PrefixSum shape) — rows range-sort on
    // (lang, key, doc_id) across ALL cores, per-(partition, lang)
    // counts collect as metadata, and each partition ranks locally
    // seeded with its language's exclusive offset. The former
    // formulation (`row_number over Window.partitionBy(lang)`) ranked
    // each language in ONE task — at 100 TB with a dominant language
    // that is a single-task sort of most of the corpus. The w-band
    // join below is unchanged and the ranks are bit-identical
    // (FuzzySnmSpec proves ≡ the windowed form on adversarial
    // layouts).
    Gate("dedup_fuzzy", (s, dir) => {
      val W = 10L
      // byte≡char levenshtein equivalence (the verify kernel is byte-
      // semantics, the oracle's levenshtein is char-semantics) holds
      // only on ASCII keys — ENFORCED, not assumed: a non-ASCII key
      // fails the gate loudly instead of silently diverging the engines
      val k0 = expr("substring(text, 1, 64)")
      val kChecked = when(assert_true(k0.isNull || k0.rlike("^[\\x00-\\x7F]*$"),
        concat(lit("dedup_fuzzy: non-ASCII key breaks the byte=char " +
          "levenshtein invariant, doc_id="), col("doc_id"))).isNull, k0)
      val d = snmRanked(documents(s, dir).select(col("doc_id"), col("lang"),
        kChecked.as("k")))
      val a = d.select(col("doc_id").as("a_id"), col("lang"),
          col("k").as("ka"), col("rn").as("ra"))
        .withColumn("bk", explode(array_distinct(array(
          expr(s"ra div $W"), expr(s"(ra + $W) div $W")))))
      val b = d.select(col("doc_id").as("b_id"), col("lang"),
        col("k").as("kb"), expr(s"rn div $W").as("bk"), col("rn").as("rb"))
      a.join(b, Seq("lang", "bk"))
        .filter(col("rb") > col("ra") && col("rb") <= col("ra") + W)
        // native banded verify (TextHash.levBanded, −1 past the
        // threshold): the builtin levenshtein measured ~35 µs per
        // 64-char pair — 36 s of verify alone at the 10× corpus —
        // vs sub-µs banded; ASCII corpus ⇒ byte ≡ char distance,
        // fuzz-pinned to the full DP in LevBandedProps
        .select(col("a_id"), col("b_id"),
          graft.functions.TextHashExpressions
            .lev_banded(col("ka"), col("kb"), 10).as("dist"))
        .filter(col("dist") >= 0)
    }, _ =>
      """WITH d AS (
        |  SELECT doc_id, lang, substr(text, 1, 64) AS k,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY substr(text, 1, 64), doc_id) AS rn
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 10
        |WHERE levenshtein(a.k, b.k) <= 10
        |ORDER BY a_id, b_id""".stripMargin),

    // MinHash (8 hashes) + LSH (4 bands × 2) candidate pairs — the
    // textbook PAIRWISE shape, kept because the oracle states exactly
    // this definition. Θ(Σ|bucket|²) output: conformance/diagnostic
    // only — production candidate generation goes through
    // [[minHashStarCandidates]] (membership-sized star edges).
    Gate("dedup_mh_lsh", (s, dir) => {
      // same persist-before-filter discipline as dedup_jac_lsh below:
      // one parallel shingle pass feeds both band self-join sides. r8:
      // the frame returns LAZY — the caller's write is the ONE
      // materializing job (the r7 eager localCheckpoint added a second
      // materialization: checkpoint job + a rescan of its blocks); the
      // corpus-sized cache is reclaimed by session hygiene (the
      // Bench/Verify per-query barrier unpersists it).
      val hashes = docShingleHashes(s, dir).persist()
      lshCandidatePairs(hashes.filter(size(col("hs")) > 0))
    }, _ =>
      (shinglesCte +
      ", " + sigBandsCte + """
        |SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |     AND a.doc_id < b.doc_id
        |ORDER BY ia, ib""".stripMargin)),

    // PRODUCTION-SHAPE exact Jaccard: verification restricted to the
    // MinHash-LSH candidate pairs — the path a 100 TB dedup sweep runs
    // (LinkedIn/SlimPajama-style): candidate count is bounded by the
    // corpus's actual near-dup structure (collision buckets), NOT by the
    // corpus-global Σdf² the all-pairs gate pays, so cost stays
    // near-linear in corpus size. Each candidate pair is verified
    // EXACTLY against the full distinct shingle sets (hash-set
    // array_intersect), so there are no false positives — only LSH's
    // bounded false-negative rate, which the band/row parameters tune.
    // Measured (same code, 3× corpus): all-pairs jaccard 3.9 s → 27.3 s
    // (quadratic pair space), this gate stays near-flat.
    Gate("dedup_jac_lsh", (s, dir) => {
      // ONE shingle pass feeds all four consumers (two band self-join
      // sides, two verify-set sides): the hashes frame (doc_id +
      // array<long>, corpus-bounded) is persisted for the query's
      // duration and released as soon as the result — bounded by the
      // corpus's actual near-dup structure, orders of magnitude
      // smaller — is eagerly materialized. Same persist/force/release
      // discipline as minHashStarCandidates above; the result cache is
      // result-sized and reclaimed by session hygiene (bench barrier /
      // Verify teardown) after the caller's action.
      // persist BEFORE the shingle-count filter: a filter on the lazy
      // frame is pushed below the input repartition and evaluates the
      // whole tokenize→shingle pipeline single-threaded on the unsplit
      // scan (then recomputes it above the exchange) — cached, the
      // pipeline runs once across all cores and the filter reads the
      // cached arrays
      val hashes = docShingleHashes(s, dir).persist()
      // LAZY return (r8): the caller's write is the one materializing
      // job — every read of `hashes` lands inside it, populated on
      // first touch; the cache is reclaimed by the Bench/Verify
      // per-query barrier (the r7 eager checkpoint double-materialized)
      jaccardOnCandidates(hashes.filter(size(col("hs")) > 0))
    }, _ =>
      // exact Jaccard on LSH candidates: same minhash/band CTE as
      // dedup_mh_lsh, then exact set intersection per candidate pair
      (shinglesCte +
      ", " + sigBandsCte + """,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |       AND a.doc_id < b.doc_id),
        |hd AS (SELECT DISTINCT doc_id, h FROM h),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT c.ia, c.ib, COUNT(*) AS m
        |  FROM cand c
        |  JOIN hd a ON a.doc_id = c.ia
        |  JOIN hd b ON b.doc_id = c.ib AND b.h = a.h
        |  GROUP BY 1, 2)
        |SELECT i.ia, i.ib, i.m,
        |       CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) AS jac
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.ia
        |JOIN sizes nb ON nb.doc_id = i.ib
        |WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5
        |ORDER BY ia, ib""".stripMargin)),

    // The duplicate-density GUARD as a gate: same LSH-verified exact
    // Jaccard, but band buckets larger than 8 members are excluded
    // from pairwise verification (lshCandidatePairsCapped — at sf0.01
    // the duplicate-heavy corpus has buckets up to 27, so the cap
    // genuinely bites and the oracle states the same bucket-size
    // filter). This is the form a duplicate-dense sweep runs: the
    // session-4 100× corpus (100-way families) thrashed the uncapped
    // pairwise stage and completes in 13.4 s capped, with oversized
    // buckets routed to the star/cluster path.
    Gate("dedup_cap", (s, dir) => {
      val hashes = docShingleHashes(s, dir).persist()
      val out = jaccardOnCandidates(hashes.filter(size(col("hs")) > 0),
          maxBucket = Some(8))
        .localCheckpoint(true)
      hashes.unpersist(blocking = false)
      out
    }, _ =>
      // the duplicate-density guard: identical pipeline, candidate join
      // restricted to band buckets of <= 8 members
      (shinglesCte +
      ", " + sigBandsCte + """,
        |ok AS (
        |  SELECT band, h1, h2 FROM bands GROUP BY 1, 2, 3
        |  HAVING COUNT(*) <= 8),
        |okb AS (SELECT b.* FROM bands b JOIN ok USING (band, h1, h2)),
        |big AS (
        |  SELECT band, h1, h2 FROM bands GROUP BY 1, 2, 3
        |  HAVING COUNT(*) > 8),
        |bigb AS (SELECT b.* FROM bands b JOIN big USING (band, h1, h2)),
        |reps AS (
        |  SELECT band, h1, h2, MIN(doc_id) AS rep FROM bigb GROUP BY 1, 2, 3),
        |stars AS (
        |  SELECT r.rep AS ia, b.doc_id AS ib FROM bigb b
        |  JOIN reps r USING (band, h1, h2) WHERE b.doc_id <> r.rep),
        |cand AS (
        |  SELECT DISTINCT ia, ib FROM (
        |    SELECT a.doc_id AS ia, b.doc_id AS ib
        |    FROM okb a JOIN okb b
        |      ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |         AND a.doc_id < b.doc_id
        |    UNION ALL SELECT ia, ib FROM stars)),
        |hd AS (SELECT DISTINCT doc_id, h FROM h),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT c.ia, c.ib, COUNT(*) AS m
        |  FROM cand c
        |  JOIN hd a ON a.doc_id = c.ia
        |  JOIN hd b ON b.doc_id = c.ib AND b.h = a.h
        |  GROUP BY 1, 2)
        |SELECT i.ia, i.ib, i.m,
        |       CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) AS jac
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.ia
        |JOIN sizes nb ON nb.doc_id = i.ib
        |WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5
        |ORDER BY ia, ib""".stripMargin)),

    // Incremental delta-vs-corpus near-dedup (see incrementalNearDups):
    // even doc_ids stand in for the existing corpus, odd for the newly
    // arrived batch. ONE shingle pass feeds both sides' band builds and
    // verify sets (persist/force/release discipline as above); in
    // production the corpus side reads a persisted band index instead.
    Gate("dedup_incr", (s, dir) => {
      val hashes = docShingleHashes(s, dir).persist()
      val nonEmpty = hashes.filter(size(col("hs")) > 0)
      val out = incrementalNearDups(
          nonEmpty.filter(col("doc_id") % 2 === 0),
          nonEmpty.filter(col("doc_id") % 2 === 1))
        .localCheckpoint(true)
      hashes.unpersist(blocking = false)
      out
    }, _ =>
      // incremental probe: same minhash/band CTEs, candidate join
      // restricted to (even corpus, odd delta) pairs, exact-Jaccard verify
      (shinglesCte +
      ", " + sigBandsCte + """,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |hd AS (SELECT DISTINCT doc_id, h FROM h),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT c.ia, c.ib, COUNT(*) AS m
        |  FROM cand c
        |  JOIN hd a ON a.doc_id = c.ia
        |  JOIN hd b ON b.doc_id = c.ib AND b.h = a.h
        |  GROUP BY 1, 2)
        |SELECT i.ia, i.ib, i.m,
        |       CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) AS jac
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.ia
        |JOIN sizes nb ON nb.doc_id = i.ib
        |WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5
        |ORDER BY ia, ib""".stripMargin)),

    // n-gram Jaccard with the production stop-shingle cap (df ≤ 8% of
    // the corpus). Shuffle join keyed by shingle hash; the cap bounds
    // the per-shingle join fan-out.
    Gate("dedup_ngram", (s, dir) =>
      ngramJaccard(s, dir, maxDfFrac = Some(0.08)), _ =>
      (shinglesCte +
      """, hd0 AS (SELECT DISTINCT doc_id, h FROM h),
        |stop AS (
        |  SELECT h FROM hd0 GROUP BY h
        |  HAVING COUNT(*) > CEIL(0.08 * (SELECT COUNT(*) FROM documents))),
        |hd AS (SELECT * FROM hd0 WHERE h NOT IN (SELECT h FROM stop)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS m
        |  FROM hd a JOIN hd b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib, m,
        |       CAST(m AS DOUBLE) / CAST(na.n + nb.n - m AS DOUBLE) AS jac
        |FROM inter
        |JOIN sizes na ON na.doc_id = ia
        |JOIN sizes nb ON nb.doc_id = ib
        |WHERE CAST(m AS DOUBLE) / CAST(na.n + nb.n - m AS DOUBLE) >= 0.10
        |ORDER BY ia, ib""".stripMargin)),

    // Directed containment pairs over the same capped postings list.
    Gate("dedup_contain", (s, dir) =>
      containment(s, dir, maxDfFrac = Some(0.08)), _ =>
      (shinglesCte +
      """, hd0 AS (SELECT DISTINCT doc_id, h FROM h),
        |stop AS (
        |  SELECT h FROM hd0 GROUP BY h
        |  HAVING COUNT(*) > CEIL(0.08 * (SELECT COUNT(*) FROM documents))),
        |hd AS (SELECT * FROM hd0 WHERE h NOT IN (SELECT h FROM stop)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS m
        |  FROM hd a JOIN hd b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |directed AS (
        |  SELECT i.ia AS contained, i.ib AS container, i.m, na.n AS n_contained
        |  FROM inter i JOIN sizes na ON na.doc_id = i.ia
        |  UNION ALL
        |  SELECT i.ib, i.ia, i.m, nb.n
        |  FROM inter i JOIN sizes nb ON nb.doc_id = i.ib)
        |SELECT contained, container, m, n_contained,
        |       CAST(m AS DOUBLE) / CAST(n_contained AS DOUBLE) AS cont
        |FROM directed
        |WHERE CAST(m AS DOUBLE) / CAST(n_contained AS DOUBLE) >= 0.5
        |ORDER BY contained, container""".stripMargin)),

    // Candidate graph → duplicate CLUSTERS via min-label propagation
    // (connected components), then each document mapped to its cluster
    // representative — the step a real dedup pipeline runs after any
    // candidate generator.
    //
    // The edge list is NOT the pairwise candidate set: docs sharing an
    // LSH bucket form a clique, and a clique's connectivity is exactly
    // preserved by a STAR — every member joined to the bucket's minimum
    // member. Star edges are ≤ bands·|docs| rows (membership-sized),
    // while pairwise edges are Σ|bucket|²: on a 100 TB corpus with
    // million-document duplicate groups that is the difference between a
    // linear and a quadratic shuffle — and it also deletes the
    // band-self-join + distinct build entirely (one groupBy + one join
    // replace it). Components, and therefore min-label clusters, are
    // identical to the pairwise formulation the DuckDB oracle states.
    Gate("dedup_clusters", (s, dir) => {
      val pairs = minHashStarCandidates(docShingleHashes(s, dir))
      val vertices = documents(s, dir).select(col("doc_id"))
      // connectedComponents truncates lineage internally (checkpointed
      // rounds), so the candidate cache can be released as soon as it
      // returns — its result never recomputes through `pairs`
      val out = connectedComponents(vertices, pairs)
      pairs.unpersist(blocking = false)
      out
    }, _ =>
      (clustersRecursiveCte +
      """SELECT doc_id, cluster FROM clusters ORDER BY doc_id""".stripMargin)),

    // LEAKAGE-SAFE train/test split (r9) — the composition every
    // training-data pipeline runs after near-dedup: hash-split the
    // corpus 90/10, but assign the split by the document's NEAR-DUP
    // CLUSTER representative, never the document itself — a near-dup
    // family can therefore never straddle the boundary (the
    // train-on-test leakage mode random splits have; Lee et al. 2021
    // measure the resulting eval inflation). Plan: the dedup_clusters
    // component pass unchanged (star-edge candidates → contraction +
    // delta-iteration CC — membership-sized shuffles), then the split
    // is ONE map-side expression on the cluster label: the Knuth
    // multiplicative hash (the q_strat convention, 31-bit-masked so
    // the product stays int64-exact at 100 TB id ranges) mod 100
    // against the 90% threshold. Zero additional shuffles on top of
    // the clustering; at 100 TB the split column is free.
    Gate("pipe_split", (s, dir) => {
      val pairs = minHashStarCandidates(docShingleHashes(s, dir))
      val vertices = documents(s, dir).select(col("doc_id"))
      val out = connectedComponents(vertices, pairs)
        .withColumn("split",
          when(expr("pmod((cluster % 2147483648) * 2654435761, 4294967296) % 100")
            < 90, lit("train")).otherwise(lit("test")))
      pairs.unpersist(blocking = false)
      out
    }, _ =>
      // the dedup_clusters chain + the q_strat Knuth hash on the CLUSTER
      // label (shared CTE, so the two gates can never state different
      // clusterings)
      (clustersRecursiveCte +
      """SELECT doc_id, cluster,
        |       CASE WHEN ((cluster % 2147483648) * 2654435761) % 4294967296 % 100 < 90
        |            THEN 'train' ELSE 'test' END AS split
        |FROM clusters ORDER BY doc_id""".stripMargin)),

    // Per-document 16-bit SimHash (near-dup docs collide). Token-less
    // documents are dropped — the oracle's per-token GROUP BY never
    // produces a row for them. The guard is the NATIVE token count
    // (the dedup_sh_ham/text_fprint discipline): trim ≠ '' is NOT
    // equivalent — Spark's trim strips only spaces, so a tab/newline-
    // only document would pass it, hash an empty vote array to sh16=0
    // and desynchronize the row count from the oracle.
    Gate("dedup_simhash", (s, dir) => {
      documents(s, dir)
        .filter(graft.functions.TextHashExpressions
          .ws_token_count(col("text")) > 0)
        .select(col("doc_id"),
          simHash16(transform(tokens(col("text")), t => stringHash(t))).as("sh16"))
    }, _ =>
      (
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, UNNEST(tk) AS t FROM toks)),
        |votes AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 16).map(j =>
        s"    SUM(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n") +
      "\n  FROM th GROUP BY doc_id)\nSELECT doc_id,\nCAST(\n" +
      (0 until 16).map(j =>
        s"  (CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" +\n") +
      " AS BIGINT) AS sh16\nFROM votes ORDER BY doc_id")),

    // SimHash HAMMING-NEIGHBOR dedup — the Manku-Das-Sarma WWW'07
    // web-crawl design: 60-bit SimHash per document, candidate pairs
    // from 4 × 15-bit band buckets (pigeonhole: hamming ≤ 3 ⟹ at
    // least one band is IDENTICAL, so band blocking has EXACT recall
    // at the threshold), verified by one popcount of the XOR. The
    // third near-dup blocking function alongside MinHash bands
    // (set-overlap) and embedding-LSH (cosine): SimHash responds to
    // weighted token DISTRIBUTION, catching light edits that shift
    // few bits. Same scale shape as dedup_mh_lsh: band-keyed shuffle,
    // pair space bounded by collisions; the bucket-cap/star guard
    // applies unchanged on duplicate-dense corpora.
    Gate("dedup_sh_ham", (s, dir) => simhashHamming(s, dir, maxBucket = None), _ =>
      // 60-bit SimHash + 4x15-bit band candidates + XOR popcount verify,
      // generated like the dedup_simhash oracle (60 vote columns)
      (
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, UNNEST(tk) AS t FROM toks)),
        |votes AS (
        |  SELECT doc_id,
        |""".stripMargin +
      (0 until 60).map(j =>
        s"    SUM(CASE WHEN ((h * ${2 * j + 3} + ${17 * j + 11}) % 1000000007) % 2 = 1" +
          s" THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n") +
      "\n  FROM th GROUP BY doc_id),\nsh AS (SELECT doc_id,\nCAST(\n" +
      (0 until 60).map(j =>
        s"  (CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" +\n") +
      """ AS BIGINT) AS sh
        |FROM votes),
        |bands AS (
        |  SELECT doc_id, sh, b, (sh >> (15 * b)) & 32767 AS k
        |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b))
        |SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS ham
        |FROM bands a JOIN bands b
        |  ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY ia, ib""".stripMargin)),

    // WINNOW-FINGERPRINT near-dedup (r9) — the text_winnow scaladoc's
    // claim made real: the MOSS winnowing fingerprints (min 3-gram hash
    // per 4-gram window, ~2/(w+1) of the grams) SUBSTITUTE for the full
    // shingle sets in the standard MinHash-LSH + exact-verify path.
    // Identical pipeline to dedup_jac_lsh — signatures, bands,
    // candidates, exact set-intersect verify — but every stage runs on
    // the ~40%-sized fingerprint sets: the signature pass hashes fewer
    // grams, the verify intersects smaller sorted sets, and the
    // Schleimer guarantee (any shared span of ≥ 6 tokens shares a
    // fingerprint — WinnowPropsSpec) bounds what blocking can miss.
    // Jaccard over fingerprint sets is the MOSS similarity statistic —
    // a consistent estimator of full-set overlap on shared spans. At
    // 100 TB this is the knob between "dedup cost tracks corpus size"
    // and "dedup cost tracks corpus size × shingle density".
    Gate("dedup_winnow", (s, dir) => {
      import graft.functions.TextHashExpressions.winnow
      // same persist-before-filter discipline as dedup_jac_lsh: one
      // parallel tokenize→3-gram→winnow pass feeds all four consumers;
      // lazy return — the caller's write is the one materializing job
      val hashes = documents(s, dir)
        .select(col("doc_id"), shingleHashes(tokens(col("text")), 3).as("g"))
        .filter(size(col("g")) >= 4)
        .select(col("doc_id"), winnow(col("g"), 4).as("hs"))
        .persist()
      jaccardOnCandidates(hashes)
    }, _ =>
      // winnowed fingerprints substituted for full shingle sets in the
      // SAME band/verify chain as dedup_jac_lsh: 3-gram hashes → min per
      // 4-window → distinct fingerprints, then minhash/bands/exact
      // intersect over the fingerprint sets
      ("""WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(tk) - 1), i ->
        |           list_reduce(list_transform(
        |               string_split(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], ''),
        |               c -> CAST(ord(c) AS BIGINT)),
        |             (a, b) -> (a * 31 + b) % 1000000007)) AS g
        |  FROM toks),
        |f AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(g) - 2), i ->
        |           list_min(g[i : i + 3]))) AS fp
        |  FROM g0 WHERE len(g) >= 4),
        |h AS (SELECT doc_id, UNNEST(fp) AS h FROM f),
        |""" + sigBandsCte + """,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |       AND a.doc_id < b.doc_id),
        |hd AS (SELECT DISTINCT doc_id, h FROM h),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hd GROUP BY doc_id),
        |inter AS (
        |  SELECT c.ia, c.ib, COUNT(*) AS m
        |  FROM cand c
        |  JOIN hd a ON a.doc_id = c.ia
        |  JOIN hd b ON b.doc_id = c.ib AND b.h = a.h
        |  GROUP BY 1, 2)
        |SELECT i.ia, i.ib, i.m,
        |       CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) AS jac
        |FROM inter i
        |JOIN sizes na ON na.doc_id = i.ia
        |JOIN sizes nb ON nb.doc_id = i.ib
        |WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5
        |ORDER BY ia, ib""").stripMargin),

    // Embedding-cosine near-dup blocked by random-hyperplane LSH bucket
    // (exact quantized dot within block). The block key is the LSH
    // bucket — near-identical vectors land in the same bucket by
    // construction, and block sizes are tuned by plane count, so the
    // per-block pair space stays bounded as the corpus grows (a label/
    // category key would grow blocks linearly with data and the pair
    // space quadratically).
    Gate("dedup_emb_cos", (s, dir) => {
      SimilarityQueries.lshBucketedPairs(embeddings(s, dir), "vec_id",
          planes = 6)
        .filter(col("ia") < col("ib") && col("cos") > 0.35)
        .select(col("bucket"), col("ia"), col("ib"), col("dot"), col("cos"))
    }, _ =>
      """WITH v AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (SELECT vec_id, q,
        |             CAST(list_dot_product(q, q) AS BIGINT) AS n2 FROM v),
        |dots AS (
        |  SELECT vec_id, p,
        |         SUM(x * (((p * 131 + (i - 1) * 7919 + 17) % 1000) - 500)) AS dp
        |  FROM (SELECT vec_id, UNNEST(q) AS x,
        |               generate_subscripts(q, 1) AS i FROM v)
        |  CROSS JOIN (SELECT UNNEST(range(0, 6)) AS p)
        |  GROUP BY vec_id, p),
        |buckets AS (
        |  SELECT n.vec_id, n.q, n.n2,
        |         (SELECT CAST(SUM(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
        |          FROM dots d WHERE d.vec_id = n.vec_id) AS bucket
        |  FROM n)
        |SELECT bucket, ia, ib, dot, cos FROM (
        |  SELECT a.bucket, a.vec_id AS ia, b.vec_id AS ib,
        |         CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
        |         CAST(list_dot_product(a.q, b.q) AS DOUBLE)
        |           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
        |  FROM buckets a JOIN buckets b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |WHERE cos > 0.35
        |ORDER BY ia, ib""".stripMargin)
  )

  /** Min-label propagation connected components: every vertex starts as
    * its own label; each round every vertex takes the min of its own and
    * its neighbors' labels, until a fixpoint. The driver loop runs
    * O(diameter) rounds (bounded, graph-structural); every round's work
    * is one shuffle join keyed by vertex — no per-row driver work, no
    * global state. Output: (doc_id, cluster) with cluster = min doc_id
    * of the component — the canonical-representative convention.
    *
    * Each round materializes exactly ONE frame (the next label table,
    * carrying a `chg` flag) and runs one cheap count over it: the changed
    * frontier and the convergence check both derive from that single
    * materialization, so a round costs one shuffle-join job plus one
    * scan-of-cached-blocks job — no separate delta join.
    */
  private[operators] def connectedComponents(vertices: DataFrame,
      pairs: DataFrame, edgesPerTask: Long = 5000000L): DataFrame = {
    require(edgesPerTask > 0, s"edgesPerTask must be positive: $edgesPerTask")
    val spark = vertices.sparkSession
    import spark.implicits._
    // lineage truncation per round: each round's frame derives from the
    // previous round's, so without it the LOGICAL plan doubles per
    // iteration and blows up the analyzer within ~8 rounds. On a cluster
    // with a configured checkpoint dir this uses RELIABLE checkpoints
    // (survives executor loss — localCheckpoint blocks are executor-local
    // and unrecoverable); local/bench runs fall back to localCheckpoint.
    def truncate(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    // round-0 partition-local contraction: one union-find pass per task
    // (arrays + path compression) collapses every chain its partition
    // holds, emitting (local root, node) pairs. The iterative loop then
    // starts from depth-1 stars per partition, so its round count tracks
    // the CROSS-partition chain length, not the raw graph diameter — on
    // the sf0.1 chain-heavy candidate graph this is 7 rounds → 2, and on
    // a real cluster it divides the diameter by the per-partition chain
    // length. Per-task memory is O(nodes in partition) — the standard
    // assumption of contraction-based distributed CC. Connectivity is
    // preserved exactly: both endpoints of every in-partition edge map
    // to the same emitted root, and a node split across partitions
    // carries one pair per partition, chaining its local roots together.
    // contraction batches sized by edge count, NOT by the session's
    // shuffle parallelism: AQE's parallelism-first coalescing keeps ~core
    // many partitions, which splinters a small graph across tasks and
    // leaves cross-task chains for the loop to grind through. ~5M edges
    // per task bounds the union-find table to tens of MB; locally the
    // whole candidate graph lands in ONE task (loop converges in 2
    // rounds), while a 100 TB corpus still fans out to thousands of
    // memory-bounded contraction tasks.
    val p0 = pairs.select(col("ia").cast("long"), col("ib").cast("long"))
      .persist()
    val edgeCount = p0.count()
    val contractParts =
      math.max(1L, (edgeCount + edgesPerTask - 1) / edgesPerTask).toInt
    val contracted = p0.repartition(contractParts).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (c != r) { val nx = parent.getOrElse(c, c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys first: find() path-compresses (rewrites values)
        // while we emit
        val ks = parent.keys.toArray
        ks.iterator.map(k => (find(k), k))
      }.toDF("ia", "ib")
    // SINGLE-PARTITION SHORTCUT (r16): when the whole candidate graph
    // fits one contraction task, the union-find pass IS a complete
    // sequential connected-components — links always point to the
    // smaller id and find() fully compresses, so every emitted pair is
    // (global component minimum, node) and `init` below is already the
    // final labeling. The iterative machinery (the undirected edge
    // frame's persist+count plus one guaranteed-no-op fixpoint round,
    // ~2 s of sequential job floor at gate scale) is skipped outright;
    // multi-partition contractions run the loop exactly as before.
    // CcShortcutSpec pins the two paths label-identical on graphs run
    // both ways (edgesPerTask forces the multi-partition path).
    //
    // materialize the edge list ONCE: without the persist every round's
    // join would recompute the entire candidate-generation subtree
    // (shingle → signature → bucket-rep join → union-find). Edges are
    // mapping-sized (≤ active nodes) by construction, not corpus-sized.
    // both edge directions via one explode, NOT a self-union: each union
    // branch would recompute the candidate-generation subtree twice
    val needLoop = contractParts > 1
    val undOpt =
      if (!needLoop) None
      else Some(contracted.select(explode(array(
          struct(col("ia").as("src"), col("ib").as("dst")),
          struct(col("ib").as("src"), col("ia").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist())
    undOpt.foreach(_.count())
    // iterate ONLY over edge-incident vertices: a vertex with no edges
    // can never change its label, so the loop's tables are sized by the
    // candidate graph, not the corpus. On a 100 TB corpus most documents
    // are singletons — they bypass the iteration entirely and rejoin
    // map-only at the end (`src` covers every endpoint: und holds both
    // directions of each edge).
    // labels start from the contraction's own answer — label(node) =
    // its (minimum, across partitions) local root, label(root) = root —
    // not from identity labels: starting at identity burns the first
    // propagation round re-deriving exactly what union-find already
    // computed. When the graph fits one contraction task the loop's
    // first round is already a fixpoint check (1 round, not 2); at
    // scale the loop starts from per-partition components instead of
    // singletons.
    val init = contracted.select(col("ib").as("doc_id"), col("ia").as("cluster"))
      .unionByName(contracted.select(col("ia").as("doc_id"),
        col("ia").as("cluster")))
      .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
    // Dataset.unpersist is a NO-OP on a truncated frame (localCheckpoint
    // blocks bypass the CacheManager — the BpeTrainer finding), so each
    // round's blocks are released at the RDD level via tracked ids; with
    // a reliable checkpoint dir the ids are empty and cleanup is the
    // checkpoint dir's (files live until context stop — unchanged).
    val sc = spark.sparkContext
    // ids collected by OWNERSHIP — walk the truncated frame's own RDD
    // lineage for persisted blocks — NOT by diffing the context-global
    // persistent-RDD registry (the pre-r17 form): sibling driver
    // threads may persist/checkpoint concurrently (pipe_full overlaps
    // the curation chain with this loop), and a registry diff would
    // sweep their unrelated registrations — including unrecoverable
    // localCheckpoint blocks — into this loop's release set. The walk
    // is two nodes deep (the truncated frame is an RDD scan over the
    // checkpointed RDD); a reliable checkpoint yields no persisted RDD,
    // so its id set stays empty exactly as before.
    def persistedIdsOf(df: DataFrame): Set[Int] = {
      def walk(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
        (if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          Set(r.id)
        else Set.empty[Int]) ++ r.dependencies.flatMap(d => walk(d.rdd))
      walk(df.rdd)
    }
    def truncateTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = truncate(df)
      (out, persistedIdsOf(out))
    }
    def release(ids: Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    var (mat, matIds) = truncateTracked(init)
    // p0 feeds `contracted`, which BOTH und and init derive from —
    // releasing it before truncate(init) materializes would re-run the
    // whole repartition + union-find contraction a second time
    p0.unpersist()
    var labels = mat
    // delta iteration: a label can only improve when a NEIGHBOR'S label
    // improved last round, so each round propagates from the changed
    // frontier only — the frontier shrinks geometrically while the full
    // label table is touched once per round via one left join
    var frontier = mat
    // single-partition contraction: labels are final (see the shortcut
    // note above) — enter the loop only when partitions could disagree
    var changed = if (needLoop) 1L else 0L
    var iter = 0
    while (changed > 0 && iter < 64) {
      val und = undOpt.get
      val nbrMin = und.join(frontier, und("dst") === frontier("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      // propagation: one-hop neighbor min folded into the label table
      // (`cluster` here is the pre-join label; null nbr_min → unchanged)
      var cur = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(labels("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("p"),
          coalesce(col("nbr_min") < col("cluster"), lit(false)).as("chg"))
      // pointer jumps: label ← label(label), twice. A label is always the
      // doc_id of a component member, so chasing it shortcuts label
      // chains; each jump composes with the previous, so two jumps
      // quadruple the shortcut distance per round. Round count is what
      // dominates wall time: each round is a fixed job-scheduling +
      // shuffle latency floor at any data size, and on a 1000-executor
      // cluster each extra round is a full barrier, so two cheap
      // label-table self-joins per round beat extra rounds (the sf0.1
      // chain-heavy candidate graph converges 11 → 7 → 5).
      (1 to 2).foreach { _ =>
        val t = cur.select(col("doc_id").as("t_id"), col("p").as("t_p"))
        val j = cur.join(t, cur("p") === t("t_id"), "left")
        cur = j.select(cur("doc_id"),
          least(cur("p"), coalesce(col("t_p"), cur("p"))).as("p"),
          (cur("chg") ||
            coalesce(col("t_p") < cur("p"), lit(false))).as("chg"))
      }
      val (next, nextIds) = truncateTracked(
        cur.withColumnRenamed("p", "cluster"))
      changed = next.filter(col("chg")).count()
      release(matIds)
      mat = next
      matIds = nextIds
      labels = next.select(col("doc_id"), col("cluster"))
      frontier = next.filter(col("chg")).select(col("doc_id"), col("cluster"))
      iter += 1
    }
    undOpt.foreach(_.unpersist())
    // `mat` (the final round's blocks) stays materialized for the caller
    // to consume; session-level hygiene (Bench/Verify unpersist sweep)
    // reclaims it after the query's action completes.
    // singletons (never touched by the loop) rejoin with themselves as
    // cluster — an anti-join against the loop's (small) vertex set
    labels.unionByName(
      vertices.join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster")))
  }

  /** n-gram Jaccard similarity pairs via a shingle-hash-keyed shuffle
    * join (inverted index on an 8-byte key — the shuffle carries longs,
    * not strings).
    *
    * `maxDfFrac = Some(α)` drops stop-shingles appearing in more than
    * ⌈α·N⌉ documents before the self-join — the knob a 100 TB corpus
    * needs: without it the join fans out to Σ df(s)², which grows
    * quadratically on natural-language shingle skew ("of the" appears
    * in every document). The stop list is tiny by construction (at most
    * totalShingleOccurrences/(α·N) entries), so it broadcasts, and the
    * filter is a map-side anti-join BEFORE the shuffle. Document sizes
    * are computed on the capped shingle sets, so the Jaccard stays
    * internally consistent (similarity over informative shingles only —
    * same convention as df-based stopword removal in IR).
    * `maxDfFrac = None` is the exact variant.
    *
    * PPJoin/AllPairs prefix filtering (Bayardo WWW'07, Xiao WWW'08) was
    * implemented and MEASURED against this formulation, and rejected
    * with data: at t = 0.10 the prefix keeps 90% of each doc's tokens,
    * and on this corpus (sf0.1: 5000 docs, 256k capped postings,
    * Σdf² = 73.2M) it prunes the 10.3M-pair candidate space by only 3%
    * (9.98M candidates; one-sided containment candidates GREW to
    * 16.5M directed) — 82% of all doc pairs share a capped shingle, so
    * verification must intersect ~10M full token arrays, which costs
    * far more than streaming the 73M join rows through one codegen
    * hash-aggregate. Measured: prefix+verify 11.8 s vs 4.9 s for this
    * form (isolated pair run, sf0.1). Prefix filtering pays at the
    * high thresholds (t ≥ 0.7) PPJoin targets, not at the low-recall
    * thresholds a dedup sweep runs; the df-cap is the lever that
    * matters here because it bounds exactly the Σdf² head the prefix
    * would otherwise trim.
    */
  def ngramJaccard(s: SparkSession, dir: String,
      maxDfFrac: Option[Double] = None, threshold: Double = 0.10): DataFrame = {
    val exploded = cappedPostings(s, dir, maxDfFrac)
    // the postings list feeds three consumers (per-doc sizes + both self-
    // join sides); persist materializes the tokenize→shingle→stop-filter
    // pipeline ONCE instead of re-running it per consumer. persist (not
    // localCheckpoint): lazy — building the frame doesn't execute it
    // (explain/schema callers pay nothing) — and recoverable: a lost
    // executor recomputes blocks from lineage instead of failing the
    // query, which executor-local checkpoint blocks cannot.
    // No broadcast hints: the postings list and the sizes table both grow
    // with the corpus, so forcing broadcast would OOM at scale — AQE
    // picks the join strategy from runtime shuffle sizes.
    val kept = exploded.persist()
    val (sizes, inter) = pairCounts(kept)
    inter
      .join(sizes.toDF("ia", "na"), "ia")
      .join(sizes.toDF("ib", "nb"), "ib")
      .withColumn("jac", col("m").cast("double") /
        (col("na") + col("nb") - col("m")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("ia"), col("ib"), col("m"), col("jac"))
  }

  /** Per-doc set sizes + per-pair intersection counts over a postings
    * list — the shared core of [[ngramJaccard]] and [[containment]]
    * (ONE definition and ONE postings build, so the two conformance
    * gates can never desynchronize).
    * The self-join fans out to Σ df(s)² rows; pairs aggregate on ONE
    * packed long key (ia<<32|ib) — the primitive-key fast path in
    * Spark's hash aggregate — instead of a two-column row key. The
    * packing assumes doc_id < 2^32 (unsigned unpack); for a corpus
    * beyond that fall back to the two-column groupBy — same plan,
    * slower agg.
    *
    * Sizes deliberately join AFTER the pair aggregate, not ride through
    * the self-join: both self-join sides are the SAME cached frame, so
    * the planner reuses one exchange for both; attaching sizes first
    * (measured) breaks that symmetry, the planner flips to a broadcast
    * build of the ENTIRE postings side, and the query ran 8× slower —
    * while the post-agg joins are map-side broadcasts of the tiny
    * per-doc sizes table against the already-aggregated pairs.
    *
    * r9 re-measured the per-shingle collect_list + in-kernel C(df,2)
    * emitter alternative (one shuffle, half the pair rows): 6.0 s vs
    * this form's 3.9-4.2 s at sf0.1 — the object-hash collect_list
    * aggregate, the 80 k-element array materializations and Generate's
    * per-element copy cost more than the join's extra df²/2 codegen
    * rows (consistent with the r6 finding in BASELINE.md, 20-23 s for the
    * first-cut grouped form). The join formulation stays.
    */
  private def pairCounts(kept: DataFrame): (DataFrame, DataFrame) = {
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = kept.toDF("ia", "s")
      .join(kept.toDF("ib", "s"), Seq("s"))
      .filter(col("ia") < col("ib"))
      .select((shiftleft(col("ia"), 32) bitwiseOR col("ib")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("m"))
      .select(shiftrightunsigned(col("pair"), 32).as("ia"),
        (col("pair") bitwiseAND lit(0xffffffffL)).as("ib"), col("m"))
    (sizes, inter)
  }

  /** Distinct (doc_id, shingle-hash) postings, optionally with the
    * df-capped stop-shingle filter applied (see [[ngramJaccard]]).
    */
  private def cappedPostings(s: SparkSession, dir: String,
      maxDfFrac: Option[Double]): DataFrame = {
    val exploded0 = docShingleHashes(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextHashExpressions.distinct_longs(col("hs"))).as("s"))
    maxDfFrac match {
      case Some(alpha) =>
        val nDocs = documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val stop = exploded0.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") > ceil(col("n_docs") * alpha))
          .select(col("s"))
        exploded0.join(broadcast(stop), Seq("s"), "left_anti")
          // the USING join moves `s` first; restore (doc_id, s) order for
          // the positional toDF renames below
          .select(col("doc_id"), col("s"))
      case None => exploded0
    }
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| — the
    * substring-duplicate detector Jaccard misses. A short document fully
    * embedded in a long one has tiny Jaccard (the union is dominated by
    * the long side) but containment ≈ 1; an LLM training corpus prunes
    * exactly these (quotes, boilerplate wrappers, excerpt pages).
    *
    * Same inverted-index shuffle as [[ngramJaccard]] — the shared
    * [[pairCounts]] core (one join keyed by shingle hash, pair counts
    * on a packed-long key) — then each unordered pair emits up to two
    * DIRECTED rows (contained, container), filtered by the containment
    * of the contained side.
    */
  def containment(s: SparkSession, dir: String,
      maxDfFrac: Option[Double] = None, threshold: Double = 0.5): DataFrame = {
    val kept = cappedPostings(s, dir, maxDfFrac).persist()
    val (sizes, inter) = pairCounts(kept)
    // pre-filter BEFORE the direction explode: the Σdf²-sized pair
    // table only rarely passes the threshold in either direction, so
    // the generator must see the handful of survivors, not double the
    // biggest frame in the query first
    val sized = inter
      .join(sizes.toDF("ia", "na"), "ia")
      .join(sizes.toDF("ib", "nb"), "ib")
      .filter(greatest(
        col("m").cast("double") / col("na").cast("double"),
        col("m").cast("double") / col("nb").cast("double")) >= threshold)
    // both directions from one pass over the unordered pairs
    sized.select(explode(array(
        struct(col("ia").as("contained"), col("ib").as("container"),
          col("m"), col("na").as("n_contained")),
        struct(col("ib").as("contained"), col("ia").as("container"),
          col("m"), col("nb").as("n_contained")))).as("d"))
      .select(col("d.contained").as("contained"),
        col("d.container").as("container"), col("d.m").as("m"),
        col("d.n_contained").as("n_contained"))
      .withColumn("cont",
        col("m").cast("double") / col("n_contained").cast("double"))
      .filter(col("cont") >= threshold)
  }

  private val shinglesCte =
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
      |  SELECT doc_id,
      |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
      |  FROM sh)
      |""".stripMargin

  /** MinHash-band candidate pairs → transitive closure → min-label
    * clusters, through a `clusters(doc_id, cluster)` CTE — shared by the
    * `dedup_clusters` and `pipe_split` oracles.
    */
  /** The 8-hash minhash signature + 4x2-row band CTEs over the shingle
    * frame `h` — ONE definition of the seed/band family spliced into
    * every banding oracle (mh_lsh, jac_lsh, winnow, cap, incr, the
    * recursive clusters chain), so a seed or band-count change can
    * never desynchronize a single gate from its Spark twin (the
    * PipelineQueries shared-CTE discipline). Starts at "sig AS"
    * (callers supply the joining comma) and closes the bands paren.
    */
  private val sigBandsCte: String =
    """sig AS (
      |  SELECT doc_id,
      |    MIN((h *  1 +  7) % 1000000007) AS s0, MIN((h *  3 + 20) % 1000000007) AS s1,
      |    MIN((h *  5 + 33) % 1000000007) AS s2, MIN((h *  7 + 46) % 1000000007) AS s3,
      |    MIN((h *  9 + 59) % 1000000007) AS s4, MIN((h * 11 + 72) % 1000000007) AS s5,
      |    MIN((h * 13 + 85) % 1000000007) AS s6, MIN((h * 15 + 98) % 1000000007) AS s7
      |  FROM h GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, s0 AS h1, s1 AS h2 FROM sig UNION ALL
      |  SELECT doc_id, 1, s2, s3 FROM sig UNION ALL
      |  SELECT doc_id, 2, s4, s5 FROM sig UNION ALL
      |  SELECT doc_id, 3, s6, s7 FROM sig)""".stripMargin

  private val clustersRecursiveCte =
    "WITH RECURSIVE " + shinglesCte.stripPrefix("WITH ") +
      ", " + sigBandsCte + """,
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |       AND a.doc_id < b.doc_id),
        |und AS (
        |  SELECT ia AS src, ib AS dst FROM pairs
        |  UNION ALL SELECT ib, ia FROM pairs),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS via FROM documents
        |  UNION
        |  SELECT r.node, u.dst FROM reach r JOIN und u ON r.via = u.src),
        |clusters AS (
        |  SELECT node AS doc_id, MIN(via) AS cluster
        |  FROM reach GROUP BY node)
        |""".stripMargin
}
