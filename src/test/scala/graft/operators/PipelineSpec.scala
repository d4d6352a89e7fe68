package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Invariants of the end-to-end curation pipeline (`pipe_curate`) that
  * the DuckDB gate can't state directly: stage containment, filter
  * floors, exact-dedup uniqueness, and near-dedup idempotence (the
  * curated set contains no verified near-dup pair, so re-running the
  * sweep on its own output is a fixpoint).
  */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val curated =
    PipelineQueries.queries("pipe_curate")(spark, dir).cache()

  test("pipeline keeps a non-trivial subset and every row passes the filters") {
    val n = curated.count()
    val total = graft.Tables.documents(spark, dir).count()
    assert(n > 0 && n < total, s"curated $n of $total")
    assert(curated.filter(col("n_tok") < 20 || col("q") < 3.0).count() === 0)
    // classifier-stage invariant: every survivor's recomputed
    // hashing-trick score clears the pipeline threshold (the manifest
    // doesn't carry cls, so restate it from the source text)
    import graft.functions.TextFunctions.{classifierScore, tokens => toks}
    val cls = graft.Tables.documents(spark, dir)
      .join(curated.select(col("doc_id")), "doc_id")
      .select(classifierScore(toks(
        trim(regexp_replace(lower(col("text")), "\\s+", " ")))).as("cls"))
    assert(cls.filter(col("cls") <= -5000L).count() === 0)
  }

  test("decontamination stage: no benchmark doc and no contaminated doc survives") {
    import graft.functions.TextFunctions.{tokens => toks, shingleHashes}
    import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
    // benchmark docs themselves never reach the manifest
    assert(curated.filter(col("doc_id") % 97 === 0).count() === 0)
    // restate the n-gram overlap rule from the source text: every
    // survivor shares < 2 distinct normalized 4-GRAM shingles with the
    // benchmark slice (r10 — bigram overlap saturates as the eval
    // suite grows with the corpus and emptied the sf0.1 manifest; long
    // n-grams only collide on verbatim spans)
    val docs = graft.Tables.documents(spark, dir)
    val normSh = sorted_distinct_longs(shingleHashes(toks(
      trim(regexp_replace(lower(col("text")), "\\s+", " "))), 4))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(normSh).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted
    val hits = docs.join(curated.select(col("doc_id")), "doc_id")
      .select(intersect_count_sorted(normSh, lit(bench)).as("n_hit"))
    assert(hits.filter(col("n_hit") >= 2).count() === 0,
      "a contaminated document survived the curation sweep")
  }

  test("incremental near-dedup ≡ the cross-split slice of the batch sweep") {
    // splitting the corpus and probing the delta must find EXACTLY the
    // near-dup pairs of the all-pairs batch sweep that straddle the
    // split (same bands, same verify): the incremental path may never
    // gain or lose a pair relative to batch re-computation
    import graft.functions.TextFunctions._
    val dir01 = "/root/testdata/sf0.01"
    val hashes = DedupQueries.docShingleHashes(spark, dir01)
      .filter(size(col("hs")) > 0).persist()
    val batchCross = DedupQueries.jaccardOnCandidates(hashes)
      .filter(col("ia") % 2 =!= col("ib") % 2)
      // canonicalize to (even, odd) — the batch sweep orders ia < ib
      .select(
        when(col("ia") % 2 === 0, col("ia")).otherwise(col("ib")).as("ia"),
        when(col("ia") % 2 === 0, col("ib")).otherwise(col("ia")).as("ib"),
        col("m"), col("jac"))
    val incr = DedupQueries.incrementalNearDups(
      hashes.filter(col("doc_id") % 2 === 0),
      hashes.filter(col("doc_id") % 2 === 1))
    assert(incr.exceptAll(batchCross).count() === 0 &&
      batchCross.exceptAll(incr).count() === 0,
      "incremental result diverges from the batch sweep's cross pairs")
    assert(incr.count() > 0, "split produced no cross pairs — vacuous test")
    hashes.unpersist(blocking = false)
  }

  test("band index survives a parquet roundtrip: save → load → probe ≡ direct probe") {
    // the production lifecycle the incrementalNearDups scaladoc claims:
    // the corpus's index is PERSISTED between batches. Write the band
    // rows + verify sets to parquet, read them back, probe a delta
    // through incrementalNearDupsWithIndex — the result must equal the
    // direct (recompute-the-index) probe exactly
    import graft.functions.TextFunctions._
    val dir01 = "/root/testdata/sf0.01"
    val hashes = DedupQueries.docShingleHashes(spark, dir01)
      .filter(size(col("hs")) > 0).persist()
    val corpus = hashes.filter(col("doc_id") % 2 === 0)
    val delta = hashes.filter(col("doc_id") % 2 === 1)
    val path = SharedSpark.tempDir("bandidx").toString
    DedupQueries.saveBandIndex(corpus, path)
    val (bands, sets) = DedupQueries.loadBandIndex(spark, path)
    val fromDisk = DedupQueries
      .incrementalNearDupsWithIndex(bands, sets, delta)
    val direct = DedupQueries.incrementalNearDups(corpus, delta)
    assert(fromDisk.exceptAll(direct).count() === 0 &&
      direct.exceptAll(fromDisk).count() === 0,
      "parquet-roundtripped index diverges from the recomputed index")
    assert(fromDisk.count() > 0, "no pairs — vacuous roundtrip")
    hashes.unpersist(blocking = false)
  }

  test("exact dedup: curated normalized texts are unique") {
    import graft.functions.TextFunctions._
    // recompute norms for the curated ids straight from the source table
    val norms = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      .join(curated.select("doc_id"), "doc_id")
    assert(norms.groupBy(col("norm")).count().filter(col("count") > 1)
      .count() === 0)
    // and no curated doc's bigram shingle set near-duplicates another's:
    // the verified-pair sweep over the curated subset must come back empty
    // (fixpoint — rerunning curation drops nothing)
    val hashes = norms
      .select(col("doc_id"), shingleHashes(tokens(col("norm")), 2).as("hs"))
      .persist()
    val pairs = DedupQueries.jaccardOnCandidates(
      hashes.filter(size(col("hs")) > 0))
    assert(pairs.count() === 0, "curated set still contains near-dup pairs")
    hashes.unpersist(blocking = false)
  }

  test("duplicate-dense family: capped stage 7 routes big buckets, keeps one") {
    // a 100-way near-duplicate family (token rotations of one base doc,
    // the gen_docs100x recipe) floods every LSH band bucket far past the
    // maxBucket = 8 cap. The r7 exclusion-only guard would silently pass
    // ALL 100 variants into the manifest (they differ textually, so
    // exact dedup keeps them; capped-out buckets contributed no pairs);
    // the r8 star routing must still collapse the family to its minimum
    // member — the safety rail keeps the DROP semantics.
    import spark.implicits._
    // fillers chosen (offline, same poly-hash as the engine) so the
    // hashing-trick classifier sum is positive and the doc clears every
    // stage-1-5 filter: 100 tokens, half of/and stopwords (q = 3.33),
    // all fillers distinct (dup_frac 0.48, top2 1), cls sum = +1364
    val fillers = Seq("r1", "h2", "k3", "j4", "w5", "b6", "x7", "c8",
      "z9", "k10", "j11", "s12", "h13", "g14", "z15", "y16", "x17",
      "w18", "v19", "w20", "v21", "h22", "g23", "f24", "e25", "d26",
      "z27", "y28", "x29", "w30", "v31", "k32", "j33", "s34", "h35",
      "g36", "z37", "y38", "x39", "v40", "x41", "w42", "v43", "h44",
      "g45", "f46", "e47", "d48", "z49", "y50")
    val words = fillers.zipWithIndex.flatMap { case (w, i) =>
      Seq(if (i % 2 == 1) "of" else "and", w)
    }
    val toks = words.toArray
    def rot(k: Int) = (toks.drop(k) ++ toks.take(k)).mkString(" ")
    // ids 1068..1163: 96 consecutive ids with NO multiple of 97 (r9 —
    // the decontam stage treats doc_id % 97 = 0 as the benchmark slice,
    // and a family member cast as the benchmark would legitimately
    // contaminate-drop its whole family, which is not what this test
    // probes); 96 members still flood the maxBucket = 8 cap
    val family = (0 until 96).map(k => (1068L + k, rot(k)))
    val fx = SharedSpark.tempDir("pipe-dense").toFile
    fx.deleteOnExit()
    family.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    val out = PipelineQueries.queries("pipe_curate")(spark, fx.getAbsolutePath)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(out.contains(1068L), "family representative must survive")
    val leaked = out.intersect((1069L to 1163L).toSet)
    assert(leaked.isEmpty,
      s"capped near-dedup must still drop family members, kept $leaked")
  }

  test("pipe_incr admits only novel clean delta docs against the immutable base") {
    // base (even ids): two well-formed docs. delta (odd ids): an exact
    // copy of a base doc (append-only exact dedup -> rejected), a
    // near-dup of a base doc (jac >= 0.5 vs the base survivor ->
    // rejected regardless of id order), a novel well-formed doc
    // (admitted), and a 10-token fragment (stage filter -> rejected).
    import spark.implicits._
    val a = "the data keeps the value fast and the group holds the table " +
      "well so the batch moves fast while the line ends today now"
    val b = "the rows merge under the index while a scan reads the heap " +
      "and a cost model picks the fast path for the small probe today"
    // novel = a PERMUTATION of base doc b's token multiset: the
    // hashing-trick classifier and the quality/language scores are
    // bag-of-words (so they keep b's passing values by construction),
    // while the bigram shingle overlap with b drops to jac ≈ 0.09 —
    // clean of every near-dup rule
    val novel = "today the path under cost and the heap picks a model " +
      "while the scan reads rows for the fast merge index a small probe the"
    val nearDupA = a + " with two extras"
    val docs = Seq(
      (2L, a), (4L, b),                     // base
      (3L, a),                              // delta: exact copy of base 2
      (5L, nearDupA),                       // delta: near-dup of base 2
      (7L, novel),                          // delta: novel -> admitted
      (9L, "the tiny short doc stops here now so soon done")) // < 20 toks
    val fx = SharedSpark.tempDir("pipe-incr-edge").toFile
    fx.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    val admitted = PipelineQueries.queries("pipe_incr")(spark, fx.getAbsolutePath)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(admitted == Set(7L),
      s"expected only the novel delta doc admitted, got $admitted")
    // and the batch gate on the same corpus keeps the base docs — the
    // base really was admissible material, so the rejections above are
    // the incremental rules, not stage-filter accidents
    val batch = PipelineQueries.queries("pipe_curate")(spark, fx.getAbsolutePath)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(batch.intersect(Set(2L, 4L)) == Set(2L, 4L),
      s"base docs must pass the batch sweep, got $batch")
  }

  test("pipe_incr_idx serves the same admission from the PERSISTED base artifacts") {
    // same corpus shape as the pipe_incr edge test: base (even) = two
    // clean docs; delta (odd) = exact copy, near-dup, novel, fragment
    import spark.implicits._
    val a = "the data keeps the value fast and the group holds the table " +
      "well so the batch moves fast while the line ends today now"
    val b = "the rows merge under the index while a scan reads the heap " +
      "and a cost model picks the fast path for the small probe today"
    val novel = "today the path under cost and the heap picks a model " +
      "while the scan reads rows for the fast merge index a small probe the"
    val docs = Seq(
      (2L, a), (4L, b),
      (3L, a), (5L, a + " with two extras"), (7L, novel),
      (9L, "the tiny short doc stops here now so soon done"))
    val fx = SharedSpark.tempDir("pipe-incr-idx").toFile
    fx.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    // ingest-time artifact write, forced fresh: the stored manifest
    // must equal the INLINE base curation (provenance of the artifact
    // the idx gate and its oracle both read)
    val path = PipelineQueries.ensureCuratedBase(spark, fx.getAbsolutePath,
      rebuild = true)
    val stored = spark.read.parquet(s"$path/manifest")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(stored == Set(2L, 4L),
      s"stored manifest must be the curated base survivors, got $stored")
    // stored verify sets: one row per manifest doc, sorted-distinct
    val sets = spark.read.parquet(s"$path/index/sets")
      .select(col("doc_id"), col("hs")).as[(Long, Seq[Long])].collect()
    assert(sets.map(_._1).toSet == stored)
    sets.foreach { case (id, hs) =>
      assert(hs == hs.distinct.sorted, s"set of $id not sorted-distinct")
    }
    // the production gate applies the same incremental rules as the
    // inline pipe_incr gate on this corpus: only the novel doc enters
    val admitted = PipelineQueries.queries("pipe_incr_idx")(
        spark, fx.getAbsolutePath)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(admitted == Set(7L),
      s"expected only the novel delta doc admitted, got $admitted")
  }

  test("pipe_full re-keys a cluster whose representative was dropped by curation") {
    // the dropped-representative edge (r10): doc 3 is the GLOBAL
    // minimum of its near-dup cluster but fails the n_tok >= 20 stage
    // filter, while its band-colliding superset doc 57 survives. The
    // raw cluster label (3) now names a document that is not in the
    // curated set — pipe_full must key the split by the SURVIVING
    // minimum (57), not the dangling global label.
    import spark.implicits._
    val b = "the data keeps the value fast and the group holds the table " +
      "well so the batch moves fast while the line ends today now"
    val a = b.split(' ').take(19).mkString(" ") // 19 tokens -> dropped
    val f1 = "the rows merge under the index while a scan reads the heap " +
      "and a cost model picks the fast path for the small probe today"
    val f2 = "the planner walks a tree and the bytes stream into a sink " +
      "while the pool keeps a slot open for the tiny task ahead now"
    val docs = Seq((3L, a), (57L, b), (10L, f1), (11L, f2),
      (194L, "zz yy xx ww vv")) // 194 = 2*97: the benchmark slice
    val fx = SharedSpark.tempDir("pipe-full-edge").toFile
    fx.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${fx.getAbsolutePath}/documents.parquet")
    val dir2 = fx.getAbsolutePath
    // precondition: the RAW clustering really does put 3 and 57 in one
    // cluster labeled by the soon-dropped global min 3 (band collision
    // between the 18-shingle prefix and its 23-shingle superset)
    val raw = DedupQueries.queries("pipe_split")(spark, dir2)
      .select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw(57L) == 3L && raw(3L) == 3L,
      s"precondition: 3 and 57 must band-collide into cluster 3, got $raw")
    val full = PipelineQueries.queries("pipe_full")(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = full.map(r => r._1 -> r).toMap
    // dropped docs stay dropped: 3 (length filter), 194 (benchmark)
    assert(!byId.contains(3L) && !byId.contains(194L), full.mkString(","))
    // the edge itself: 57's label is the surviving minimum, not 3
    assert(byId(57L)._2 == 57L,
      s"cluster label must be the SURVIVING min, got ${byId(57L)}")
    // split = Knuth hash of the surviving label, for every row
    full.foreach { case (_, c, split) =>
      val pct = (c % 2147483648L) * 2654435761L % 4294967296L % 100
      assert(split == (if (pct < 90) "train" else "test"))
    }
    // and no cluster straddles
    full.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $c straddles")
    }
  }
}
