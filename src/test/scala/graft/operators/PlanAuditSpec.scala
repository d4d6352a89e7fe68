package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Physical-plan audits: the scale properties the operators claim must
  * be visible in the executed plan, not just in comments — broadcast
  * joins for dimensions, filter pushdown into the parquet scan,
  * whole-stage codegen around the codec kernels, partial aggregation
  * for the bounded-heap top-k. A regression in any of these silently
  * turns a 100 TB-shaped plan into a shuffle storm long before any
  * correctness gate notices.
  */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val q = graft.SparkEntry.queries(name)
    q(spark, dir).queryExecution.executedPlan.toString
  }

  /** Every query execution `body` ran. Fails when it ran none, so an
    * audit cannot pass on an empty capture.
    */
  private def ran(body: => Any): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val qes = executedPlans(body)
    assert(qes.nonEmpty, "no query ran")
    qes
  }

  /** The final plans of every query `body` ran, in the order they ended:
    * an operator's last one is its eager checkpoint.
    */
  private def ranPlans(body: => Any): Seq[String] = ran(body).map(finalPlan(_))

  test("dimension joins broadcast (q3, q5)") {
    // at test scale every dim fits autoBroadcastJoinThreshold, so the
    // physical plan must still pick broadcast joins WITHOUT forced hints
    assert(plan("q3_join_topk").contains("BroadcastHashJoin"))
    val p5 = plan("q5_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 2,
      "star join should broadcast its dimension tables")
  }

  test("no broadcast hint on linearly-growing tables (q3, q5 at 100x)") {
    // customer/supplier grow with scale factor: a forced broadcast(...)
    // hint on them is the first OOM at sf100. Only the bounded dims
    // (nation: 25 rows, region: 5 rows) may carry a static hint — the
    // rest must be left to AQE's runtime sizing.
    def hints(name: String): Int =
      "ResolvedHint".r.findAllIn(
        graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.analyzed.toString).size
    assert(hints("q3_join_topk") == 0,
      "q3 must not force-broadcast customer (linear in SF)")
    assert(hints("q5_star_join") == 2,
      "q5 may hint only nation + region (bounded dims)")
  }

  test("bucketed star joins plan with ZERO exchange on the facts") {
    // the whole point of BucketedLayout: both facts co-bucketed by
    // orderkey at ingest, so the fact-fact join needs no Exchange on
    // either side. Broadcast of the small fact side (this SF) would
    // make that vacuously true, so the test forces SMJ everywhere
    // (autoBroadcastJoinThreshold = -1; q5's nation/region keep their
    // explicit hints) — the plan then shows the genuine cluster-scale
    // shape: dims exchange on their own keys (expected — they are not
    // bucketed), the ORDERKEY facts never do.
    def finalPlan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the adaptive plan
      // audit only the final adaptive plan, not the == Initial Plan ==
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    }
    // single-column orderkey partitioning = the fact-fact JOIN's
    // exchange; the group-by's multi-column exchange (which includes
    // l_orderkey among its keys) is the aggregation's own cost, paid
    // identically on any layout once customer can't broadcast
    def orderkeyShuffles(p: String): Int =
      "Exchange hashpartitioning\\((?:o_orderkey|l_orderkey)#\\d+L?, \\d+\\)".r
        .findAllIn(p).size
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq("q3_bucketed", "q5_bucketed").foreach { g =>
        val p = finalPlan(g)
        assert(orderkeyShuffles(p) == 0,
          s"$g shuffled the bucketed facts on orderkey:\n$p")
        assert(p.contains("Bucketed: true"),
          s"$g did not use the bucketed scan:\n$p")
      }
      // and the raw-scan q3 DOES pay the orderkey exchange (the cost
      // the layout removes) — guards against a silently-matching regex
      assert(orderkeyShuffles(finalPlan("q3_join_topk")) > 0,
        "raw q3 unexpectedly planned no orderkey shuffle — harness broken?")
    }

    // with the default threshold back, the local q3_bucketed final plan
    // is shuffle-free END TO END: join covered by buckets, aggregate by
    // the join's PartitioningCollection (group keys ⊇ l_orderkey),
    // top-k is TakeOrdered
    val p3 = finalPlan("q3_bucketed")
    assert("(?<!Broadcast)Exchange".r.findAllIn(p3).isEmpty,
      s"q3_bucketed final plan carries a shuffle:\n$p3")
  }

  test("point lookup prunes the bucketed scan to the keys' buckets " +
      "on BOTH facts") {
    // q_bucket_prune's 5-key IN-list must select ≤ 5 of 32 buckets on
    // the orders scan AND — via constraint propagation through the
    // orderkey equi-join — on the lineitem scan: the serving-path
    // guarantee that a key-list read touches O(|keys|) buckets of each
    // fact, not the table
    val df = graft.SparkEntry.queries("q_bucket_prune")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt))
      .toList
    assert(selected.size == 2,
      s"expected two pruned bucketed scans (orders + lineitem):\n$plan")
    selected.foreach { case (n, total) =>
      assert(total == graft.operators.BucketedLayout.Buckets)
      assert(n <= 5, s"5 keys must select <= 5 buckets, got $n of $total")
    }
  }

  test("string predicate pushes down to the parquet scan") {
    // read the scan node's metadata directly — plan toString truncates it
    val qe = graft.SparkEntry.queries("q_string_pred")(spark, dir).queryExecution
    val pushed = qe.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
    }
    assert(pushed.nonEmpty, "no parquet scan in plan")
    assert(pushed.exists(f => f != "[]" && f.nonEmpty),
      s"scans carry no pushed filters: $pushed")
  }

  test("codec kernels stay inside WholeStageCodegen") {
    // AQE only shows codegen spans in the FINAL plan — execute first
    def finalPlan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the adaptive plan for THIS query
      df.queryExecution.executedPlan.toString
    }
    // the final adaptive plan marks codegen stages with the `*(n)` star
    val p1 = finalPlan("f1_oranum_long")
    assert(p1.contains("*(") &&
      """\*\(\d+\) Project \[.*OraNumber\.decodeToLong""".r.findFirstIn(p1).isDefined,
      s"codec projection must sit inside a codegen stage:\n$p1")
    assert(finalPlan("f2_bin_double").contains("*("))
  }

  test("minhash bands come from ONE explode, not a union of branches") {
    // the gate eagerly materializes (returned plan is an RDD scan), so
    // the audit targets the lazy candidate plan the gate executes
    import org.apache.spark.sql.functions.{col, size}
    val p = DedupQueries.lshCandidatePairs(
        DedupQueries.docShingleHashes(spark, dir).filter(size(col("hs")) > 0))
      .queryExecution.executedPlan.toString
    assert("Generate explode".r.findAllIn(p).size <= 2, // one per join side
      "banding must be a single explode per side, not unioned branches")
    assert(!p.contains("Union"))
  }

  test("jaccard stop-shingle list broadcasts into an anti-join before the self-join") {
    val p = plan("dedup_ngram")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("LSH-verified jaccard: equi-joins only, no nested-loop, no union") {
    // the production dedup shape: every join must be hash/merge keyed
    // (bands, then candidate-id joins) — a BroadcastNestedLoopJoin here
    // would mean the candidate restriction silently degenerated to
    // all-pairs. The GATE eagerly materializes (its returned plan is a
    // cache scan), so the audit targets the inner lazy plan the gate
    // executes.
    import org.apache.spark.sql.functions.{col, size}
    val hashes = DedupQueries.docShingleHashes(spark, dir)
      .filter(size(col("hs")) > 0)
    val p = DedupQueries.jaccardOnCandidates(hashes)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("Union"))
  }

  test("LSH-verified jaccard: one shingle scan — all four pipeline reads hit the cache") {
    // r6 measured the unpersisted form re-running the scan→tokenize→
    // shingle pipeline ~4× (band self-join sides + both verify sides).
    // With `hashes` persisted, the executed plan must contain ZERO
    // file scans — every consumer reads the in-memory relation — and
    // the gate's returned frame must itself be the materialized result
    // (a cache scan, no joins), proving the query ran exactly once.
    import org.apache.spark.sql.functions.{col, size}
    val hashes = DedupQueries.docShingleHashes(spark, dir)
      .filter(size(col("hs")) > 0).persist()
    try {
      // string audit (tree collect can't see through AdaptiveSparkPlanExec):
      // every parquet scan in the printed plan must sit INSIDE an
      // InMemoryRelation's cached-plan printout — a bare scan would mean a
      // consumer bypassed the cache and re-runs the shingle pipeline
      val p = DedupQueries.jaccardOnCandidates(hashes)
        .queryExecution.executedPlan.toString
      val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
      val cacheRels = "InMemoryRelation".r.findAllIn(p).size
      val parquetScans = "FileScan|Scan parquet".r.findAllIn(p).size
      assert(cacheScans >= 3, // band sides may share via exchange reuse
        s"expected the four pipeline consumers to read the cache:\n$p")
      assert(parquetScans <= cacheRels,
        s"parquet scanned outside the cache ($parquetScans scans, $cacheRels cached):\n$p")
    } finally hashes.unpersist(blocking = true)
    // the gate returns the LIVE plan (r8: the caller's write is the one
    // materializing job — no eager checkpoint double-materialization),
    // but its shingle pipeline must still be cached: parquet appears
    // only inside the InMemoryRelation printout
    val gate = graft.SparkEntry.queries("dedup_jac_lsh")(spark, dir)
    val gp = gate.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(gp).size >= 3,
      s"gate consumers must read the persisted shingle frame:\n$gp")
    assert("FileScan|Scan parquet".r.findAllIn(gp).size <=
      "InMemoryRelation".r.findAllIn(gp).size,
      s"gate must not re-scan parquet outside the cache:\n$gp")
    spark.sharedState.cacheManager.clearCache()
  }

  test("brute-force top-k uses two-phase object hash aggregation, queries broadcast") {
    val p = plan("ann_brute_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "partial + final aggregation phases expected")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("IVF centroids broadcast; candidate join shuffles on the cell key") {
    val p = plan("ann_ivf")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2)
    assert(p.contains("hashpartitioning(cell"))
  }

  test("kmeans IVF: centroids broadcast, sum aggregate partials map-side") {
    // the training loop's scale claims: every assignment pass joins the
    // corpus against BROADCAST centroids (shuffling the corpus on a
    // centroid key would defeat the point), and the centroid recompute
    // runs as a two-phase object-hash aggregate (partial VecSumAgg
    // buffers merge map-side — the no-explode training pass)
    val p = plan("ann_ivf_kmeans")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"both assignment passes must broadcast centroids:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"vec_sum must aggregate in two phases:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("SQ8 re-rank stage: candidate list broadcasts against the fact table") {
    // the two-stage shape's 100 TB claim: the full-precision side is
    // touched via an equi-join with the BROADCAST candidate list — the
    // re-rank must never shuffle the fact table on vec_id. (The stage-1
    // crossJoins against broadcast bounds/queries are nested-loop by
    // construction, so the audit pins the re-rank join's operator.)
    val p = plan("ann_sq8")
    assert("BroadcastHashJoin .*vec_id".r.findFirstIn(p).isDefined,
      s"re-rank must equi-join vec_id against the broadcast candidates:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"re-rank must not shuffle the fact table:\n$p")
  }

  test("PQ-ADC: encode is one map projection; LUT materialized; heap input narrow") {
    // the r8 PQ serving claims: the codebook is driver metadata, so
    // ENCODE is a single map projection (pqencodeexpr appears exactly
    // once — on the stream side BELOW the cross join, evaluated once
    // per corpus row, never per candidate pair), and the stage-2
    // re-rank equi-joins the broadcast candidate list against the
    // fact table (same contract as SQ8). SortMergeJoin anywhere would
    // mean a corpus-sized shuffle crept into the serving path.
    val p = plan("ann_pq_adc").toLowerCase
    assert("pqencodeexpr".r.findAllIn(p).size == 1,
      s"PQ encode must be ONE stream-side projection, not per-pair:\n$p")
    // r7 plan lesson 1, r8 form: the LUT must NEVER evaluate per
    // candidate pair (the r7 join+aggregate-built LUT frame got
    // projection-collapsed into the pair scan — 54 s at the 10×
    // point). Now the LUT is a codegen kernel in a DIRECT scan
    // projection on the broadcast side, so it appears exactly once —
    // and never in the per-pair `approx` projection.
    assert("pqlutexpr".r.findAllIn(p).size == 1,
      s"query LUT must be one broadcast-side projection:\n$p")
    // r7 plan lesson 2: the bounded-heap aggregate input stays 3
    // primitive columns (qid, approx, vec_id) — the full-precision
    // query vector re-joins onto the candidate list afterwards
    // (riding it through the pair scan measured 35 s at 10×). The
    // per-pair projection computing `approx` must not carry qq.
    val approxLines = p.linesIterator.filter(_.contains("as approx#")).toSeq
    assert(approxLines.nonEmpty, s"ADC approx projection not found:\n$p")
    assert(approxLines.forall(l => !l.contains("qq#")),
      s"query vector must not ride the pair scan into the heap:\n$p")
    assert(approxLines.forall(l => !l.contains("pqlutexpr")),
      s"LUT build must not run per candidate pair (r7: 54 s at 10x):\n$p")
    assert("broadcasthashjoin .*vec_id".r.findFirstIn(p).isDefined,
      s"re-rank must equi-join vec_id against the broadcast candidates:\n$p")
    assert(!p.contains("sortmergejoin"),
      s"no corpus-sized shuffle join in the PQ path:\n$p")
  }

  test("pipe_curate: filters fuse into the scan side; drop list is a broadcast anti-join") {
    // the plans the gate's operator ran; the last is the manifest
    // checkpoint
    val ps = ranPlans(PipelineQueries.curate(spark, dir))
    val p = ps.last
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined ||
      ("LeftAnti".r.findFirstIn(p).isDefined && p.contains("BroadcastExchange")),
      s"near-dup drop list must anti-join via broadcast:\n$p")
    ps.foreach(p => assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in the curation pipeline:\n$p"))
  }

  test("pipe_curate: the fused pass runs only the tokens filter and the classifier fold as lambdas") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter,
      HigherOrderFunction, LambdaFunction, StringSplit}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // lambdas are interpreted per element (CodegenFallback): a per-token
    // stage belongs in a kernel, not in a lambda
    val qes = ran(PipelineQueries.curate(spark, dir))
    val survivors = qes.flatMap(qe => SharedSpark.planNodes(qe.executedPlan)).collectFirst {
      case (r: InMemoryRelation, _) if r.output.exists(_.name == "digest") => r
    }.getOrElse(fail("no cache holds the survivors frame"))
    val exprs = SharedSpark.planNodes(survivors.cachedPlan).flatMap {
      case (p: SparkPlan, _) => p.expressions
      case _ => Nil
    }
    val lambdas = exprs.flatMap(_.collect { case l: LambdaFunction => l })
    val hofs = exprs.flatMap(_.collect { case h: HigherOrderFunction => h })
    // tokens' empty-token filter over the split (one lambda; the filter
    // pushed below the projections repeats it per use of the tokens)
    // and the classifier's aggregate (a merge and an identity finish)
    val (tokenFilters, rest) = hofs.partition {
      case f: ArrayFilter => f.argument.isInstanceOf[StringSplit]
      case _ => false
    }
    assert(rest.size == 1 && rest.head.isInstanceOf[ArrayAggregate] &&
      lambdas.size == tokenFilters.size + 2,
      s"${lambdas.size} lambdas, in ${tokenFilters.size} token filters and " +
        s"${rest.map(_.prettyName).mkString(", ")}:\n${survivors.cachedPlan}")
  }

  test("incremental near-dedup probes the index with equi-joins only") {
    // the delta-vs-corpus claim: the candidate probe is an equi-join on
    // (band, h1, h2) and the verify joins are equi-joins on the ids —
    // a nested-loop or cartesian anywhere would re-couple probe cost to
    // corpus size. Audit the lazy API (the gate eagerly checkpoints,
    // which would reduce — and vacuously pass — the audited plan).
    import org.apache.spark.sql.functions.{col, size}
    val hashes = DedupQueries.docShingleHashes(spark, dir)
      .filter(size(col("hs")) > 0)
    val p = DedupQueries.incrementalNearDups(
        hashes.filter(col("doc_id") % 2 === 0),
        hashes.filter(col("doc_id") % 2 === 1))
      .queryExecution.executedPlan.toString
    assert(p.contains("Join"), s"expected join operators in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"incremental probe must stay equi-join only:\n$p")
  }

  test("IVF-PQ serving: broadcast probe/LUT/candidate frames, no sort-merge") {
    // the bounded-batch serving claim (r10): the probe LUT frame, the
    // skinny candidate list and the query-vector frame all BROADCAST
    // against the codes/corpus scans — a SortMergeJoin or cartesian
    // anywhere means the serve shuffles the corpus per batch. Audited
    // on the index-served retr_rrf dense arm (train/save/load run
    // eagerly; the returned frame is the lazy serve plan).
    val p = RetrievalQueries.denseTop10(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      s"probe LUT + candidates + query vectors must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"serving joins must be broadcast-hash only:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"candidate/re-rank top-k must run the bounded heap:\n$p")
  }

  test("as-of join is union+window: no join operator, one key shuffle") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"as-of must not materialize a join:\n$p")
    assert(p.contains("Window"), "as-of runs through a running window")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1,
      "window shuffles on the as-of key")
  }

  test("range join is an equi-join on (key, bucket), not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded range join must stay an equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("sessionize windows shuffle once on the session key") {
    val p = plan("q_sessionize")
    assert(p.contains("Window"))
    // lag + running-sum + rollup reuse ONE user_id partitioning: a single
    // exchange below the window stack (plus the final presentation sort)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"session windows must share one key shuffle:\n$p")
  }

  test("stratified sample is map-only: no exchange at all") {
    val p = plan("q_strat")
    // presentation orderBy adds a rangepartitioning; the FILTER itself
    // must not introduce a hash shuffle
    assert(!p.contains("hashpartitioning"),
      s"deterministic sampling must not shuffle:\n$p")
  }

  test("BM25: postings slice cached once; stats/query/df joins broadcast; no cartesian") {
    // the scale claims: the corpus-sized explode+groupBy feeds the
    // scorer through ONE cached slice, every small side (query set, df
    // table, corpus stats) broadcasts, and nothing degenerates to a
    // cartesian
    val ps = ranPlans(RetrievalQueries.bm25(spark, dir))
    val p = ps.last
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"token frame and postings slice must be cached:\n$p")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"query/df/stats sides must broadcast:\n$p")
    ps.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"scoring joins must all be broadcast-hash:\n$p")
    }
  }

  test("BM25 ranking runs through the bounded-heap top-k rewrite") {
    val p = ranPlans(RetrievalQueries.bm25(spark, dir)).last
    assert(p.contains("rowtopk"),
      s"per-query ranking must use the bounded heap:\n$p")
  }

  test("LM score: one tokenize pass via cache; count joins equi-only") {
    val ps = ranPlans(RetrievalQueries.lmScore(spark, dir))
    val p = ps.last
    // one tokenize pass: every consumer reads the cached token frame;
    // the bigram/unigram count joins are equi-joins (postings-shaped)
    // — never nested-loop over the corpus — and only the 1-row V
    // frame rides a broadcast nested loop
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"token frame must be cached:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"count joins must be equi-joins:\n$p")
    ps.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnl <= 1, s"only the scalar V frame may cross-join:\n$p")
    }
  }

  test("semantic dedup: codebook broadcasts for assignment; no cartesian anywhere") {
    // the SemDeDup claims: centroid assignment is map-only against a
    // BROADCAST codebook (collapsed by the bounded heap before any
    // shuffle), and the pair stage is an equi-join on the cluster key —
    // a cartesian would mean the blocking failed
    val ps = ranPlans(SimilarityQueries.semanticDedup(spark, dir))
    val p = ps.last
    assert(p.contains("BroadcastExchange"),
      s"codebook must broadcast:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"assignment heap must partial-aggregate map-side:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"assignment frame must be cached for the two pair sides:\n$p")
    ps.foreach(p => assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p"))
  }

  test("domain mix: rate table broadcasts; keep filter adds no corpus shuffle") {
    val p = plan("q_domain_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source rate table must broadcast onto the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus side must never shuffle for the join:\n$p")
  }

  test("classifier filter is map-only: no exchange before the final sort") {
    val p = plan("text_classify")
    assert(!p.contains("hashpartitioning"),
      s"hashing-trick scoring must not shuffle:\n$p")
  }

  test("line dedup: exactly two hash shuffles (line MIN, doc stitch), both partial-agg") {
    val p = plan("text_ldedup")
    assert("hashpartitioning".r.findAllIn(p).size == 2,
      s"expected line-key + doc-key exchanges only:\n$p")
    // the line-key MIN must combine map-side (duplicate-heavy corpora
    // collapse before the exchange — the 100 TB property)
    assert(p.contains("partial_min"),
      s"line-key aggregate must have a partial phase:\n$p")
  }

  test("DSIR: one cached bigram pass feeds tally and scoring; no cartesian") {
    val ps = ranPlans(TextQueries.dsir(spark, dir))
    val p = ps.last
    // BOTH consumers (ratio tally build side, scoring probe side) must
    // read the cached bigram frame — each InMemoryTableScan's printout
    // embeds the cache's build plan, so count the cache reads, not the
    // FileScan strings inside them
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"both join sides must read the cached bigram frame:\n$p")
    ps.foreach(p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"scoring join must stay an equi-join:\n$p"))
  }

  test("funnel folds in one user shuffle: no join, no window") {
    val p = plan("q_funnel")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
    assert(!p.contains("Window ["), s"funnel must not window:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user-keyed exchange:\n$p")
  }

  test("cohort: both aggregations have map-side partial phases") {
    val p = plan("q_cohort")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"per-user first-day must aggregate partially:\n$p")
    assert(p.contains("partial_count"),
      s"cell count must aggregate partially:\n$p")
    assert(!p.contains("distinct_count") && !p.contains("count(distinct"),
      s"cohort must not pay a count-distinct shuffle:\n$p")
  }

  test("per-group sample runs through the bounded-heap top-k rewrite") {
    val p = plan("q_sample_k")
    assert(p.contains("rowtopk"),
      s"expected the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window ["),
      s"window machinery must be rewritten away:\n$p")
  }

  test("weighted priority sample runs through the bounded-heap rewrite " +
      "and never windows the table") {
    val p = plan("q_wsample")
    assert(p.contains("rowtopk"),
      s"expected the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window ["),
      s"window machinery must be rewritten away:\n$p")
  }

  test("interval-overlap join plans as an equi-join on (key, cell) — " +
      "never a nested loop or cartesian") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"grid decomposition must yield an equi-join:\n$p")
    assert(p.contains("Join") || p.contains("join"),
      s"expected a join in the plan:\n$p")
  }

  test("trend extraction: no window machinery, both aggregates partial, " +
      "no cartesian") {
    val p = plan("q_trend")
    assert(!p.contains("Window ["), s"q_trend must not window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"per-key min must aggregate partially:\n$p")
    assert(p.contains("partial_sum"),
      s"the five-sum aggregate must be map-side combined:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"equi-join only:\n$p")
  }

  test("distinct-n diversity: map-side partial aggregation, no join at all") {
    val p = plan("text_distinct_n")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      p.contains("HashAggregate"),
      s"counts must aggregate partially:\n$p")
    assert(!p.contains("Join"), s"one exploded frame, zero joins:\n$p")
  }

  test("VAD and scene-cut are map-only: decode kernels + folds, no " +
      "hash exchange before the output sort, no join") {
    Seq("mm_vad", "mm_scenecut").foreach { g =>
      val p = plan(g)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$g must not shuffle (map-only + output range sort):\n$p")
      assert(!p.contains("Join"), s"$g must not join:\n$p")
    }
  }

  test("fuzzy match: rank-band join is equi, never a nested loop; the " +
      "verify kernel rides the join, not a cross product") {
    val p = plan("dedup_fuzzy")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"SNM band join must be equi-keyed:\n$p")
    assert(p.contains("TextHash.levBanded"),
      s"verify must run through the native banded kernel:\n$p")
    // r16: the rank is the range-partitioned two-pass scan — a Window
    // here would mean the per-language single-task sort is back
    assert(!p.contains("Window"),
      s"SNM rank must not plan a per-language Window:\n$p")
  }

  test("pagerank: the per-superstep contribution join reuses the " +
      "persisted edge partitioning — edges shuffle once, not per iteration") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a symmetric 40-node ring, pre-partitioned + persisted like the gate
    val pairs = (0L until 40L).map(i => (i, (i + 1) % 40))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
      .repartition(col("dst")).persist()
    try {
      edges.count()
      val p = GraphQueries.pageRank(edges, iters = 3)
        .queryExecution.executedPlan.toString
      // each superstep may shuffle the node-sized rank/contribution
      // frames, but the EDGE side must come off the cached partitioning:
      // no exchange directly above an InMemoryTableScan
      assert(p.contains("InMemoryTableScan"),
        s"edge list must serve from the persisted frame:\n$p")
      val badShuffle =
        "Exchange hashpartitioning[^\\n]*\\n[^\\n]*InMemoryTableScan".r
      assert(badShuffle.findFirstIn(p).isEmpty,
        s"persisted edges must not re-shuffle per superstep:\n$p")
    } finally edges.unpersist(blocking = false)
  }
  test("substring dedup: one scan pass, all joins equi, no cartesian") {
    // scale claims: tokens+gram hashes are computed ONCE (both the gram
    // side and the rebuild side read the cached frame), every join is
    // equi-keyed (gram hash, doc_id), nothing pairwise
    val ps = ranPlans(TokenizerQueries.sdedup(spark, dir))
    val p = ps.last
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"gram side AND rebuild side must read the cached scan:\n$p")
    ps.foreach { p =>
      // every printed parquet scan must sit INSIDE an InMemoryRelation
      // cached-plan printout (the jac_lsh audit idiom) — a bare scan
      // would mean a consumer bypassed the cache
      assert("FileScan|Scan parquet".r.findAllIn(p).size <=
        "InMemoryRelation".r.findAllIn(p).size,
        s"documents scanned outside the cache:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"substring dedup has no non-equi join:\n$p")
    }
  }

  test("pipe_tok: one tokenize pass feeds training, encode and packing") {
    // the chain's scale claim: the persisted tokenize frame is the ONLY
    // corpus read — every training iteration's pair statistic and the
    // encode+pack projection consume the cache, never a fresh parquet
    // scan of documents
    val ps = ranPlans(TokenizerQueries.pipeTok(spark, dir))
    val all = ps.mkString("\n\n")
    assert(ps.count(_.contains("TakeOrderedAndProject(limit=1,")) == 3,
      s"expected the three training iterations' pair statistics:\n$all")
    ps.foreach { p =>
      assert(p.contains("InMemoryTableScan"),
        s"every pass must read the cached tokenize pass:\n$p")
      assert("FileScan|Scan parquet".r.findAllIn(p).size <=
        "InMemoryRelation".r.findAllIn(p).size,
        s"a pass re-scans parquet outside the cache:\n$p")
    }
    // the encode projection (the one computing n_sym) and what it reads,
    // down to the first cached relation below it
    val encodes = ps.flatMap { p =>
      val at = p.indexOf(" AS n_sym#")
      if (at < 0) None
      else Some(p.substring(at, p.indexOf("InMemoryRelation", at)))
    }
    assert(encodes.nonEmpty, s"no plan ran the encode projection:\n$all")
    encodes.foreach { e =>
      assert(e.contains("InMemoryTableScan"),
        s"encode+pack must read the cached tokenize pass:\n$e")
      assert(!e.contains("Exchange"),
        s"encode is a map-only projection — no shuffle above the cache:\n$e")
    }
  }

  test("BPE step: corpus never moves — pair argmax broadcasts back") {
    val ps = ranPlans(TokenizerQueries.bpe(spark, dir))
    val p = ps.last
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"pair counts and symbol sums must share one exploded frame:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row best-pair frame must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"pair statistic must combine map-side:\n$p")
    ps.foreach(p => assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row argmax may cross-join:\n$p"))
  }

  test("PMI: one tokenize pass; bigram-unigram joins never cartesian") {
    val ps = ranPlans(TokenizerQueries.pmi(spark, dir))
    val p = ps.last
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"unigram, bigram and scoring sides must share cached frames:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-20 must be TakeOrdered (k per partition), not a full sort:\n$p")
    ps.foreach { p =>
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnl <= 1, s"only the scalar N frame may cross-join:\n$p")
    }
  }

  /** Each Filter or Project below a round-robin exchange that runs a
    * kernel (a `StaticInvoke`, an unreplaced `KernelCall`) or a lambda,
    * in a physical plan and the plans of the caches it reads.
    */
  private def kernelWorkUnderSpread(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    val kernel: org.apache.spark.sql.catalyst.expressions.Expression => Boolean = _.exists {
      case _: StaticInvoke | _: graft.functions.KernelCall | _: LambdaFunction => true
      case _ => false
    }
    spreads(plan).flatMap { e =>
      nodes(e.child).collect {
        case n @ (_: FilterExec | _: ProjectExec)
            if n.asInstanceOf[SparkPlan].expressions.exists(kernel) =>
          n.simpleString(400)
      }
    }
  }

  private def nodes(p: org.apache.spark.sql.execution.SparkPlan) =
    SharedSpark.planNodes(p).map(_._1)

  /** The round-robin exchanges in a physical plan and its caches' plans. */
  private def spreads(plan: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    nodes(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
  }

  test("kernel filters and projections run above tablePar's spread, never below it") {
    Seq("pipe_curate", "text_classify", "text_decontam", "text_rep_filter",
        "f10_vector", "dedup_simhash").foreach { name =>
      // run as Bench runs a gate: into the noop sink
      val qes = ran(graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      // the spread must be in what ran, or the audit checks nothing
      assert(qes.exists(qe => spreads(qe.sparkPlan).nonEmpty),
        s"$name ran no round-robin spread")
      qes.foreach { qe =>
        val under = kernelWorkUnderSpread(qe.sparkPlan)
        assert(under.isEmpty,
          s"$name runs kernel work in the one-task scan stage below the spread:\n" +
            under.mkString("\n"))
      }
    }
  }
}
