package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Multimodal

/** Multimodal gate queries: binary payload columns + typed metadata,
  * decoded batched on executors.
  *
  * The image gates are REAL: executors render deterministic RGB images,
  * encode them to PNG with `javax.imageio`, and the gates decode those
  * bytes back (`mm_decode`) and box-filter-resize them (`mm_resize`).
  * The pixel function is closed-form in (doc_id, x, y), so the DuckDB
  * oracle states the expected output analytically WITHOUT any decoder —
  * and because PNG is lossless, a hash match proves the whole
  * render→encode→decode pipeline is pixel-exact.
  *
  * The audio gate (`mm_features`) is REAL the same way: stereo
  * 16-bit PCM encoded to a RIFF/WAVE container and decoded back with
  * `javax.sound.sampled` (in the JDK), features stated analytically by
  * the oracle.
  *
  * The video gate (`mm_frames`) is REAL too: a multi-frame
  * animated-GIF container (the JDK ImageIO GIF sequence writer/reader)
  * whose grayscale frames survive the 256-entry palette losslessly —
  * the gate decodes every 3rd frame and the oracle restates the
  * closed-form pixel sums analytically, so the hash match proves the
  * frame-sequence encode→decode roundtrip frame- and pixel-exact.
  */
object MultimodalQueries extends GateFamily {

  /** documents as REAL PNG payloads, rendered + encoded on executors
    * (map-only; in production this binary column arrives from storage).
    */
  private def pngTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map(id => (id, Multimodal.syntheticPng(id)))
      }
      .toDF("doc_id", "payload")
  }

  /** documents as REAL RIFF/WAVE payloads, rendered + encoded on
    * executors with `javax.sound.sampled` (map-only; in production this
    * binary column arrives from storage).
    */
  private def wavTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
      .toDF("doc_id", "payload")
  }

  /** documents as REAL multi-frame animated-GIF payloads, rendered +
    * encoded on executors with the JDK ImageIO GIF sequence writer
    * (map-only; in production this binary column arrives from storage).
    */
  private def gifTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.syntheticGif(id))))
      .toDF("doc_id", "payload")
  }

  // r16: the mm gates formerly ended in a presentation orderBy, whose
  // range partitioner SAMPLES its child — the whole render→encode→
  // decode codec pipeline executed a SECOND time just to pick split
  // points (mm_scenecut measured 13.1 s warm at sf0.1 on it). The
  // driver's compare sorts rows itself (the codec gates have passed
  // order-free for 15 rounds), so the sort bought nothing: the gates
  // now return the decoded frame unsorted — one map-only pass, no
  // checkpoint, no sampling, no exchange.

  /** mm_frames/mm_scenecut prepare, once per process: the sf0.001
    * query pre-run encodes only ~50 clips, too few to bring the GIF
    * codec to the steady state a long-lived session runs at (r16:
    * mm_frames' first take measured 772 process-CPU s against 24 s warm
    * in the same process). 2000 clips take ~1.5 s untimed. */
  private lazy val gifCodecWarm: Long = Multimodal.warmGifCodec(2000)

  def gates: Seq[Gate] = Seq(
    // REAL javax.imageio PNG decode: binary → per-partition batched
    // decode → dimensions + per-channel pixel sums
    Gate("mm_decode", (s, dir) => {
      Multimodal.decodePng(pngTable(s, dir)).toDF()
    }, _ =>
      // analytic restatement of the closed-form image: a hash match here
      // proves the render→PNG-encode→ImageIO-decode roundtrip pixel-exact
      """SELECT doc_id,
        |       CAST(16 + doc_id % 17 AS INTEGER) AS width,
        |       CAST(16 + (doc_id * 7) % 13 AS INTEGER) AS height,
        |       CAST(list_sum(flatten(list_transform(range(0, 16 + (doc_id * 7) % 13), y ->
        |         list_transform(range(0, 16 + doc_id % 17), x ->
        |           (doc_id + 31 * x + 7 * y) % 256)))) AS BIGINT) AS sum_r,
        |       CAST(list_sum(flatten(list_transform(range(0, 16 + (doc_id * 7) % 13), y ->
        |         list_transform(range(0, 16 + doc_id % 17), x ->
        |           (3 * doc_id + 5 * x + 11 * y) % 256)))) AS BIGINT) AS sum_g,
        |       CAST(list_sum(flatten(list_transform(range(0, 16 + (doc_id * 7) % 13), y ->
        |         list_transform(range(0, 16 + doc_id % 17), x ->
        |           (7 * doc_id + 13 * x + 3 * y) % 256)))) AS BIGINT) AS sum_b
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL video keyframe sampling: animated-GIF container decode,
    // every 3rd frame rasterized (see gifTable)
    Gate("mm_frames", (s, dir) => {
      Multimodal.sampleFrames(gifTable(s, dir)).toDF()
    }, _ =>
      // analytic restatement of the closed-form grayscale frames: a hash
      // match proves the GIF-sequence encode→bytes→decode roundtrip
      // frame- and pixel-exact. gray(f,x,y) = (id*31+f*101+y*16+x*7)%256,
      // 16×12 px frames, 6+id%5 frames per clip, every 3rd sampled.
      """WITH clip AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INTEGER) AS n FROM documents),
        |f AS (SELECT doc_id, n, UNNEST(range(0, n, 3)) AS f FROM clip),
        |px AS (
        |  SELECT doc_id, n, f,
        |         (doc_id * 31 + f * 101 + y.range * 16 + x.range * 7) % 256 AS g
        |  FROM f, range(0, 12) y, range(0, 16) x)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, n AS n_frames,
        |       CAST(SUM(g) AS BIGINT) AS px_sum
        |FROM px GROUP BY doc_id, f, n
        |ORDER BY doc_id, frame_idx""".stripMargin,
      prepare = (_, _) => gifCodecWarm),

    // REAL box-filter resize of the decoded red channel to 8×8. The
    // pixel array is emitted as a CSV string: an array-typed gate column
    // crashes the driver's pandas hasher (unhashable ndarray); int→string
    // rendering is identical in Spark and DuckDB so the compare stays
    // exact.
    Gate("mm_resize", (s, dir) => {
      Multimodal.resizePng(pngTable(s, dir))
        .toDF()
        .withColumn("pixels",
          concat_ws(",", col("pixels").cast("array<string>")))
    }, _ =>
      // floored-mean box filter of the closed-form red channel, 8×8
      // row-major — integer arithmetic end-to-end on both sides
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |         CAST(16 + (doc_id * 7) % 13 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
        |       array_to_string(
        |         flatten(list_transform(range(0, 8), j ->
        |           list_transform(range(0, 8), i ->
        |             CAST(list_sum(flatten(
        |                 list_transform(range(j * h // 8, (j + 1) * h // 8), y ->
        |                   list_transform(range(i * w // 8, (i + 1) * w // 8), x ->
        |                     (doc_id + 31 * x + 7 * y) % 256))))
        |               // (((i + 1) * w // 8 - i * w // 8) *
        |                  ((j + 1) * h // 8 - j * h // 8)) AS BIGINT)))), ',')
        |         AS pixels
        |FROM dims ORDER BY doc_id""".stripMargin),

    // REAL audio feature extraction: javax.sound.sampled WAV decode →
    // per-channel energy / zero-crossings / peak (see wavTable)
    Gate("mm_features", (s, dir) => {
      Multimodal.decodeWav(wavTable(s, dir)).toDF()
    }, _ =>
      // analytic restatement of the closed-form stereo PCM: a hash match
      // proves the WAV encode→bytes→parse→decode roundtrip sample-exact.
      // sample(ch, t) = (doc_id*31 + ch*17 + t*7919) % 65536 - 32768
      """WITH clip AS (
        |  SELECT doc_id, CAST(200 + doc_id % 57 AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, t,
        |         (doc_id * 31 + t * 7919) % 65536 - 32768 AS s0,
        |         (doc_id * 31 + 17 + t * 7919) % 65536 - 32768 AS s1
        |  FROM (SELECT doc_id, n, UNNEST(range(0, n)) AS t FROM clip))
        |SELECT doc_id,
        |       CAST(MAX(n) AS INTEGER) AS n_samples,
        |       CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(SUM(s0 * s0) AS BIGINT) AS energy0,
        |       CAST(SUM(s1 * s1) AS BIGINT) AS energy1,
        |       CAST(SUM(CASE WHEN t > 0 AND
        |         (s0 >= 0) <> ((doc_id * 31 + (t - 1) * 7919) % 65536 - 32768 >= 0)
        |         THEN 1 ELSE 0 END) AS INTEGER) AS zc0,
        |       CAST(SUM(CASE WHEN t > 0 AND
        |         (s1 >= 0) <> ((doc_id * 31 + 17 + (t - 1) * 7919) % 65536 - 32768 >= 0)
        |         THEN 1 ELSE 0 END) AS INTEGER) AS zc1,
        |       CAST(MAX(ABS(s0)) AS INTEGER) AS peak0,
        |       CAST(MAX(ABS(s1)) AS INTEGER) AS peak1
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Energy-based voice-activity detection (§2.66) — the silence-trim
    // pass an ASR/audio corpus runs before training (trim/segment, then
    // keep clips with enough speech): channel-0 energy per 32-sample
    // frame off the REAL decoded PCM, a frame is ACTIVE iff its energy
    // exceeds the clip mean (e·nFrames > Σe, integer-exact), segments =
    // runs of consecutive active frames. Decode + frame energies are
    // map-only (one small array per clip crosses out of the kernel);
    // activity, counts and run-starts are codegen array folds — zero
    // shuffle at any corpus size.
    Gate("mm_vad", (s, dir) => {
      Multimodal.wavFrameEnergies(wavTable(s, dir), 32).toDF()
        .select(col("doc_id"), expr("size(fe)").as("n_frames"),
          expr("aggregate(fe, 0L, (a, x) -> a + x)").as("tot"), col("fe"))
        .withColumn("act",
          expr("transform(fe, x -> IF(x * n_frames > tot, 1, 0))"))
        .select(col("doc_id"), col("n_frames"),
          expr("CAST(aggregate(act, 0, (a, x) -> a + x) AS INT)")
            .as("n_active"),
          // run starts: active frame whose predecessor is inactive
          // (greatest(i, 1) keeps element_at 1-based-safe; the i = 0
          // disjunct decides the first frame). Zero-frame clips guard
          // the fold: sequence(0, -1) DESCENDS in Spark, and i = -1
          // would hit element_at(act, 0) — the invalid-index error —
          // instead of yielding the 0 segments an empty clip has.
          expr("CAST(IF(n_frames = 0, 0, " +
            "aggregate(transform(sequence(0, size(act) - 1), " +
            "i -> IF(element_at(act, i + 1) = 1 AND (i = 0 OR " +
            "element_at(act, greatest(i, 1)) = 0), 1, 0)), " +
            "0, (a, x) -> a + x)) AS INT)").as("n_segments"))
    }, _ =>
      // analytic restatement of frame energies + the mean-threshold
      // activity rule + run-start counting over the closed-form signal —
      // a hash match proves the decode→frame→threshold→segment pipeline
      // integer-exact on real decoded PCM
      """WITH clip AS (
        |  SELECT doc_id, CAST(200 + doc_id % 57 AS BIGINT) AS n
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, t // 32 AS f, CAST(SUM(s0 * s0) AS BIGINT) AS e
        |  FROM (SELECT doc_id, t,
        |          (doc_id * 31 + t * 7919) % 65536 - 32768 AS s0
        |        FROM (SELECT doc_id, UNNEST(range(0, (n // 32) * 32)) AS t
        |              FROM clip))
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, COUNT(*) AS nf,
        |               CAST(SUM(e) AS BIGINT) AS te
        |        FROM fr GROUP BY 1),
        |act AS (
        |  SELECT f.doc_id, f.f,
        |         CASE WHEN f.e * t.nf > t.te THEN 1 ELSE 0 END AS a
        |  FROM fr f JOIN tot t USING (doc_id)),
        |st AS (
        |  SELECT doc_id, a,
        |         CASE WHEN a = 1 AND COALESCE(LAG(a) OVER (
        |           PARTITION BY doc_id ORDER BY f), 0) = 0
        |           THEN 1 ELSE 0 END AS s
        |  FROM act)
        |SELECT doc_id, CAST(t.nf AS INT) AS n_frames,
        |       CAST(SUM(st.a) AS INT) AS n_active,
        |       CAST(SUM(st.s) AS INT) AS n_segments
        |FROM st JOIN tot t USING (doc_id)
        |GROUP BY doc_id, t.nf ORDER BY doc_id""".stripMargin),

    // Shot/scene-cut detection (§2.67) — mm_vad's video sibling and the
    // segmentation pass a video corpus runs before frame sampling: SAD
    // (sum of absolute pixel differences) between consecutive sampled
    // frames off the REAL GIF decode, a boundary is a CUT iff its SAD
    // exceeds the clip mean (sad·nPairs > ΣSAD, integer-exact — the
    // mm_vad threshold convention). Decode + SAD are map-only (one
    // small array per clip leaves the kernel); the cut rule is a
    // codegen array fold — zero shuffle beyond the output sort.
    Gate("mm_scenecut", (s, dir) => {
      Multimodal.sceneSads(gifTable(s, dir)).toDF()
        .select(col("doc_id"), expr("size(sad)").as("n_pairs"),
          expr("aggregate(sad, 0L, (a, x) -> a + x)").as("tot"), col("sad"))
        .select(col("doc_id"), col("n_pairs"),
          expr("CAST(aggregate(transform(sad, " +
            "x -> IF(x * n_pairs > tot, 1, 0)), " +
            "0, (a, x) -> a + x) AS INT)").as("n_cuts"))
    }, _ =>
      // analytic restatement of pairwise SAD + the mean-threshold cut
      // rule over the closed-form frames — a hash match proves the
      // decode→diff→threshold pipeline frame- and pixel-exact
      """WITH clip AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INTEGER) AS n
        |  FROM documents),
        |p AS (SELECT doc_id, UNNEST(range(0, n - 3, 3)) AS f FROM clip),
        |sad AS (
        |  SELECT doc_id, f, CAST(SUM(ABS(
        |      (doc_id * 31 + (f + 3) * 101 + y.range * 16 + x.range * 7) % 256
        |    - (doc_id * 31 + f * 101 + y.range * 16 + x.range * 7) % 256))
        |    AS BIGINT) AS s
        |  FROM p, range(0, 12) y, range(0, 16) x
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, COUNT(*) AS np, CAST(SUM(s) AS BIGINT) AS ts
        |        FROM sad GROUP BY 1)
        |SELECT doc_id, CAST(t.np AS INT) AS n_pairs,
        |       CAST(SUM(CASE WHEN sad.s * t.np > t.ts THEN 1 ELSE 0 END)
        |            AS INT) AS n_cuts
        |FROM sad JOIN tot t USING (doc_id)
        |GROUP BY doc_id, t.np ORDER BY doc_id""".stripMargin,
      prepare = (_, _) => gifCodecWarm),

    // Perceptual average-hash (aHash) image near-dup bucketing — the
    // image-side analogue of the text dedup family (what a LAION-style
    // image-corpus sweep buckets on before pairwise verification). The
    // hash is computed from REAL decoded pixels: 4×4 box-filter means
    // of the red channel (the mm_resize kernel at target 4), each cell
    // thresholded against the image mean (16·cell > Σcells — integer-
    // exact), packed into 16 bits. The coarse grid makes natural
    // bucket collisions (birthday-scale at 2^16) so `n_same` exercises
    // the grouping join on genuinely-similar coarse luminance patterns.
    // Scale shape: decode+hash map-only at scan speed; the only shuffle
    // is the hash-keyed count over the FEATURE-sized frame (payloads
    // released at the checkpoint barrier).
    Gate("mm_phash", (s, dir) => {
      val ph = Multimodal.resizePng(pngTable(s, dir), target = 4).toDF()
        .select(col("doc_id"), col("pixels"))
        .withColumn("tot", expr("aggregate(pixels, 0L, (a, x) -> a + x)"))
        .withColumn("ph", expr(
          "aggregate(transform(sequence(0, 15)," +
            " i -> IF(element_at(pixels, i + 1) * 16L > tot," +
            " shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"))
        .select(col("doc_id"), col("ph"))
        .localCheckpoint(true)
      ph.withColumn("n_same", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("ph"))))
    }, _ =>
      // analytic restatement of the 4×4 average-hash over the closed-form
      // image — a hash match proves the decode→box-filter→threshold→pack
      // pipeline bit-exact on real decoded pixels
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 17 AS BIGINT) AS w,
        |         CAST(16 + (doc_id * 7) % 13 AS BIGINT) AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id,
        |    flatten(list_transform(range(0, 4), j ->
        |      list_transform(range(0, 4), i ->
        |        list_sum(flatten(
        |            list_transform(range(j * h // 4, (j + 1) * h // 4), y ->
        |              list_transform(range(i * w // 4, (i + 1) * w // 4), x ->
        |                (doc_id + 31 * x + 7 * y) % 256))))
        |          // (((i + 1) * w // 4 - i * w // 4) *
        |             ((j + 1) * h // 4 - j * h // 4))))) AS cs
        |  FROM dims),
        |hashes AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 16), i ->
        |      CASE WHEN cs[i + 1] * 16 > list_sum(cs)
        |           THEN 1 << i ELSE 0 END)) AS BIGINT) AS ph
        |  FROM cells)
        |SELECT doc_id, ph,
        |       CAST(COUNT(*) OVER (PARTITION BY ph) AS BIGINT) AS n_same
        |FROM hashes ORDER BY doc_id""".stripMargin),

    // Image-text PAIR filtering — the LAION-style CLIP-score curation
    // step: every multimodal corpus sweep scores (image embedding,
    // caption) pairs and drops low-alignment pairs before training.
    // The image side is the embeddings table on the ANN family's exact
    // integer fixed-point domain (quantize = floor(x·10^6), so the dot
    // product is exact cross-engine); the caption side is a
    // hashing-trick bag-of-words vector in the SAME 64-dim space
    // (integer counts are already fixed-point). Plan: both sides are
    // map-only projections, ONE equi-join on doc_id, scoring is a
    // per-row integer dot + one IEEE division — at 100 TB this is scan
    // + co-partitioned join, nothing quadratic, no broadcast needed.
    Gate("mm_pairs", (s, dir) => {
      import graft.functions.VectorFunctions._
      import graft.functions.TextFunctions._
      val img = embeddings(s, dir)
        .select(col("vec_id").as("doc_id"),
          quantize(col("embedding")).as("q"))
        .withColumn("n2i", normQ2(col("q")))
      val txt = documents(s, dir)
        .select(col("doc_id"),
          shingleHashes(tokens(col("text")), 1).as("hs"))
        .filter(size(col("hs")) > 0)
        // one-pass codegen histogram, not the m·|hs| interpreted-HOF
        // formulation (measured 4.5 s vs 1.9 s at the 10× corpus)
        .withColumn("tv",
          graft.functions.TextHashExpressions.mod_counts(col("hs"), 64))
        .withColumn("n2t", normQ2(col("tv")))
      img.join(txt, "doc_id")
        .withColumn("dot", dotQ(col("q"), col("tv")))
        // zero-norm guard (the maxCos discipline): 0/0 is NaN, which
        // Spark compares as `NaN > 0.05 = false` while DuckDB orders
        // NaN above everything (`> 0.05 = true`) — a degenerate
        // all-zero embedding or caption vector must score 0 in BOTH
        // engines, never split the keep flag between them
        .withColumn("clip",
          when(col("n2i") === 0 || col("n2t") === 0, lit(0.0))
            .otherwise(cosineFromQ(col("dot"), col("n2i"), col("n2t"))))
        .select(col("doc_id"), col("dot"),
          col("clip"), (col("clip") > 0.05).as("keep"))
    }, _ =>
      // same fixed-point domain as the dedup_emb_cos oracle; same
      // poly-hash as the text family
      """WITH v AS (
        |  SELECT vec_id AS doc_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |img AS (SELECT doc_id, q,
        |               CAST(list_dot_product(q, q) AS BIGINT) AS n2i FROM v),
        |toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(tk, t ->
        |           list_reduce(list_transform(string_split(t, ''),
        |                                      c -> CAST(ord(c) AS BIGINT)),
        |                       (a, b) -> (a * 31 + b) % 1000000007)) AS hs
        |  FROM toks WHERE len(tk) > 0),
        |txt AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 64),
        |           j -> CAST(len(list_filter(hs, x -> x % 64 = j)) AS BIGINT)) AS tv
        |  FROM hs),
        |t2 AS (SELECT doc_id, tv,
        |              CAST(list_dot_product(tv, tv) AS BIGINT) AS n2t FROM txt),
        |scored AS (
        |  SELECT i.doc_id,
        |         CAST(list_dot_product(i.q, t.tv) AS BIGINT) AS dot,
        |         CASE WHEN i.n2i = 0 OR t.n2t = 0 THEN 0.0
        |              ELSE CAST(list_dot_product(i.q, t.tv) AS DOUBLE)
        |                / (sqrt(CAST(i.n2i AS DOUBLE)) * sqrt(CAST(t.n2t AS DOUBLE)))
        |         END AS clip
        |  FROM img i JOIN t2 t USING (doc_id))
        |SELECT doc_id, dot, clip, clip > 0.05 AS keep FROM scored
        |ORDER BY doc_id""".stripMargin)
  )
}
