package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Temporal join/segmentation operators over the `events` stream table —
  * the time-series staples a CDC-fed lakehouse runs downstream of the
  * change stream (the reference delivers ordered change events;
  * consumers then align them in time: doc/RedoMinerConnector.adoc's
  * commit-SCN ordering is exactly what makes these joins well-defined).
  *
  * Scale design (100 TB):
  *  - as-of join: the union+window formulation — both sides tagged and
  *    unioned, ONE shuffle on the join key, `last(ignoreNulls)` over a
  *    running frame. No join fan-out at all: cost is a sort within key
  *    partitions, the plan every dedicated as-of engine lowers to.
  *  - range join: bucketized — the interval side explodes into the ≤2
  *    fixed-width buckets it covers (bucket width = window width), the
  *    point side computes its single bucket, and the join is an
  *    EQUI-join on (key, bucket) + residual filter. Catalyst gets a
  *    shuffled hash join instead of a cartesian-per-key nested loop;
  *    fan-out is bounded at 2× the interval side regardless of data.
  *  - sessionization: lag + running sum over (key ORDER BY time) — one
  *    shuffle, no self-join; the streaming twin is session_window /
  *    transformWithState (see streaming/ChangeStreams).
  *
  * events.ts is parquet TIMESTAMP (µs, NTZ); all time math is done in
  * explicit epoch-µs longs (`Tables.tsMicros`) so Spark and the DuckDB
  * oracle (`epoch_us(ts)`) agree bit-for-bit.
  */
object TemporalQueries extends GateFamily {
  private val D = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
  private def dec(c: Column) = c.cast(D)

  private val HOUR_US = 3600L * 1000000L

  /** `q_ts_anomaly`'s frame and exact-domain bound in cents (see the
    * gate; the bound holds for this width only), shared with its twin. */
  val AnomalyWindow = 5
  val AnomalyMaxCents = 1L << 27

  /** Generic as-of join: every `left` row picks up `payload` from the
    * latest `right` row with right.time ≤ left.time within the same
    * `key` (inclusive — DuckDB ASOF `>=` semantics); null when no such
    * row. Tagged-union + `last(ignoreNulls)` running window: ONE
    * shuffle on `key`, zero join fan-out.
    *
    * Precondition: `right` is unique per (key, time) — collapse ties
    * first (e.g. max of the payload) or the matched payload at a tied
    * timestamp is engine-dependent. `left` must not already carry a
    * column named `out`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      time: String, payload: String, out: String): DataFrame = {
    val l = left.withColumn("__tag", lit(1))
    // the payload rides inside a STRUCT: the wrapper is non-null for
    // every marker row even when the payload value itself is null, so
    // `last(ignoreNulls)` skips only LEFT rows — a null-payload marker
    // still supersedes older markers (DuckDB ASOF semantics) instead of
    // letting a stale non-null payload leak through
    val r = right.select(col(key), col(time),
        struct(col(payload).as("p")).as("__m"))
      .withColumn("__tag", lit(0))
    val w = Window.partitionBy(key).orderBy(time, "__tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(out, last(col("__m"), ignoreNulls = true).over(w)("p"))
      .filter(col("__tag") === 1)
      .drop("__tag", "__m")
  }

  /** Generic interval-OVERLAP join: every pair of rows (one from `a`,
    * one from `b`) sharing `key` whose half-open intervals [s1, e1) and
    * [s2, e2) overlap — the interval×interval sibling of the banded
    * point-in-interval join in `q_range_join`. Grid-decomposed: each
    * side explodes map-side into the `cellUs`-wide cells it covers
    * (fan-out = ⌈len/cell⌉ + 1), the join is an EQUI-join on
    * (key, cell) + residual overlap predicate, and each overlapping
    * pair emits EXACTLY ONCE with no distinct pass — only the cell
    * owning greatest(s1, s2) emits, an instant that lies inside every
    * overlap and in exactly one cell.
    *
    * Preconditions: `a` and `b` share no column names besides `key`.
    * Coordinates are any int64 (cell ids use true FLOOR division via
    * pmod, so negative coordinates bucket correctly — bare `div`
    * truncates toward zero and would silently miss pairs left of the
    * origin). Empty intervals (e ≤ s) match nothing. Pick `cellUs`
    * near the typical interval width: cells per row grow with
    * len/cell, while cell occupancy (join fan-in) grows as cell width
    * exceeds interval spacing.
    */
  def intervalJoin(a: DataFrame, b: DataFrame, key: String,
      s1: String, e1: String, s2: String, e2: String,
      cellUs: Long): DataFrame = {
    require(cellUs > 0, s"cellUs must be positive, got $cellUs")
    // floorDiv(x, W) as (x − pmod(x, W)) div W: pmod ≥ 0 makes the
    // numerator an exact multiple, so truncation IS floor
    def fdiv(x: String) = s"(($x) - pmod(($x), $cellUs)) div $cellUs"
    val ax = a.filter(col(e1) > col(s1)).withColumn("__c",
      explode(sequence(expr(fdiv(s1)), expr(fdiv(s"$e1 - 1")))))
    val bx = b.filter(col(e2) > col(s2)).withColumn("__c",
      explode(sequence(expr(fdiv(s2)), expr(fdiv(s"$e2 - 1")))))
    ax.join(bx, Seq(key, "__c"))
      .filter(col(s1) < col(e2) && col(s2) < col(e1) &&
        col("__c") === expr(fdiv(s"greatest($s1, $s2)")))
      .drop("__c")
  }

  /** Generic sessionization: adds a `sess` column numbering each key's
    * sessions (1-based, in time order), splitting on a gap > `gapUs`.
    * One shuffle on `key`; ties broken on `tieBreak` so numbering is
    * total and reproducible.
    */
  def sessionize(df: DataFrame, key: String, time: String,
      tieBreak: String, gapUs: Long): DataFrame = {
    val wo = Window.partitionBy(key).orderBy(time, tieBreak)
    val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(time), 1).over(wo))
      .withColumn("__ns",
        (col("__prev").isNull || (col(time) - col("__prev") > gapUs))
          .cast("long"))
      .withColumn("sess", sum(col("__ns")).over(wr))
      .drop("__prev", "__ns")
  }

  def gates: Seq[Gate] = Seq(
    // Gap-fill + forward-fill resampling (§2.61) — the time-series
    // regularization every metrics/feature pipeline runs before
    // modeling: per user, the LAST observation of each day lands on a
    // contiguous daily grid spanning that user's activity, empty days
    // forward-filled from the most recent observation (marked
    // `filled`). Scale shape: the per-day last-observation aggregate
    // is one (user, day) map-side-combined shuffle; the grid comes
    // from a per-user min/max aggregate exploded map-side via
    // `sequence()` (rows ∝ keys × days, never touched twice); the
    // forward fill is ONE user-keyed window — `last(ignoreNulls)` over
    // an unbounded-preceding frame is computed in a single running
    // pass per partition, so the whole resample costs two small
    // aggregates + one window shuffle at any corpus size.
    Gate("q_ts_gapfill", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // integer epoch DAYS end to end (the q_cohort convention): the
      // grid generates with an integer sequence, and the output carries
      // no raw TIMESTAMP column — the one output type whose
      // parquet↔pandas dtype (ns vs µs off Spark's INT96) can drift
      // between compare environments even when every value matches
      val day = expr("timestampdiff(MICROSECOND, " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 86400000000")
      // a NULL value is "no measurement", stated EXPLICITLY in both
      // engines: without the filter Spark would carry the NULL verbatim
      // (filled=false, NULL propagating across the gap) while the
      // oracle's IGNORE NULLS forward-fills past it — the two would
      // diverge on both columns the moment a NULL ever appears
      val obs = events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"), day.as("day"))
        .agg(max_by(col("value"),
          struct(col("ts"), col("event_id"))).as("v"))
      // forward fill WITHOUT materializing the grid through a join:
      // each observed day carries its value up to (but excluding) the
      // key's next observed day — one lead() over the OBSERVATION
      // frame, then a map-side sequence() explode emits the grid rows
      // directly. The r13 formulation joined a generated grid back to
      // obs and ran last(ignoreNulls) over GRID-sized rows — at 10×
      // events the grid is ~5× the observations and that join + window
      // dominated (2.5 s warm vs 1.3 s for this shape); at 100 TB the
      // same term is the one that grows with span × keys, while here
      // the shuffled frames stay observation-sized and only the
      // map-side explode is grid-sized.
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      obs
        .withColumn("nxt", lead(col("day"), 1).over(w))
        .select(col("user_id"), col("v"), col("day").as("obs_day"),
          explode(sequence(col("day"),
            coalesce(col("nxt") - 1, col("day")))).as("day"))
        .select(col("user_id"), col("day"), col("v").as("value"),
          (col("day") =!= col("obs_day")).as("filled"))
    }, _ =>
      // independent formulation: generate_series grid + IGNORE NULLS
      // window fill (the value column passes through untouched, so
      // doubles hash-match)
      """WITH obs AS (
        |  SELECT user_id, day, v FROM (
        |    SELECT user_id, epoch_us(ts) // 86400000000 AS day, value AS v,
        |           ROW_NUMBER() OVER (
        |             PARTITION BY user_id, epoch_us(ts) // 86400000000
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE value IS NOT NULL) WHERE rn = 1),
        |bounds AS (
        |  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |  FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT user_id, UNNEST(range(lo, hi + 1)) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.day, o.v
        |  FROM grid g LEFT JOIN obs o USING (user_id, day))
        |SELECT user_id, day,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS value,
        |       v IS NULL AS filled
        |FROM j ORDER BY user_id, day""".stripMargin),

    // Rolling anomaly detection (§2.62) — the streaming-metrics staple:
    // flag an observation whose deviation from its OWN trailing window
    // exceeds 3σ. Everything is EXACT integer arithmetic so the flag is
    // engine-independent: values become cents (x), and |x−μ| > 3σ over
    // the trailing frame (μ = S/n, σ² = (nΣx²−S²)/n²) multiplies out to
    // (nx−S)² > 9(nΣx²−S²) — longs end to end, no float σ whose
    // summation order could flip a borderline flag between engines.
    // Exactness has a value-domain contract, ENFORCED loudly: with a
    // 5-row frame the largest intermediate is 225·x², so int64 stays
    // exact iff |x| < 2^27 cents (~$1.34M per observation). Beyond
    // that Spark's long products would wrap silently while DuckDB
    // widens BIGINT sums to HUGEINT — borderline flags would diverge
    // between engines instead of matching — so an out-of-domain value
    // raises here rather than mis-flagging (TextHash's sum-contract
    // discipline). Scale shape: ONE user-keyed window shuffle; the
    // three frame aggregates (n, S, Σx²) share the frame and compute
    // in one running pass per partition.
    Gate("q_ts_anomaly", (s, dir) => {
      val raw = (col("value").cast(D) * 100).cast("long")
      // null-safe: a NULL value (absent measurement) flows through the
      // frame aggregates untouched (count/sum skip nulls) — only a
      // PRESENT value outside the exact domain raises
      val x = when(raw.isNull || abs(raw) < AnomalyMaxCents, raw).otherwise(
        raise_error(format_string(
          "q_ts_anomaly: |value| >= 2^27 cents breaks integer-exact " +
            "arithmetic (got %s)", col("value"))).cast("long"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-AnomalyWindow, -1)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), x.as("x"))
        .withColumn("n", count(col("x")).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("qx", sum(col("x") * col("x")).over(w))
        .select(col("event_id"), col("user_id"), col("n"),
          (col("n") >= 3 &&
            (col("n") * col("x") - col("sx")) *
              (col("n") * col("x") - col("sx")) >
              lit(9L) * (col("n") * col("qx") - col("sx") * col("sx")))
            .as("anomaly"))
    }, _ =>
      // same integer-exact 3-sigma restatement over DuckDB windows
      """SELECT event_id, user_id, n,
        |  (n >= 3 AND (n*x - sx)*(n*x - sx) > 9*(n*qx - sx*sx)) AS anomaly
        |FROM (
        |  SELECT event_id, user_id, x,
        |         COUNT(x) OVER wf AS n,
        |         SUM(x) OVER wf AS sx,
        |         SUM(x*x) OVER wf AS qx
        |  FROM (SELECT event_id, user_id, ts,
        |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |        FROM events)
        |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |ORDER BY event_id""".stripMargin),

    // Robust outlier detection (§2.68) — the Hampel/median-MAD filter,
    // the robust sibling of q_ts_anomaly's mean/3σ rule (one extreme
    // value inflates μ and σ and masks itself; the median and the
    // median-absolute-deviation don't): flag x iff |x − med| > 3·MAD
    // over the user's own history. EXACT integer arithmetic end to
    // end: values as cents, medians carried in DOUBLED units (the .5
    // interpolation of an even-count median is then integer — exact in
    // IEEE double up to 2^52, so CAST is lossless and both engines
    // agree bit-for-bit), and the flag multiplies out to
    // 2·|2x − med2| > 3·mad2 — longs only. Scale shape: two per-key
    // percentile aggregates (one shuffle each, map-side partials) +
    // one key-equi-join back; nothing scales past the key count after
    // the aggregates; the per-key frames the percentile needs are the
    // q_quantiles production note (approx_percentile sketches at
    // 100 TB — here the gate proves the exact path).
    Gate("q_mad_outlier", (s, dir) => {
      val x = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), x.as("x"))
        .filter(col("x").isNotNull)
      val med = ev.groupBy(col("user_id"))
        .agg(expr("CAST(percentile(x, 0.5) * 2 AS BIGINT)").as("med2"))
      val dev = ev.join(med, "user_id")
        .select(col("event_id"), col("user_id"), col("x"),
          abs(col("x") * 2 - col("med2")).as("d2"))
      val mad = dev.groupBy(col("user_id"))
        .agg(expr("CAST(percentile(d2, 0.5) * 2 AS BIGINT)").as("mad2"))
      dev.join(mad, "user_id")
        .select(col("event_id"), col("user_id"),
          (col("d2") * 2 > col("mad2") * 3).as("outlier"))
    }, _ =>
      // same doubled-unit integer restatement over DuckDB's exact
      // quantile_cont (both engines interpolate lower + 0.5·(upper−lower),
      // integer-exact in double at the doubled scale)
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT user_id, CAST(quantile_cont(x, 0.5) * 2 AS BIGINT) AS med2
        |  FROM e GROUP BY 1),
        |dev AS (
        |  SELECT e.event_id, e.user_id, ABS(e.x * 2 - med.med2) AS d2
        |  FROM e JOIN med USING (user_id)),
        |mad AS (
        |  SELECT user_id, CAST(quantile_cont(d2, 0.5) * 2 AS BIGINT) AS mad2
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_id, dev.user_id,
        |       dev.d2 * 2 > mad.mad2 * 3 AS outlier
        |FROM dev JOIN mad USING (user_id)
        |ORDER BY event_id""".stripMargin),

    // Per-key trend extraction (§2.71) — the closed-form OLS slope of
    // each user's value series, the feature-engineering staple (is
    // this entity trending up?) next to the level features the window
    // family computes. The slope ships as an EXACT RATIONAL
    // (nΣxy − ΣxΣy) / (nΣx² − (Σx)²): both terms are integer sums, so
    // two engines agree bit-for-bit where a float division would hash-
    // drift; the consumer divides (or compares num·den' vs num'·den).
    // x is hours since the key's own first observation — re-zeroing
    // per key keeps x small so the int64 products stay exact (domain:
    // n·Σxy < 2^63 — at much longer horizons/denser keys rescale x or
    // widen the five sums to DECIMAL(38); the sums stay mergeable
    // either way). Shape: one per-key min aggregate + an equi-join
    // back + ONE map-side-combined five-sum aggregate — two shuffles
    // at any corpus size, nothing per-pair, no window.
    Gate("q_trend", (s, dir) => {
      val y = expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
      val e = events(s, dir)
        .select(col("user_id"), tsMicros.as("t"), y.as("y"))
        .filter(col("y").isNotNull)
      val m = e.groupBy(col("user_id")).agg(min(col("t")).as("t0"))
      e.join(m, "user_id")
        .select(col("user_id"),
          expr("(t - t0) div 3600000000").as("x"), col("y"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("user_id"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
    }, _ =>
      // same integer-rational restatement; DuckDB's HUGEINT sums cast
      // back to BIGINT inside the stated domain
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT user_id, MIN(t) AS t0 FROM e GROUP BY 1),
        |x AS (
        |  SELECT e.user_id, (e.t - m.t0) // 3600000000 AS x, e.y
        |  FROM e JOIN m USING (user_id))
        |SELECT user_id, COUNT(*) AS n,
        |       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
        |         AS slope_num,
        |       CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT)
        |         AS slope_den
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),

    // As-of join: every event picks up the most recent error event of
    // the same user at-or-before its own timestamp (the "attach the
    // last marker" shape: last checkpoint, last config change, last
    // login). Markers sort before events at equal t (tag 0 < 1) so the
    // match is inclusive, exactly DuckDB's ASOF JOIN `>=` semantics.
    Gate("q_asof_join", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        tsMicros.as("t"))
      // right side unique per (user, t): ties collapse to max event_id
      // so both engines pick the same marker deterministically
      val mk = events(s, dir).filter(col("event_type") === "error")
        .groupBy(col("user_id"), tsMicros.as("t"))
        .agg(max(col("event_id")).as("mk_id"))
      asofJoin(ev, mk, "user_id", "t", "mk_id", "last_error_id")
        .select(col("event_id"), col("user_id"), col("last_error_id"))
    }, _ =>
      // independent formulation: DuckDB's native ASOF JOIN operator.
      // epoch_us normalization on BOTH joins: the Spark side works in
      // integer epoch microseconds (`Tables.tsMicros`), so the oracle
      // compares at the same resolution. Same convention q_sessionize's
      // oracle already uses.
      """WITH mk AS (SELECT user_id, epoch_us(ts) AS t, MAX(event_id) AS mk_id
        |            FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |     e AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
        |SELECT e.event_id, e.user_id, mk.mk_id AS last_error_id
        |FROM e ASOF LEFT JOIN mk
        |  ON e.user_id = mk.user_id AND e.t >= mk.t
        |ORDER BY e.event_id""".stripMargin),

    // Banded range join: for each error event, aggregate all events of
    // the same user inside the following 6-hour window. Bucket width =
    // window width ⇒ every interval covers at most 2 buckets; events
    // carry exactly one bucket so no dedup pass is needed after the
    // equi-join.
    Gate("q_range_join", (s, dir) => {
      val B = 6L * HOUR_US
      val ev = events(s, dir)
        .select(col("user_id"), tsMicros.as("t"), col("value"))
        .withColumn("b", expr(s"t div $B"))
      val anchors = events(s, dir).filter(col("event_type") === "error")
        .select(col("event_id").as("anchor_id"), col("user_id"),
          tsMicros.as("t0"))
        .withColumn("t1", col("t0") + lit(B))
        .withColumn("b", explode(array_distinct(
          array(expr(s"t0 div $B"), expr(s"t1 div $B")))))
      anchors.join(ev, Seq("user_id", "b"))
        .filter(col("t") >= col("t0") && col("t") < col("t1"))
        .groupBy(col("anchor_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total"))
    }, _ =>
      // independent formulation: plain inequality join
      """WITH a AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |     e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events)
        |SELECT a.event_id AS anchor_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM a JOIN e ON e.user_id = a.user_id
        |  AND e.t >= a.t AND e.t < a.t + 21600000000
        |WHERE a.event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Generic interval-OVERLAP join (§2.63) — both sides are interval
    // sets (q_range_join's interval×point sibling): per user, 6-hour
    // error episodes × 2-hour purchase windows, every overlapping pair
    // with its exact overlap length. The genomics/observability staple
    // (AIList/interval-tree workloads) re-expressed for a shuffle
    // engine: each interval explodes map-side into the fixed-width grid
    // cells it covers (fan-out = ⌈len/W⌉ + 1, a constant per side here),
    // the join is an EQUI-join on (user, cell) + residual overlap
    // predicate — never a per-key nested loop — and each pair emits
    // EXACTLY ONCE with no distinct pass: only the cell that owns
    // greatest(start_a, start_b) emits (that instant lies inside every
    // overlap, and in exactly one cell). At 100 TB the shuffle carries
    // cells ∝ total interval length / W and the pair space is bounded
    // by genuine cell co-occupancy, not |A|×|B|.
    Gate("q_interval_join", (s, dir) => {
      val ev = events(s, dir)
      val a = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("a_id"), col("user_id"),
          tsMicros.as("s1"))
        .withColumn("e1", col("s1") + lit(6L * HOUR_US))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("user_id"),
          tsMicros.as("s2"))
        .withColumn("e2", col("s2") + lit(2L * HOUR_US))
      intervalJoin(a, b, "user_id", "s1", "e1", "s2", "e2", 6L * HOUR_US)
        .select(col("a_id"), col("b_id"),
          (least(col("e1"), col("e2")) -
            greatest(col("s1"), col("s2"))).as("overlap_us"))
    }, _ =>
      // independent formulation: plain inequality join over both interval
      // sets (DuckDB lowers it to its IEJoin)
      """WITH a AS (SELECT event_id AS a_id, user_id, epoch_us(ts) AS s1,
        |                  epoch_us(ts) + 21600000000 AS e1
        |           FROM events WHERE event_type = 'error'),
        |     b AS (SELECT event_id AS b_id, user_id, epoch_us(ts) AS s2,
        |                  epoch_us(ts) + 7200000000 AS e2
        |           FROM events WHERE event_type = 'purchase')
        |SELECT a.a_id, b.b_id,
        |       LEAST(a.e1, b.e2) - GREATEST(a.s1, b.s2) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND a.s1 < b.e2 AND b.s2 < a.e1
        |ORDER BY a_id, b_id""".stripMargin),

    // Sessionization: per-user sessions split on a >3h inactivity gap
    // (lag + running sum of session-start flags), then per-session
    // rollup. Ties broken on event_id so the window order — and hence
    // session numbering — is total on both engines.
    Gate("q_sessionize", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        tsMicros.as("t"), col("value"))
      sessionize(ev, "user_id", "t", "event_id", 3L * HOUR_US)
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t")).as("start_us"), max(col("t")).as("end_us"),
          sum(dec(col("value"))).cast("double").as("total"))
    }, _ =>
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
        |           FROM events),
        |f AS (SELECT *, COALESCE(
        |        t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |          > 10800000000, TRUE) AS ns FROM e),
        |g AS (SELECT *, SUM(CASE WHEN ns THEN 1 ELSE 0 END) OVER (
        |        PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM f)
        |SELECT user_id, CAST(sess AS BIGINT) AS sess, COUNT(*) AS n_events,
        |  MIN(t) AS start_us, MAX(t) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g GROUP BY 1, 2 ORDER BY user_id, sess""".stripMargin),

    // Retention cohort analysis — the other product-analytics staple:
    // users bucketed by first-active day, activity counted per
    // (cohort, day-offset) cell. Integer day numbers (µs div 86400e6)
    // keep both engines exactly aligned. Shape: one distinct over
    // (user, day) — map-side combinable — one user-keyed join to the
    // per-user minimum, one map-side-combinable cell count; (user, day)
    // uniqueness makes COUNT(*) the distinct-user count with no
    // count-distinct shuffle.
    Gate("q_cohort", (s, dir) => {
      val act = events(s, dir)
        .select(col("user_id"), tsMicros.as("t"))
        .select(col("user_id"), expr("t div 86400000000").as("d"))
        .distinct()
      val first = act.groupBy(col("user_id")).agg(min(col("d")).as("cd"))
      act.join(first, "user_id")
        .groupBy(col("cd").as("cohort_day"), (col("d") - col("cd")).as("day_off"))
        .agg(count(lit(1)).as("n_users"))
    }, _ =>
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |f AS (SELECT user_id, MIN(d) AS cd FROM act GROUP BY 1)
        |SELECT f.cd AS cohort_day, a.d - f.cd AS day_off,
        |       COUNT(*) AS n_users
        |FROM act a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_off""".stripMargin),

    // Ordered funnel analysis (view → click → purchase): the product-
    // analytics staple. ONE user-keyed shuffle: each user's events
    // collect + sort in-array and a single codegen fold walks them once,
    // threading the (t1, t2, t3) milestone accumulator — strictly-after
    // semantics per stage. The oracle is the INDEPENDENT relational
    // formulation (three conditional-min phases joined back), so the
    // gate proves the fold against a different algorithm entirely. At
    // 100 TB the fold shape wins: per-user state is 3 longs, nothing
    // joins, and the shuffle carries each event exactly once.
    Gate("q_funnel", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), tsMicros.as("t"),
        col("event_type").as("typ"))
      ev.groupBy(col("user_id"))
        .agg(expr("array_sort(collect_list(struct(t, typ)))").as("evs"))
        .withColumn("f", expr(
          """aggregate(evs,
            | named_struct('t1', CAST(NULL AS BIGINT),
            |              't2', CAST(NULL AS BIGINT),
            |              't3', CAST(NULL AS BIGINT)),
            | (a, e) -> named_struct(
            |  't1', IF(a.t1 IS NULL AND e.typ = 'view', e.t, a.t1),
            |  't2', IF(a.t2 IS NULL AND a.t1 IS NOT NULL
            |           AND e.typ = 'click' AND e.t > a.t1, e.t, a.t2),
            |  't3', IF(a.t3 IS NULL AND a.t2 IS NOT NULL
            |           AND e.typ = 'purchase' AND e.t > a.t2, e.t, a.t3)))"""
            .stripMargin))
        .select(col("user_id"), col("f.t1").as("t1"), col("f.t2").as("t2"),
          col("f.t3").as("t3"),
          expr("CAST(CASE WHEN f.t3 IS NOT NULL THEN 3" +
            " WHEN f.t2 IS NOT NULL THEN 2" +
            " WHEN f.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT)").as("stage"))
    }, _ =>
      // independent formulation: three conditional-min phases, each
      // bounded by the previous milestone, joined back per user
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.t) AS t2
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t3
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1)
        |SELECT u.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |            WHEN s2.t2 IS NOT NULL THEN 2
        |            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS stage
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // Time-series top-k similarity search (the EDBT'19/ICDE'21 shape in
    // PAPERS.md): each entity's first-32-event value series, aligned by
    // per-entity rank, scored by exact squared Euclidean distance
    // against a small query set, top-3 per query. Values quantized to
    // integer milli-units (floor — the same double op in both engines)
    // so distances are exact longs. Scale shape: ONE per-entity shuffle
    // builds the series (row_number window, key-partitioned), the query
    // set BROADCASTS, scoring is map-only over corpus series, and the
    // per-query ranking runs through the TopKRewrite bounded heap — at
    // 100 TB nothing pairwise materializes beyond |corpus|·|queries|
    // scored rows collapsing into k-row heaps map-side.
    Gate("q_ts_knn", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), tsMicros.as("t"),
        col("event_id"), expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
      // series assembly as ONE hash aggregate: collect the per-entity
      // events, sort the (t, event_id, v) structs in-array, take the
      // first 32 — no window machinery, no per-row ranking state.
      // Measured at the 10× events set: the row_number formulation paid
      // a sort-based window (3.6 s) or a 32-deep heap with full-row
      // payloads through TopKRewrite (6.2 s); this single partial-agg
      // shuffle with per-group array sorts runs the same plan both ways.
      val series = e.groupBy(col("user_id"))
        .agg(expr("transform(slice(array_sort(" +
          "collect_list(struct(t, event_id, v))), 1, 32), x -> x.v)")
          .as("vals"), count(lit(1)).as("n"))
        .filter(col("n") >= 32)
        .select(col("user_id"), col("vals"))
      val q = series.filter(col("user_id") % 50 === 0)
        .select(col("user_id").as("qid"), col("vals").as("qvals"))
      series.crossJoin(broadcast(q))
        .filter(col("user_id") =!= col("qid"))
        .withColumn("dist", expr(
          "aggregate(zip_with(vals, qvals, (x, y) -> (x - y) * (x - y))," +
            " 0L, (a, b) -> a + b)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("dist"), col("user_id"))))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("user_id"), col("dist"))
    }, _ =>
      """WITH r AS (
        |  SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS v,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |  FROM events),
        |s AS (
        |  SELECT user_id, list(v ORDER BY rn) AS vals
        |  FROM r WHERE rn <= 32 GROUP BY user_id HAVING COUNT(*) = 32),
        |q AS (SELECT user_id AS qid, vals AS qvals FROM s
        |      WHERE user_id % 50 = 0),
        |d AS (
        |  SELECT q.qid, s.user_id,
        |         CAST(list_sum(list_transform(range(0, 32), i ->
        |             (s.vals[i+1] - q.qvals[i+1])
        |             * (s.vals[i+1] - q.qvals[i+1]))) AS BIGINT) AS dist
        |  FROM s CROSS JOIN q WHERE s.user_id <> q.qid)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, user_id, dist FROM (
        |  SELECT qid, user_id, dist,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY dist, user_id) AS rn
        |  FROM d)
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)
  )
}
