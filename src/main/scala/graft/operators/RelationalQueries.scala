package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._

/** Relational operator battery.
  *
  * The reference (oracdc) has no relational executor — SURVEY.md §2.7
  * documents joins/aggs/windows/sorts as explicitly absent and mandates we
  * provide them via stock Spark SQL. Every query here is a declarative
  * DataFrame plan so Catalyst gets predicate pushdown / column pruning /
  * join selection for free, and AQE re-plans at runtime on a real cluster.
  *
  * Scale notes (100 TB design):
  *  - dimension tables (region/nation/customer/supplier/part at TPC-H
  *    proportions) are explicitly `broadcast(...)` — the fact table never
  *    shuffles for a dim join;
  *  - the one genuine fact-fact join (lineitem⋈orders) shuffles on the
  *    join key AFTER filters cut both sides — AQE handles residual skew;
  *  - money aggregates are computed in DecimalType so results are
  *    order-independent (exact arithmetic) — double sums differ between
  *    partial-aggregation orders at 1000 executors. The FINAL projection
  *    casts the exact decimal to double: the driver's pandas comparator
  *    sees Python Decimal objects (trailing-zero-sensitive str forms) on
  *    the Spark-parquet side but float64 from DuckDB, so a decimal output
  *    column can never hash-match. decimal→double is a single correctly-
  *    rounded conversion on both engines, so equal exact decimals give
  *    bit-identical doubles;
  *  - every query ends in a bounded result (agg or top-k), never an
  *    unbounded global sort of the fact table.
  */
object RelationalQueries extends GateFamily {
  private val D = DecimalType(18, 2)
  private def dec(c: Column) = c.cast(D)
  private def ts(s: String) = lit(s).cast("timestamp_ntz")

  /** Shared status × priority wide matrix (q_pivot result; q_unpivot
    * melts it back — one builder keeps them exact inverses). */
  private def pivotWide(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .pivot(col("o_orderpriority"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .toDF("status", "p1", "p2", "p3", "p4", "p5")
      .na.fill(0L, Seq("p1", "p2", "p3", "p4", "p5"))

  /** TPC-H Q3 body over caller-supplied fact frames (raw scans for
    * `q3_join_topk`, the bucketed layout for `q3_bucketed` — ONE
    * statement of the query so the two gates can never drift).
    *
    * Fact-fact shuffle join + dim join + top-k. customer is NOT
    * broadcast-hinted: it grows linearly with scale factor (~15M rows,
    * GBs at sf100), so a forced broadcast is the first OOM at 100×.
    * AQE sizes it from runtime stats instead — broadcast while it fits
    * the threshold, shuffle join beyond. Only genuinely bounded dims
    * (nation: 25 rows, region: 5) earn a static hint (see q5).
    * PlanAuditSpec asserts both directions.
    *
    * Dim-first star order: the BUILDING slice of customer is small
    * enough to broadcast at every SF (dim tables grow far slower than
    * the fact), so o⋈c is a map-side semi-filter that cuts the orders
    * shuffle ~5× BEFORE the expensive orderkey exchange with lineitem.
    * Catalyst keeps written join order without CBO stats, so the
    * selective-dim-first shape is stated here (measured at the 100×
    * fixture: 3.8 → 3.4 s steady locally; the shuffled orders bytes —
    * the term that matters on a real cluster's network — drop ~5×).
    * (Tried and reverted: pre-aggregating lineitem revenue by
    * l_orderkey BELOW the join — value-identical — measured 2× SLOWER
    * at 100×: the pushed-down agg pays the decimal arithmetic and a
    * multi-million-key hash table on ALL date-filtered lineitems,
    * where join-first lets the broadcast customer semi-filter drop
    * ~80 % of rows before any aggregation. Group-by pushdown only
    * wins when the join does NOT filter.)
    */
  /** `factFirst` flips the join order for the BUCKETED layout: there
    * the o⋈l orderkey join is exchange-FREE (co-bucketed scans), so it
    * must run before any join that could reshuffle the facts — with a
    * non-broadcastable customer, the dim-first order exchanges orders
    * on custkey and thereby DESTROYS the bucket partitioning, forcing
    * the orderkey exchange right back (observed in the forced-SMJ
    * PlanAuditSpec plan: `Bucketed: false (disabled by query
    * planner)`). On raw scans dim-first stays correct (the rationale
    * above); on buckets fact-first is the order that keeps the layout's
    * guarantee unconditional.
    */
  private def q3Body(ordersDf: DataFrame, lineitemDf: DataFrame,
      customerDf: DataFrame, factFirst: Boolean = false): DataFrame = {
    val c = customerDf.filter(col("c_mktsegment") === "BUILDING")
    val o = ordersDf.filter(col("o_orderdate") < ts("1998-01-01"))
    val l = lineitemDf.filter(col("l_shipdate") > ts("1998-01-01"))
    // factFirst also hints SHUFFLE_HASH on the (filtered, smaller)
    // orders side: on co-bucketed scans the hint costs no exchange —
    // the bucket partitioning already satisfies the join — and drops
    // the SMJ's per-run sort of the lineitem side (measured at the
    // 100× fixture: 1.8 → 1.1 s steady; the sort was over half the
    // remaining wall). Build memory is one date-filtered orders bucket
    // per task — bucket count is the production knob that bounds it.
    val joined =
      if (factFirst)
        o.hint("shuffle_hash").join(l, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
      else
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
    joined
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 body over caller-supplied fact frames (the q3Body
    * contract). Star join + group-by; broadcast hints ONLY on the
    * bounded dims — nation (25 rows) and region (5 rows) are constant
    * at every scale factor. customer and supplier grow linearly with
    * SF, so they get no hint: AQE broadcasts them while their runtime
    * size fits autoBroadcastJoinThreshold and falls back to a shuffle
    * join at 100× where a forced broadcast would OOM the driver.
    *
    * Dim-first star order (the q3 rationale): customers restrict to
    * the ASIA nations (1 of 5 regions) through the two constant dims,
    * THEN prune orders — the orders side of the orderkey exchange with
    * lineitem drops ~5× before it happens, and when customer is NOT
    * broadcastable (the cluster case — it grows with SF) the custkey
    * exchange moves off the fat post-lineitem frame onto the thin
    * orders frame. The c↔s same-nation condition lands on the supplier
    * join once c_nationkey is in hand; inner-join reordering, same
    * result.
    */
  private def q5Body(s: SparkSession, dir: String, ordersDf: DataFrame,
      lineitemDf: DataFrame, factFirst: Boolean = false): DataFrame = {
    val r = region(s, dir).filter(col("r_name") === "ASIA")
    val n = nation(s, dir)
    val c = customer(s, dir)
    val sup = supplier(s, dir)
    val o = ordersDf.filter(col("o_orderdate") >= ts("1995-01-01") &&
      col("o_orderdate") < ts("1997-01-01"))
    val l = lineitemDf
    val cAsia = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    // factFirst (bucketed layout): the exchange-free o⋈l join runs
    // before anything that could reshuffle the facts, with the
    // SHUFFLE_HASH hint dropping the SMJ sort — the q3Body notes
    val joined =
      if (factFirst)
        o.hint("shuffle_hash").join(l, col("l_orderkey") === col("o_orderkey"))
          .join(cAsia, col("o_custkey") === col("c_custkey"))
      else
        o.join(cAsia, col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
    joined
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q3_join_topk and q3_bucketed: the plain join over the raw tables.
    * The bucketed gates run the SAME queries over the bucketed layout
    * and their oracles read the RAW parquet — each green hash is an
    * end-to-end proof that the co-bucketed artifact serves the same
    * rows as a fresh scan (layout ≡ data). */
  private def q3Oracle: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q5_star_join and q5_bucketed: the plain star join over the raw tables. */
  private def q5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  def gates: Seq[Gate] = Seq(
    // Single-scan aggregation with map-side partial agg (TPC-H Q1 style).
    Gate("q1_agg", (s, dir) => {
      lineitem(s, dir)
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, _ =>
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Fact-fact shuffle join + dim join + top-k (TPC-H Q3 style).
    // customer is NOT broadcast-hinted: it grows linearly with scale
    // factor (~15M rows, GBs at sf100), so a forced broadcast is the
    // first OOM at 100×. AQE sizes it from runtime stats instead —
    // broadcast while it fits the threshold, shuffle join beyond.
    // Only genuinely bounded dims (nation: 25 rows, region: 5) earn a
    // static hint (see q5). PlanAuditSpec asserts both directions.
    Gate("q3_join_topk", (s, dir) =>
      q3Body(orders(s, dir), lineitem(s, dir), customer(s, dir)), _ => q3Oracle),

    // q3 over the BUCKETED lakehouse layout ([[BucketedLayout]]):
    // identical query, identical oracle — the orderkey fact-fact join
    // plans with ZERO Exchange because both facts were written
    // co-bucketed once at ingest (PlanAuditSpec asserts the plan).
    // This is the storage answer to the one cost the 100× receipts
    // still paid on every run.
    Gate("q3_bucketed", (s, dir) => {
      val (o, l) = BucketedLayout.star(s, dir)
      q3Body(o, l, customer(s, dir), factFirst = true)
    }, _ => q3Oracle,
      // the star layout is written once at ingest, not per query
      prepare = BucketedLayout.ensureStarLayout(_, _)),

    // Star join + group-by (TPC-H Q5 style). Broadcast hints ONLY on the
    // bounded dims — nation (25 rows) and region (5 rows) are constant
    // at every scale factor. customer and supplier grow linearly with
    // SF, so they get no hint: AQE broadcasts them while their runtime
    // size fits autoBroadcastJoinThreshold and falls back to a shuffle
    // join at 100× where a forced broadcast would OOM the driver.
    Gate("q5_star_join", (s, dir) =>
      q5Body(s, dir, orders(s, dir), lineitem(s, dir)), _ => q5Oracle),

    // q5 over the bucketed layout — the q3_bucketed rationale; the
    // orderkey exchange disappears, the dim joins stay broadcast.
    Gate("q5_bucketed", (s, dir) => {
      val (o, l) = BucketedLayout.star(s, dir)
      q5Body(s, dir, o, l, factFirst = true)
    }, _ => q5Oracle,
      // the star layout is written once at ingest, not per query
      prepare = BucketedLayout.ensureStarLayout(_, _)),

    // Point-lookup SERVING over the bucketed layout (§2.59): an
    // equality/IN predicate on the bucket column prunes the scan to
    // the keys' buckets — `SelectedBucketsCount: ≤5 out of 32` on BOTH
    // facts (constraint propagation pushes the IN-list through the
    // orderkey equi-join; PlanAuditSpec asserts both). This is the
    // serving half the layout buys beyond the analytical joins: a
    // 1000-executor cluster answers "these 5 orders" by touching ≤5
    // buckets' files of EACH fact — scan cost scales with the
    // key-list, not the 100 TB table (and inside each bucket, parquet
    // row-group min/max on the sorted key prunes further).
    Gate("q_bucket_prune", (s, dir) => {
      val (o, l) = BucketedLayout.star(s, dir)
      val keys = Seq(1L, 7L, 33L, 250L, 999L)
      o.filter(col("o_orderkey").isInCollection(keys))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_totalprice"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
    }, _ =>
      """SELECT o_orderkey, o_totalprice, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (1, 7, 33, 250, 999)
        |GROUP BY o_orderkey, o_totalprice
        |ORDER BY o_orderkey""".stripMargin,
      // the star layout is written once at ingest, not per query
      prepare = BucketedLayout.ensureStarLayout(_, _)),

    // Window functions: rank + lag + running sum per partition.
    Gate("q_window_rank", (s, dir) => {
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, dir)
        .withColumn("rk", rank().over(byCust).cast("long"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(byCust))
        .withColumn("run_cnt", count(lit(1))
          .over(byCust.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"),
          col("prev_price"), col("run_cnt"))
    }, _ =>
      """SELECT o_custkey, o_orderkey, rk, prev_price, run_cnt FROM (
        |  SELECT o_custkey, o_orderkey,
        |    RANK() OVER w AS rk,
        |    LAG(o_totalprice, 1) OVER w AS prev_price,
        |    COUNT(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    // Top-n per group written the NAIVE way — row_number window + filter.
    // With GraftExtensions installed (Verify/Bench do), TopKRewrite
    // replaces the full per-group shuffle+sort with the bounded-heap
    // aggregate; this gate proves the rewritten plan still matches the
    // oracle's window semantics exactly (ties broken by the full ORDER BY).
    Gate("q_topn_group", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
    }, _ =>
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    // Set operations: UNION / INTERSECT / EXCEPT keep distinct semantics.
    Gate("q_setops", (s, dir) => {
      val o = orders(s, dir)
      val highValue = o.filter(col("o_totalprice") > 300000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      highValue.intersect(urgent).except(open)
        .union(highValue.limit(0)) // keep plan shape: union is exercised
        .distinct()
    }, _ =>
      """(SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin),

    // ROLLUP grouping sets with grouping() disambiguation.
    Gate("q_rollup", (s, dir) => {
      orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        // NULL rollup keys → sentinel: Spark and DuckDB order NULLs
        // differently, and the driver compares rows positionally
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"), col("g_status"), col("g_prio"))
    }, _ =>
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, priority""".stripMargin),

    // Full CUBE over two keys (all four grouping combinations).
    Gate("q_cube", (s, dir) => {
      orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"), col("g_status"), col("g_prio"))
    }, _ =>
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, priority""".stripMargin),

    // Explicit GROUPING SETS (disjoint key sets, not a rollup prefix).
    Gate("q_gsets", (s, dir) => {
      val ev = events(s, dir)
      ev.createOrReplaceTempView("ev_gs")
      ev.sparkSession.sql(
        """SELECT COALESCE(event_type, '(all)') AS etype,
          |       COALESCE(CAST(user_id % 7 AS BIGINT), -1) AS ubucket,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM ev_gs
          |GROUP BY GROUPING SETS ((event_type), (user_id % 7), ())
          |ORDER BY etype, ubucket""".stripMargin)
    }, _ =>
      """SELECT COALESCE(event_type, '(all)') AS etype,
        |  COALESCE(CAST(user_id % 7 AS BIGINT), -1) AS ubucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 7), ())
        |ORDER BY etype, ubucket""".stripMargin),

    // Event-time window aggregation — the batch shape of the streaming
    // `withWatermark + window()` path (identical grouping semantics; in
    // streaming the watermark only bounds state retention).
    Gate("q_timewin", (s, dir) => {
      events(s, dir)
        .withColumn("t", timestamp_micros(graft.Tables.tsMicros))
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total"))
        // timestamp_ntz output: TimestampType parquet reads back into
        // pandas as ns-unit (or tz-aware) datetimes while DuckDB emits
        // naive µs — NTZ writes isAdjustedToUTC=false µs, matching
        .select(col("window.start").cast("timestamp_ntz").as("wstart"),
          col("window.end").cast("timestamp_ntz").as("wend"),
          col("event_type"), col("n"), col("total"))
    }, _ =>
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
        |  CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS wend,
        |  event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY 1, 2, 3 ORDER BY wstart, event_type""".stripMargin),

    // PIVOT: status × priority matrix via groupBy().pivot().
    Gate("q_pivot", (s, dir) => pivotWide(s, dir), _ =>
      """SELECT o_orderstatus AS status,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin),

    // Window-function battery beyond rank: lag/lead with defaults,
    // ntile, cume_dist, and a running sum — one shuffle on the
    // partition key, every function sharing the same window frame.
    Gate("q_winfuncs", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .withColumn("prev_key", lag(col("o_orderkey"), 1, -1L).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1, -1L).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("running_cents", sum(col("cents")).over(wr))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_key"),
          col("next_key"), col("quartile"), col("cume"),
          col("running_cents"))
    }, _ =>
      """SELECT o_custkey, o_orderkey,
        |  COALESCE(LAG(o_orderkey) OVER w, -1) AS prev_key,
        |  COALESCE(LEAD(o_orderkey) OVER w, -1) AS next_key,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  CUME_DIST() OVER w AS cume,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |       OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS running_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // NULL semantics: null-safe equality, NULLIF/COALESCE, and
    // null-aware aggregation (COUNT skips nulls, COUNT(*) does not).
    Gate("q_nulls", (s, dir) => {
      val withNulls = orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"),
        // keys %7==0 get a null priority; %3==0 a null status
        nullif(col("o_orderpriority"),
          when(col("o_orderkey") % 7 === 0, col("o_orderpriority"))).as("pri"),
        nullif(col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_orderstatus"))).as("st"))
      withNulls
        .groupBy(coalesce(col("pri"), lit("<none>")).as("pri_group"))
        .agg(count(lit(1)).as("n_all"),
          count(col("st")).as("n_status"),
          // null-safe equality across columns: true only when BOTH are
          // null (priority and status strings never coincide)
          sum((col("pri") <=> col("st")).cast("long")).as("n_both_null"),
          sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_null_status"))
    }, _ =>
      """WITH n AS (
        |  SELECT o_orderkey,
        |    NULLIF(o_orderpriority, CASE WHEN o_orderkey % 7 = 0
        |                                 THEN o_orderpriority END) AS pri,
        |    NULLIF(o_orderstatus, CASE WHEN o_orderkey % 3 = 0
        |                               THEN o_orderstatus END) AS st
        |  FROM orders)
        |SELECT COALESCE(pri, '<none>') AS pri_group,
        |  COUNT(*) AS n_all,
        |  COUNT(st) AS n_status,
        |  CAST(SUM(CASE WHEN pri IS NOT DISTINCT FROM st THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_both_null,
        |  CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_status
        |FROM n GROUP BY 1 ORDER BY pri_group""".stripMargin),

    // UNPIVOT (melt): the wide status × priority matrix back to long
    // form — map-only over the pivoted aggregate (ids stay, value
    // columns explode to (name, value) rows). Shares pivotWide with
    // q_pivot so the two stay exact inverses.
    Gate("q_unpivot", (s, dir) =>
      pivotWide(s, dir).unpivot(Array(col("status")),
          Array(col("p1"), col("p2"), col("p3"), col("p4"), col("p5")),
          "priority", "n"), _ =>
      """WITH m AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS pr
        |  FROM orders)
        |SELECT s.status, p.priority,
        |       CAST((SELECT COUNT(*) FROM m
        |             WHERE m.status = s.status AND m.pr = p.pr) AS BIGINT) AS n
        |FROM (SELECT DISTINCT status FROM m) s
        |CROSS JOIN (VALUES ('p1', '1-URGENT'), ('p2', '2-HIGH'),
        |                   ('p3', '3-MEDIUM'), ('p4', '4-NOT SPECIFIED'),
        |                   ('p5', '5-LOW')) AS p(priority, pr)
        |ORDER BY s.status, p.priority""".stripMargin),

    // HLL approximate distinct at 5% rsd vs exact (the 100 TB cardinality
    // path): the estimate must land within the documented error envelope,
    // asserted INSIDE the query so the oracle stays exact and
    // engine-independent.
    Gate("q_approx_nd", (s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.05).as("approx"),
          countDistinct(col("l_orderkey")).as("exact"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double") <= 0.15).as("within_3rsd"),
          col("exact"))
    }, _ =>
      """SELECT l_returnflag, TRUE AS within_3rsd,
        |       COUNT(DISTINCT l_orderkey) AS exact
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Semi + anti joins (EXISTS / NOT EXISTS).
    Gate("q_semi_anti", (s, dir) => {
      val c = customer(s, dir)
      val bigOrders = orders(s, dir).filter(col("o_totalprice") > 250000)
      val withBig = c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big").as("cls"))
      val withoutAny = c.join(orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("cls"))
      withBig.unionByName(withoutAny)
    }, _ =>
      """SELECT c_custkey, 'has_big' AS cls FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS cls FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY cls, c_custkey""".stripMargin),

    // Exact distinct + conditional aggregation (pivot-style CASE sums).
    // TWO count-distincts on different keys + conditional sums. Written
    // as three column-pruned aggregations joined on the tiny group key
    // instead of one multi-distinct aggregate: Spark plans the latter as
    // an Expand (3x row replication through two agg phases), while each
    // split branch is a plain two-phase hash aggregate over only its own
    // 2-3 columns — at 100 TB the Expand's 3x shuffle dwarfs the cost of
    // two extra column-pruned scans. The joins are 3-row broadcasts.
    Gate("q_distcase", (s, dir) => {
      val li = lineitem(s, dir)
      val sums = li
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", dec(col("l_quantity")))
            .otherwise(lit(0).cast(D))).cast("double").as("qty_f"),
          sum(when(col("l_linestatus") === "O", dec(col("l_quantity")))
            .otherwise(lit(0).cast(D))).cast("double").as("qty_o"))
      val nOrders = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val nPartSupp = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"))
      sums.join(nOrders, "l_returnflag").join(nPartSupp, "l_returnflag")
        .select(col("l_returnflag"), col("n_orders"), col("n_part_supp"),
          col("qty_f"), col("qty_o"))
    }, _ =>
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // HAVING + join-free correlated-style predicate via self-aggregation.
    Gate("q_having", (s, dir) => {
      orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("spend"))
        .filter(col("n_orders") >= 15)
    }, _ =>
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin),

    // Global top-k with deterministic tie-break (ORDER BY + LIMIT).
    Gate("q_topk", (s, dir) => {
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin),

    // String predicates: LIKE / IN / BETWEEN pushed to the scan.
    Gate("q_string_pred", (s, dir) => {
      part(s, dir)
        .filter(col("p_type").like("%AR%") &&
          col("p_brand").isin("Brand#12", "Brand#24", "Brand#10") &&
          col("p_size").between(5, 40))
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"))
    }, _ =>
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE p_type LIKE '%AR%'
        |  AND p_brand IN ('Brand#12', 'Brand#24', 'Brand#10')
        |  AND p_size BETWEEN 5 AND 40
        |ORDER BY p_partkey""".stripMargin)
  )
}
