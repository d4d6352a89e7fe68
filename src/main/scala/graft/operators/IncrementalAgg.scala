package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Incremental aggregate maintenance — applying a CDC changelog to a
  * materialized rollup WITHOUT re-scanning the base data. This is the
  * canonical downstream consumer of the change stream the reference
  * produces (its JDBC sink applies row changes to a copy of the table;
  * a lakehouse consumer applies them to the table's AGGREGATES — same
  * op codes, c/u/d, as `KafkaSnapshotLogTable`'s DMLTYPE mapping).
  *
  * Scale design (100 TB): the whole maintenance step is ONE aggregate
  * over the delta (changelog-sized, not base-sized) plus ONE
  * co-partitioned full-outer join against the base rollup on the group
  * key. Sum/count are self-inverse under retraction, so 'd' and the
  * before-image of 'u' enter with negative sign — no per-group rescans,
  * no driver state. Non-invertible aggregates (min/max) would need the
  * stored per-group structure instead; sums/counts are exactly the
  * shapes a CDC-maintained materialized view keeps hot.
  */
object IncrementalAgg extends GateFamily {

  /** Apply `delta` to `base`.
    *
    * base:  (key, n, total)            — the materialized rollup
    * delta: (key, op, before, after)   — op ∈ 'c'/'u'/'d'; before is the
    *        retracted measure ('u'/'d'), after the inserted one ('c'/'u')
    *
    * Groups whose maintained count reaches 0 disappear, matching a
    * direct re-aggregation of the post-change rows.
    */
  def maintain(base: DataFrame, delta: DataFrame, key: String): DataFrame = {
    val signed = delta.select(col(key),
      when(col("op") === "c", 1L).when(col("op") === "d", -1L)
        .otherwise(0L).as("dn"),
      (coalesce(when(col("op") =!= "d", col("after")), lit(0L)) -
        coalesce(when(col("op") =!= "c", col("before")), lit(0L))).as("dt"))
      .groupBy(col(key))
      .agg(sum(col("dn")).as("dn"), sum(col("dt")).as("dt"))
    // NULL-SAFE key equality: GROUP BY collects NULL keys into one
    // group, so the merge must too — a plain equi-join would leave a
    // null-key base row and its null-key retraction unmerged (the
    // retraction then even drops at the n>0 filter), silently breaking
    // maintenance ≡ recomputation for any nullable group key
    val d = signed.withColumnRenamed(key, "_dk")
    base.join(d, base(key) <=> d("_dk"), "full_outer")
      .select(coalesce(base(key), d("_dk")).as(key),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("dt"), lit(0L)))
          .as("total"))
      .filter(col("n") > 0)
  }

  private val CUTOFF = "1997-01-01"

  def gates: Seq[Gate] = Seq(
    // Maintained per-customer order rollup: the base aggregate covers
    // orders before the cutoff; the changelog then inserts every later
    // order ('c'), deletes base orders with key%17==0 ('d'), and
    // re-prices base orders with key%19==0 by +100 cents ('u', with
    // before/after images). The oracle is the INDEPENDENT formulation —
    // a direct aggregate of the post-change order set — so the gate
    // proves maintenance ≡ recomputation, not that two copies of the
    // same algebra agree.
    Gate("q_incr_agg", (s, dir) => {
      val cutoff = lit(CUTOFF).cast("timestamp_ntz")
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      val baseRows = o.filter(col("o_orderdate") < cutoff)
      val base = baseRows.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
      val inserts = o.filter(col("o_orderdate") >= cutoff)
        .select(col("o_custkey"), lit("c").as("op"),
          lit(null).cast("long").as("before"), col("cents").as("after"))
      val deletes = baseRows.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_custkey"), lit("d").as("op"),
          col("cents").as("before"), lit(null).cast("long").as("after"))
      val updates = baseRows
        .filter(col("o_orderkey") % 17 =!= 0 && col("o_orderkey") % 19 === 0)
        .select(col("o_custkey"), lit("u").as("op"),
          col("cents").as("before"), (col("cents") + 100).as("after"))
      maintain(base, inserts.unionByName(deletes).unionByName(updates),
        "o_custkey")
    }, _ =>
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderdate,
         |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM orders),
         |post AS (
         |  SELECT o_custkey,
         |         cents + CASE WHEN o_orderkey % 19 = 0 THEN 100 ELSE 0 END
         |           AS cents
         |  FROM o WHERE o_orderdate < TIMESTAMP '$CUTOFF'
         |    AND o_orderkey % 17 <> 0
         |  UNION ALL
         |  SELECT o_custkey, cents FROM o
         |  WHERE o_orderdate >= TIMESTAMP '$CUTOFF')
         |SELECT o_custkey, COUNT(*) AS n,
         |       CAST(SUM(cents) AS BIGINT) AS total
         |FROM post GROUP BY 1 ORDER BY o_custkey""".stripMargin),

    // Incremental maintenance of an AGGREGATE-OVER-JOIN view — the
    // textbook IVM case one step up from q_incr_agg: the materialized
    // view is (lineitem ⋈ orders) rolled up per order priority, and the
    // changelog arrives on the FACT side only. Maintenance shape at
    // 100 TB: the delta joins the dimension FIRST (a delta-bounded
    // equi-join — the base view's fact scan never re-runs), then the
    // signed rows flow through the same delta-aggregate + co-partitioned
    // full-outer merge as q_incr_agg. The oracle recomputes the
    // post-change join from scratch, so the gate proves
    // maintenance ≡ recomputation across the join.
    Gate("q_incr_join", (s, dir) => {
      val cutoff = lit(CUTOFF).cast("timestamp_ntz")
      val o = orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      val l = lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      val baseL = l.filter(col("l_shipdate") < cutoff)
      // the stored view: per-priority rollup of the base join
      val base = baseL.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
      // fact-side changelog: later shipments insert, key%13 base rows
      // delete; each delta row picks up its dimension attribute through
      // a DELTA-SIZED join before signing
      val inserts = l.filter(col("l_shipdate") >= cutoff)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), lit("c").as("op"),
          lit(null).cast("long").as("before"), col("cents").as("after"))
      val deletes = baseL.filter(col("l_orderkey") % 13 === 0)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), lit("d").as("op"),
          col("cents").as("before"), lit(null).cast("long").as("after"))
      maintain(base, inserts.unionByName(deletes), "o_orderpriority")
    }, _ =>
      s"""WITH l AS (
         |  SELECT l_orderkey, l_shipdate,
         |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |           AS cents
         |  FROM lineitem),
         |post AS (
         |  SELECT l_orderkey, cents FROM l
         |  WHERE l_shipdate < TIMESTAMP '$CUTOFF' AND l_orderkey % 13 <> 0
         |  UNION ALL
         |  SELECT l_orderkey, cents FROM l
         |  WHERE l_shipdate >= TIMESTAMP '$CUTOFF')
         |SELECT o.o_orderpriority, COUNT(*) AS n,
         |       CAST(SUM(p.cents) AS BIGINT) AS total
         |FROM post p JOIN orders o ON o.o_orderkey = p.l_orderkey
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),

    // Incremental SCD2 maintenance — applying a change batch to a
    // slowly-changing dimension WITHOUT rebuilding it: the pure delta
    // algorithm a lakehouse MERGE runs nightly. CLOSED history rows are
    // never touched; only (a) the CURRENT row of each key the batch
    // mentions gets its valid_to closed to the batch's first change for
    // that key, and (b) the batch rows are versioned among themselves
    // (one DELTA-SIZED window shuffle). Every join is delta-bounded —
    // firstDelta is batch-keys-sized and broadcasts at real scale, so a
    // 100 TB dimension pays for its change keys only. The oracle
    // rebuilds the dimension FROM SCRATCH over the full history with
    // the q_scd2_vers window — the gate proves apply ≡ rebuild.
    // Assumes in-order arrival (batch changes post-date the current
    // rows), the CDC commit-order guarantee T3 provides upstream.
    Gate("q_scd2_apply", (s, dir) => scd2Apply(s, dir, CUTOFF), _ =>
      // the oracle is the from-scratch rebuild over the FULL history —
      // byte-equality proves the delta apply reproduces it exactly
      CdcQueries.scd2Oracle)
  )

  /** The q_scd2_apply plan with the batch boundary as a parameter —
    * the gate uses CUTOFF; `IncrementalSubquerySpec` proves
    * apply ≡ rebuild at several other cutoffs (incl. an all-delta and
    * an all-base split). See the gate scaladoc above.
    */
  private[operators] def scd2Apply(s: SparkSession, dir: String,
      cutoffStr: String): DataFrame = {
    val cutoff = lit(cutoffStr).cast("timestamp_ntz")
    val rows = orders(s, dir).select(
      (col("o_orderkey") % 997).as("k"), col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"),
      col("o_orderdate").as("ts"))
    // the stored dimension: SCD2 over pre-cutoff history. PERSISTED —
    // three branches read it (history, closed, untouchedCurrent); the
    // shuffle-reuse cache only dedupes the exchange write, each branch
    // would still re-run the dimension-sized window sort. Same
    // persist/force/release discipline as dedup_jac_lsh. delta is read
    // twice too (self-versioning + firstDelta) — delta-sized, cached.
    val base = CdcQueries.scd2(rows.filter(col("ts") < cutoff),
      "k", "ts", "o_orderkey").persist()
    val delta = rows.filter(col("ts") >= cutoff).persist()
    val out = scd2ApplyFrames(base, delta)
      .localCheckpoint(true)
    base.unpersist(blocking = false)
    delta.unpersist(blocking = false)
    out
  }

  /** The SCD2 delta-apply CORE on arbitrary frames — what a CDC-fed
    * maintenance loop runs per micro-batch (`StreamingScd2Spec`):
    * `base` is the stored versioned dimension (k, o_orderkey, cents,
    * valid_from, valid_to, is_current), `delta` the batch's raw rows
    * (k, o_orderkey, cents, ts). Closed history is never touched; each
    * touched key's current row closes at the batch's first change for
    * it; the batch self-versions in one delta-sized window. Assumes
    * in-order arrival (batch post-dates the stored currents) — the T3
    * commit-order guarantee upstream.
    */
  private[graft] def scd2ApplyFrames(base: DataFrame,
      delta: DataFrame): DataFrame = {
    // batch rows versioned among themselves (delta-sized shuffle)
    val deltaV = CdcQueries.scd2(delta, "k", "ts", "o_orderkey")
    // first change per touched key — closes that key's current row
    val firstDelta = delta.groupBy(col("k"))
      .agg(min(struct(col("ts"), col("o_orderkey"))).as("f"))
      .select(col("k"), col("f.ts").as("close_at"))
    val closed = base.filter(col("is_current"))
      .join(firstDelta, "k")
      .withColumn("valid_to", col("close_at"))
      .withColumn("is_current", lit(false))
      .drop("close_at")
    val untouchedCurrent = base.filter(col("is_current"))
      .join(firstDelta, Seq("k"), "left_anti")
    val history = base.filter(!col("is_current"))
    val cols = Seq("k", "o_orderkey", "cents", "valid_from",
      "valid_to", "is_current").map(col)
    history.select(cols: _*)
      .unionByName(closed.select(cols: _*))
      .unionByName(untouchedCurrent.select(cols: _*))
      .unionByName(deltaV.select(cols: _*))
  }
}
