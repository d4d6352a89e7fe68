package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.BloomFilterOps._

/** Bloom-filtered semi-join: build a bitset over the dim's join keys
  * (one distributed aggregate, partials OR-merged), broadcast the single
  * filter row, and drop fact rows that cannot match BEFORE the join's
  * exchange. The exact join then removes false positives, so the result
  * is identical to the plain join — the filter only cuts the fact's
  * shuffle volume by its miss rate.
  *
  * When to reach for it at 100 TB: the dim is too big to broadcast (so
  * the join must shuffle both sides) but its KEY SET still fits a few MB
  * of bitset — the common "selective dimension, huge fact" shape. The
  * broadcast is the filter, not the dim.
  */
object BloomJoin extends GateFamily {

  /** Fact rows surviving the bloom probe of `dim`'s key set.
    *
    * The filter is bound as a SCALAR SUBQUERY — the same shape Spark's
    * internal runtime-filter injection lowers to: the build aggregate
    * runs once, and its bitset enters the probe stage as a per-task
    * constant (a codegen reference object). The first cut of this
    * operator attached the bitset as a broadcast-joined COLUMN instead;
    * each probed row's `getBinary` then defensively copied the 1 MiB
    * array — ~600 GB of memcpy over sf0.1 lineitem, 125 s for a query
    * whose join work is < 2 s.
    */
  def bloomPrefilter(fact: DataFrame, factKey: Column,
      dim: DataFrame, dimKey: Column, numBits: Int = 1 << 23,
      hashes: Int = 5): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    // one `hashes` value feeds BOTH build and probe: a mismatch would
    // probe bit positions the builder never set — silent false
    // NEGATIVES, i.e. dropped matching rows, not just lost efficiency
    val bf = dim.agg(bloomAgg(dimKey, numBits, hashes).as("__bf"))
    fact.filter(bloomMightContain(
      GraftSqlBridge.column(GraftSqlBridge.scalarSubquery(bf)), factKey))
  }

  def gates: Seq[Gate] = Seq(
    // Selective dim (one order-date week) against the full lineitem
    // fact. merge hint on the exact join: at test scale the optimizer
    // would broadcast the dim and the bloom would demonstrate nothing —
    // the production shape this models is a shuffle join whose fact side
    // the bloom has already thinned.
    Gate("q_bloom_join", (s, dir) => {
      val D = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
      val o = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-03-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-03-08").cast("timestamp_ntz"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = lineitem(s, dir)
        .select(col("l_orderkey"),
          (col("l_quantity").cast(D) * 100).cast("long").as("qty_c"))
      bloomPrefilter(l, col("l_orderkey"), o, col("o_orderkey"))
        .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), sum(col("qty_c")).as("sum_qty_c"))
    }, _ =>
      // the bloom is invisible to results — the oracle is the plain join
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
        |            AS BIGINT) AS sum_qty_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01'
        |  AND o_orderdate < TIMESTAMP '1997-03-08'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
