package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Snapshot diff — change capture by comparing two snapshots of a table
  * when the source offers no redo/log access (the reference's mview-log
  * path solves the same problem with DB-side triggers; snapshot diffing
  * is the trigger-free fallback every CDC suite ships).
  *
  * Shape: ONE full-outer sort-merge join co-partitioned on the key —
  * both sides shuffle once by the key, each reducer compares its key
  * range independently, and unchanged rows (the overwhelming majority of
  * a 100 TB snapshot pair) are dropped reducer-side before anything
  * downstream sees them. No driver state, no collect; output size is the
  * CHANGE volume, not the snapshot size.
  *
  * Op codes follow the reference's mview DMLTYPE mapping
  * (`KafkaSnapshotLogTable.java`: I→'c', U→'u', D→'d').
  */
object SnapshotDiff extends GateFamily {

  /** Diff `newDf` against `oldDf` on `key`; both sides must carry the
    * same `compareCols`. Emits key, op ('c'/'u'/'d'), and before/after
    * values of each compared column (null on the absent side). Unchanged
    * rows are eliminated — the analogue of P3 no-op UPDATE suppression.
    *
    * Precondition: `key` is UNIQUE within each snapshot (the CDC
    * invariant — snapshots are keyed table states). A duplicated key
    * fans out the full-outer join, reporting a cross product of
    * misclassified updates; dedupe or aggregate to one row per key
    * first.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select((key +: compareCols).map(col): _*)
      .withColumnRenamed(key, "__k")
      .select(col("__k") +: compareCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select((key +: compareCols).map(col): _*)
      .withColumnRenamed(key, "__k")
      .select(col("__k") +: compareCols.map(c => col(c).as(s"__n_$c")): _*)
    val oPresent = col("__o_present")
    val nPresent = col("__n_present")
    // foldLeft(false), not reduce: empty compareCols is the legal
    // keys-only case — pure insert/delete capture, no 'u' rows —
    // where reduce would crash at plan time with a bare
    // "empty.reduceLeft"
    val changed: Column = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .foldLeft(lit(false))(_ || _)
    o.withColumn("__o_present", lit(true))
      .join(n.withColumn("__n_present", lit(true)), Seq("__k"), "full_outer")
      .withColumn("op",
        when(oPresent.isNull, lit("c"))
          .when(nPresent.isNull, lit("d"))
          .when(changed, lit("u")))
      .filter(col("op").isNotNull)
      .select(col("__k").as(key) +: col("op") +:
        compareCols.flatMap(c => Seq(
          col(s"__o_$c").as(s"before_$c"), col(s"__n_$c").as(s"after_$c"))): _*)
  }

  def gates: Seq[Gate] = Seq(
    // Old snapshot = orders as stored. New snapshot synthesized from the
    // same table with deterministic integer edits so both engines state
    // it exactly: keys %11==0 vanish (deletes), keys %7==0 gain 500
    // cents (updates), and negated keys %13==0 appear (inserts).
    Gate("q_snap_diff", (s, dir) => {
      // persisted: three branches read the scan+cast frame (the old
      // side plus both newSnap arms) — without the persist each gate
      // run scans orders and recomputes the decimal cast three times
      // (the scd2Apply multi-branch discipline)
      val base = orders(s, dir).select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")).persist()
      val oldSnap = base
      val newSnap = base.filter(col("k") % 11 =!= 0)
        .withColumn("cents",
          when(col("k") % 7 === 0, col("cents") + 500).otherwise(col("cents")))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select((-col("k")).as("k"), col("cents")))
      val out = diff(oldSnap, newSnap, "k", Seq("cents"))
        .localCheckpoint(true)
      base.unpersist(blocking = false)
      out
    }, _ =>
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |news AS (
        |  SELECT k, CASE WHEN k % 7 = 0 THEN cents + 500 ELSE cents END AS cents
        |  FROM base WHERE k % 11 <> 0
        |  UNION ALL
        |  SELECT -k AS k, cents FROM base WHERE k % 13 = 0)
        |SELECT COALESCE(o.k, n.k) AS k,
        |       CASE WHEN o.k IS NULL THEN 'c'
        |            WHEN n.k IS NULL THEN 'd'
        |            ELSE 'u' END AS op,
        |       o.cents AS before_cents, n.cents AS after_cents
        |FROM base o FULL OUTER JOIN news n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL OR o.cents IS DISTINCT FROM n.cents
        |ORDER BY k""".stripMargin)
  )
}
