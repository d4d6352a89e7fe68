package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.ZOrderOps._

/** Z-order layout clustering: range-partition by z-value, sort within
  * partitions, write. Each output file then covers a compact hyper-
  * rectangle of the (x, y) space, so min/max statistics prune scans on
  * either dimension — the standard lakehouse OPTIMIZE ZORDER operation.
  *
  * `repartitionByRange` samples the z distribution (no driver
  * materialization) and the sort is per-partition — both scale linearly
  * and spill; nothing here is quadratic or driver-bound.
  */
object ZOrderLayout extends GateFamily {

  def clusterByZ(df: DataFrame, x: Column, y: Column, bits: Int,
      partitions: Int): DataFrame = {
    df.withColumn("__z", zValue2(x, y, bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  def gates: Seq[Gate] = Seq(
    // z-value arithmetic gate: interleave (user_id mod 1024, cents mod
    // 1024) and keep each z-cell's population + value sum — exercises
    // the codegen expression end-to-end with an integer-exact oracle.
    Gate("q_zorder", (s, dir) => {
      val D = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          (col("value").cast(D) * 100).cast("long").as("cents"))
        .withColumn("z", zValue2(pmod(col("user_id"), lit(1024)).cast("long"),
          pmod(col("cents"), lit(1024)).cast("long"), bits = 10))
        .groupBy(expr("z div 4096").as("z_block"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
    }, _ =>
      s"""WITH e AS (
         |  SELECT event_id, user_id,
         |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events)
         |SELECT CAST(z // 4096 AS BIGINT) AS z_block, COUNT(*) AS n,
         |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
         |       MIN(z) AS z_min, MAX(z) AS z_max
         |FROM (SELECT cents, ($zExpr) AS z FROM e)
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  // the oracle spreads the bits explicitly: Σ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1)
  // pmod-equivalent ((v%m)+m)%m: Spark's pmod is non-negative while SQL %
  // preserves sign — a negative cents value would otherwise interleave
  // different bits per engine
  private val zExpr: String = {
    val x = "(((user_id % 1024) + 1024) % 1024)"
    val y = "(((cents % 1024) + 1024) % 1024)"
    (0 until 10).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
  }
}
