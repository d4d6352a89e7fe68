package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Explicit skew-salted join — the manual control for fact tables whose
  * join key is badly skewed and whose dimension side is too large to
  * broadcast. AQE's skew-join split handles sort-merge skew when
  * statistics catch it; salting is the deterministic, always-on form a
  * production pipeline reaches for when it KNOWS the skew (a handful of
  * event types across billions of rows).
  *
  * Mechanics: the fact side computes a per-row salt in [0, salts) from
  * a caller-chosen deterministic expression (a row id — never rand(),
  * which breaks retries and recomputation); the dimension side explodes
  * into `salts` replicas. The join key becomes (key, salt), so one hot
  * key's rows spread across `salts` reducers instead of one. Join
  * results are IDENTICAL to the unsalted join; only the partitioning
  * changes.
  */
object SkewJoin extends GateFamily {

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
      factSalt: Column): DataFrame = {
    // null-safe salt: pmod(null, n) is null and a null salt matches NO
    // dim replica, which would silently DROP the fact row — the one
    // outcome a pure partitioning change must never produce
    val f = fact.withColumn("__salt",
      coalesce(pmod(factSalt, lit(salts)).cast("int"), lit(0)))
    val d = dim.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    // merge hint: the whole point is a shuffled join on (key, salt) —
    // letting the optimizer broadcast the (small-at-test-scale) dim
    // would silently validate nothing
    f.join(d.hint("merge"), Seq(key, "__salt")).drop("__salt")
  }

  def gates: Seq[Gate] = Seq(
    // Fact (events) joined to a per-event_type aggregate back onto
    // itself — event_type has ~5 distinct values, the canonical hot-key
    // shape. The above-average test is integral (value·n > sum in
    // cents) so both engines decide it exactly.
    Gate("q_skew_join", (s, dir) => {
      val D = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
      val ev = events(s, dir).select(col("event_id"), col("event_type"),
        (col("value").cast(D) * 100).cast("long").as("cents"))
      val dim = ev.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
      saltedJoin(ev, dim, "event_type", salts = 8,
        factSalt = col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("cents") * col("n") > col("sum_cents"), 1L)
            .otherwise(0L)).as("n_above_avg"))
    }, _ =>
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT event_type, SUM(cents) AS sum_cents, COUNT(*) AS n
        |      FROM ev GROUP BY 1)
        |SELECT ev.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN ev.cents * d.n > d.sum_cents THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_above_avg
        |FROM ev JOIN d ON ev.event_type = d.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
