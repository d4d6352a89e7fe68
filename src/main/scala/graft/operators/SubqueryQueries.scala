package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** Correlated-subquery battery, run as SQL text through
  * `spark.sql` — the one relational surface the DataFrame-built gates
  * can't reach. Catalyst DECORRELATES these (`RewritePredicateSubquery`,
  * `RewriteCorrelatedScalarSubquery`): EXISTS/NOT EXISTS lower to
  * left-semi / left-anti hash joins and a correlated scalar aggregate
  * lowers to an aggregate-then-join — so at 100 TB they cost exactly one
  * shuffle each, never the per-row re-execution the textual form
  * suggests. The DuckDB oracle runs the same text through its own
  * unnesting, making the gate an engine-vs-engine check of the
  * decorrelation semantics (null handling included).
  */
object SubqueryQueries extends GateFamily {

  private def views(s: SparkSession, dir: String): Unit = {
    customer(s, dir).createOrReplaceTempView("g_customer")
    orders(s, dir).createOrReplaceTempView("g_orders")
  }

  def gates: Seq[Gate] = Seq(
    // EXISTS + NOT EXISTS, both correlated on the customer key.
    Gate("q_exists", (s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT c_custkey, c_name FROM g_customer c
          |WHERE EXISTS (SELECT 1 FROM g_orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM g_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    }, _ =>
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // Correlated scalar aggregates: orders strictly above their own
    // customer's average price. Stated integrally (price·count > sum,
    // in cents) so both engines decide every row exactly.
    Gate("q_scalar", (s, dir) => {
      views(s, dir)
      s.sql(
        """SELECT o_orderkey FROM g_orders o
          |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
          |      (SELECT COUNT(*) FROM g_orders i
          |       WHERE i.o_custkey = o.o_custkey)
          |    > (SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
          |                       AS BIGINT))
          |       FROM g_orders i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }, _ =>
      """SELECT o_orderkey FROM orders o
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  )
}
