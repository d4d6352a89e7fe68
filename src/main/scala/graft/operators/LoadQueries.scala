package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.sources.MviewSnapshot

/** Correctness gates for the two bounded-ingest paths (SURVEY.md §2.1
  * S7/S8): mview-log snapshot polling and initial load unioned ahead of
  * the change stream.
  */
object LoadQueries extends GateFamily {

  def gates: Seq[Gate] = Seq(
    // S7: MLOG$-style poll — log rows keyed by (orderkey, linenumber)
    // with DMLTYPE from linenumber%3; master lookup joins orders for
    // I/U rows, deletes carry only the key.
    Gate("s7_mview", (s, dir) => {
      val log = lineitem(s, dir).select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").as("line"),
        when(col("l_linenumber") % 3 === 0, "I")
          .when(col("l_linenumber") % 3 === 1, "U")
          .otherwise("D").as("dmltype"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rowscn"))
      val master = orders(s, dir).select(
        col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_totalprice"))
      MviewSnapshot.poll(log, master, Seq("okey"))
        .select(col("op"), col("okey"), col("line"), col("rowscn"),
          col("o_custkey").as("custkey"),
          col("o_totalprice").as("price"))
    }, _ =>
      """SELECT CASE WHEN l.l_linenumber % 3 = 0 THEN 'c'
        |            WHEN l.l_linenumber % 3 = 1 THEN 'u'
        |            ELSE 'd' END AS op,
        |       l.l_orderkey AS okey, l.l_linenumber AS line,
        |       l.l_orderkey * 10 + l.l_linenumber AS rowscn,
        |       CASE WHEN l.l_linenumber % 3 = 2 THEN NULL
        |            ELSE o.o_custkey END AS custkey,
        |       CASE WHEN l.l_linenumber % 3 = 2 THEN NULL
        |            ELSE o.o_totalprice END AS price
        |FROM lineitem l
        |LEFT JOIN orders o
        |  ON l.l_linenumber % 3 <> 2 AND o.o_orderkey = l.l_orderkey
        |WHERE l.l_linenumber % 3 = 2 OR o.o_orderkey IS NOT NULL
        |ORDER BY okey, line""".stripMargin),

    // S8: initial load ∪ change stream — the snapshot half of orders is
    // the bounded "select * where ORA_ROWSCN < ?" load; the upper half
    // replays as INSERTs and every 5th snapshot key gets an UPDATE;
    // latest-wins per key reconstructs the final state.
    Gate("s8_init_load", (s, dir) => {
      val o = orders(s, dir)
      val cutoff = 75000L // sf-proportional midpoint of o_orderkey space
      val snapshot = o.filter(col("o_orderkey") <= cutoff)
        .select(col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"), lit(0L).as("chg_scn"))
      val streamInserts = o.filter(col("o_orderkey") > cutoff)
        .select(col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"), col("o_orderkey").as("chg_scn"))
      val streamUpdates = o.filter(col("o_orderkey") <= cutoff &&
          col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("okey"),
          (col("o_totalprice") * 2).as("price"),
          (col("o_orderkey") + 1000000L).as("chg_scn"))
      val unioned = snapshot.unionByName(streamInserts).unionByName(streamUpdates)
      val w = Window.partitionBy(col("okey")).orderBy(col("chg_scn").desc)
      unioned.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        // price stays double end-to-end (×2 is exact in binary floating
        // point): a decimal output can't hash-match the driver comparator
        .select(col("okey"), col("price"))
    }, _ =>
      """SELECT o_orderkey AS okey,
        |       CASE WHEN o_orderkey <= 75000 AND o_orderkey % 5 = 0
        |            THEN o_totalprice * 2 ELSE o_totalprice END AS price
        |FROM orders ORDER BY okey""".stripMargin)
  )
}
