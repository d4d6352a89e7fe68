package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.cdc._

/** Stream-static enrichment: the assembled change stream joined to a
  * static dimension table — the standard CDC-consumer shape (enrich each
  * change with reference data before delivery). The static side is
  * broadcast, so the stream never shuffles for the join; Spark re-plans
  * the static side per micro-batch, which is what makes slowly-refreshed
  * dimension snapshots safe to swap underneath a running query.
  */
class StreamingEnrichSpec extends AnyFunSuite with SharedSpark {

  private def rec(scn: Long, xid: String, op: Int, rowId: String = "",
      after: Map[String, String] = Map.empty) =
    RedoRecord(scn, 0, xid, op, "T", rowId, rollback = false, 0, Map.empty, after)

  test("assembled changes enrich against a broadcast static dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val input = MemoryStream[RedoRecord]
    val enriched = ChangeStreams.assembleStream(input.toDS())
      .withColumn("cust_id", element_at(col("after"), "cust").cast("long"))
      .join(broadcast(dim), Seq("cust_id"), "left")
      .select(col("scn"), col("cust_id"), col("tier"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        rec(10, "tx1", Ops.Insert, "r1", Map("cust" -> "1")),
        rec(11, "tx1", Ops.Insert, "r2", Map("cust" -> "2")),
        rec(12, "tx1", Ops.Insert, "r3", Map("cust" -> "9")), // no dim row
        rec(20, "tx1", Ops.Commit))
      q.processAllAvailable()
      val out = spark.table("enriched").orderBy("scn")
        .as[(Long, Long, Option[String])].collect().toSeq
      assert(out == Seq((10L, 1L, Some("gold")), (11L, 2L, Some("silver")),
        (12L, 9L, None)))
    } finally q.stop()
  }
}
