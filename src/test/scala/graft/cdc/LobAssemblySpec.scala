package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.TransactionAssembler.{assemble, LobRef}

class LobAssemblySpec extends AnyFunSuite with SharedSpark {

  private def chunk(scn: Long, lobId: String, seq: Int, data: String) =
    RedoRecord(scn, seq, "tx", Ops.LobChunk, "S.T", "", rollback = false,
      0L, Map.empty, Map("lobId" -> lobId, "seq" -> seq.toString, "data" -> data))

  private def ins(scn: Long, after: Map[String, String]) =
    RedoRecord(scn, 0, "tx", Ops.Insert, "S.T", scn.toString,
      rollback = false, 0L, Map.empty, after)

  private def commit(scn: Long) =
    RedoRecord(scn, 0, "tx", Ops.Commit, "", "", rollback = false,
      0L, Map.empty, Map.empty)

  test("multi-chunk LOB assembles into the referencing column at commit") {
    val recs = Seq(
      chunk(1, "77", 0, "Hello, "),
      chunk(2, "77", 1, "LOB "),
      chunk(3, "77", 2, "world"),
      ins(4, Map("id" -> "1", "doc" -> s"${LobRef}77", "small" -> "x")),
      commit(5))
    val out = assemble(recs)
    assert(out.size === 1)
    assert(out.head.after === Map("id" -> "1", "doc" -> "Hello, LOB world",
      "small" -> "x"))
  }

  test("two LOBs interleaved across records resolve independently") {
    val recs = Seq(
      chunk(1, "a", 0, "AA"),
      chunk(2, "b", 0, "BB"),
      chunk(3, "a", 1, "aa"),
      ins(4, Map("x" -> s"${LobRef}a", "y" -> s"${LobRef}b")),
      commit(5))
    val out = assemble(recs)
    assert(out.head.after === Map("x" -> "AAaa", "y" -> "BB"))
  }

  test("missing LOB resolves to null; rolled-back txn discards chunks") {
    val out = assemble(Seq(
      ins(1, Map("doc" -> s"${LobRef}nope")), commit(2)))
    assert(out.head.after("doc") === null)

    val rolled = assemble(Seq(
      chunk(1, "z", 0, "data"), ins(2, Map("doc" -> s"${LobRef}z")),
      RedoRecord(3, 0, "tx", Ops.Rollback, "", "", rollback = false,
        0L, Map.empty, Map.empty)))
    assert(rolled.isEmpty)
  }

  test("inline values without the marker pass through untouched") {
    val out = assemble(Seq(
      chunk(1, "q", 0, "zzz"),
      ins(2, Map("a" -> "plain", "b" -> null)), commit(3)))
    assert(out.head.after === Map("a" -> "plain", "b" -> null))
  }

  test("streaming: LOB chunks spanning 3 micro-batches survive boundaries (T8)") {
    // chunk records ride the SAME transformWithState list state as the
    // statement log (ref `OraCdcTransaction.java:1991-2263` keeps LOBs in
    // the transaction buffer for the same reason), so an out-of-row LOB
    // written across micro-batches resolves at the commit batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RedoRecord]
    val q = graft.streaming.ChangeStreams.assembleStream(input.toDS())
      .writeStream.format("memory").queryName("lob_stream")
      .outputMode("append").start()
    try {
      input.addData(chunk(1, "77", 0, "Hello, "))
      q.processAllAvailable()
      assert(spark.table("lob_stream").count() == 0)
      input.addData(chunk(2, "77", 1, "LOB "), chunk(3, "77", 2, "world"))
      q.processAllAvailable()
      assert(spark.table("lob_stream").count() == 0)
      input.addData(
        ins(4, Map("id" -> "1", "doc" -> s"${LobRef}77")), commit(5))
      q.processAllAvailable()
      val out = spark.table("lob_stream").as[EmittedChange].collect()
      assert(out.length == 1)
      assert(out.head.after === Map("id" -> "1", "doc" -> "Hello, LOB world"))
    } finally q.stop()
  }
}
