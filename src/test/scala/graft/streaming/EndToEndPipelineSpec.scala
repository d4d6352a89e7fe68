package graft.streaming

import java.io.File
import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.redo.RedoLogWriter
import graft.sinks.{DerbyDialect, JdbcUpsertSink}

/** The reference's whole pipeline, Spark-first: binary redo logs →
  * `graft-redo` micro-batch source → transformWithState transaction
  * assembly (RocksDB state store, T10) → foreachBatch JDBC upsert sink
  * (K2) into Derby. Transactions deliberately SPAN micro-batches (one log
  * file per trigger) so commit resolution must come from streaming state,
  * not from within a batch.
  */
class EndToEndPipelineSpec extends AnyFunSuite with SharedSpark {

  private def rr(scn: Long, xid: String, op: Int, rowId: String,
      after: Map[String, String] = Map.empty): RedoRecord =
    RedoRecord(scn, 0, xid, op, if (op == Ops.Commit || op == Ops.Rollback) ""
      else "G.ACCTS", rowId, rollback = false, scn, Map.empty, after)

  // per-batch emitted rows, captured by the foreachBatch diagnostic —
  // printed on assertion failure so the flake (seen twice in full-suite
  // runs, never in 180 isolated iterations) localizes itself
  private val seen =
    scala.collection.mutable.Map.empty[Long, List[String]]

  test("redo logs → streaming assembly → Derby upsert, txns span batches") {
    val dir = SharedSpark.tempDir("e2e_grl").toFile
    // log 1: txA inserts k=1,k=2 (NO commit yet), txB inserts k=3 + commits
    val f1 = Seq(
      rr(1, "A", Ops.Insert, "r1", Map("k" -> "1", "v" -> "a1")),
      rr(2, "B", Ops.Insert, "r3", Map("k" -> "3", "v" -> "b1")),
      rr(3, "A", Ops.Insert, "r2", Map("k" -> "2", "v" -> "a2")),
      rr(4, "B", Ops.Commit, ""))
    // log 2: txA updates k=1 then commits; txC inserts k=4 then ROLLS BACK
    val f2 = Seq(
      rr(5, "A", Ops.Update, "r1", Map("k" -> "1", "v" -> "a1v2")),
      rr(6, "C", Ops.Insert, "r4", Map("k" -> "4", "v" -> "c1")),
      rr(7, "A", Ops.Commit, ""),
      rr(8, "C", Ops.Rollback, ""))
    Seq((1, f1), (2, f2)).foreach { case (seq, recs) =>
      val w = new RedoLogWriter(new File(dir, s"log_$seq.grl"), 1024, seq = seq)
      recs.foreach(w.append)
      w.close()
    }

    val url = "jdbc:derby:memory:e2e;create=true"
    DriverManager.getConnection(url).close() // materialize the db

    import spark.implicits._
    val records = spark.readStream.format("graft-redo")
      .option("maxFilesPerTrigger", 1)
      .load(dir.getAbsolutePath)
      .as[RedoRecord]
    val sink = JdbcUpsertSink(url, "ACCTS", keyCols = Seq("K"),
      dialect = DerbyDialect, opCol = "op",
      orderCols = Seq("commitScn", "scn"))
    val q = ChangeStreams.assembleStream(records)
      .toDF()
      .select(element_at(col("after"), "k").cast("int").as("K"),
        element_at(col("after"), "v").as("V"),
        col("op"), col("commitScn"), col("scn"))
      .writeStream
      .option("checkpointLocation",
        SharedSpark.tempDir("e2e_ckpt").toFile.getAbsolutePath)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        // diagnostic capture for a full-suite-only flake (one observed
        // run delivered all 8 source rows yet Derby ended with one key):
        // pin the batch's content so a failure says WHICH side lost
        // rows — the assembler's emission or the JDBC write
        val rows = df.collect()
        seen.synchronized { seen += (bid -> rows.map(_.toString).toList) }
        sink.writeBatch(df)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    // awaitTermination returns false on timeout — failing to check it
    // makes the Derby read race the stream under box load (observed as
    // a full-suite-only flake)
    assert(q.awaitTermination(300000), "stream did not finish within 300s")

    val conn = DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT K, V FROM ACCTS ORDER BY K")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2))).toList
    conn.close()

    // txB committed (k=3); txA committed in batch 2 with the UPDATE
    // applied AFTER the insert (k=1 → a1v2, k=2 → a2); txC rolled back.
    val want = List((1, "a1v2"), (2, "a2"), (3, "b1"))
    assert(got === want,
      s"Derby=$got want=$want; emitted per batch: " +
        seen.synchronized(seen.toSeq.sortBy(_._1))
          .map { case (b, rs) => s"batch $b: ${rs.mkString("; ")}" }
          .mkString(" | "))
  }
}
