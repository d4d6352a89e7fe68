package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord, SchemaRegistry}
import graft.redo.RedoLogWriter

/** T9 composed with the streaming pipeline (the r11 verdict's item 4):
  * a 24.1 DDL record arrives MID-STREAM through the binary-redo DSv2
  * source, transits transaction assembly like any change (emitted at
  * its own commit), bumps the table's value-schema version in the
  * registry, and every later data change carries the NEW version in
  * its output envelope — the reference's hardest operational edge
  * (`OraCdcTableBase.processDdl:404-616`, version bumps at
  * `:528,:598,:616`).
  *
  * What only the streaming composition can check:
  *  - intra-stream ordering: a row committed BEFORE the DDL is stamped
  *    with the old version, a row after it with the new — per commit
  *    SCN, not per micro-batch;
  *  - RESTART ACROSS THE DDL BOUNDARY: the stream stops after the DDL's
  *    batch and restarts from the checkpoint. Recovered offsets skip
  *    the processed logs, so the DDL record never replays — the schema
  *    state crosses the boundary through the persisted DDL history
  *    ([[SchemaRegistry.replay]]), exactly the reference's external
  *    versioned-schema store. A transaction whose rows predate the
  *    restart and whose commit follows it must still stamp the
  *    POST-DDL version (its rows survive in the RocksDB state store;
  *    the registry survives in the history file);
  *  - deterministic replay: tearing down and re-running yields the
  *    identical (doc, version) sequence.
  */
class RedoDdlStreamSpec extends AnyFunSuite with SharedSpark {

  private val baseSchema = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("NAME", StringType)))

  private def ins(scn: Long, xid: String, img: Map[String, String]): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Insert, "G.T", s"r$scn", rollback = false,
      scn, Map.empty, img)

  private def ddl(scn: Long, xid: String, stmt: String): RedoRecord =
    RedoRecord(scn, 0, xid, Ops.Ddl, "G.T", "", rollback = false, scn,
      Map.empty, Map("ddl" -> stmt))

  private def ctl(scn: Long, xid: String, op: Int): RedoRecord =
    RedoRecord(scn, 0, xid, op, "", "", rollback = false, scn,
      Map.empty, Map.empty)

  test("mid-stream DDL bumps the envelope's schema version; restart " +
      "crosses the DDL boundary through the persisted history") {
    import spark.implicits._
    val redoDir = SharedSpark.tempDir("redo_ddl_grl").toFile
    def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
      val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
      recs.foreach(w.append)
      w.close()
    }
    // log 1: T1 inserts row 1 and commits (pre-DDL, version 1).
    // log 2: the DDL transaction commits (ADD EXTRA), THEN T2's row —
    //        carrying the new column — arrives but does NOT commit.
    // log 3 (written only after the restart): T2's commit.
    writeLog(1, Seq(
      ins(1, "T1", Map("ID" -> "1", "NAME" -> "a")),
      ctl(2, "T1", Ops.Commit)))
    writeLog(2, Seq(
      ddl(3, "D1", "ALTER TABLE G.T ADD (EXTRA NUMBER(10,2))"),
      ctl(4, "D1", Ops.Commit),
      ins(5, "T2", Map("ID" -> "2", "NAME" -> "b", "EXTRA" -> "1.50"))))

    val history = SharedSpark.tempDir("redo_ddl_hist")
      .resolve("history.tsv")
    val ckpt = SharedSpark.tempDir("redo_ddl_ckpt").toFile.getAbsolutePath
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Option[String])]()

    def runOnce(): Unit = {
      // each run REBUILDS its registry from base schema + history —
      // never from re-reading processed offsets (they don't replay)
      val reg = SchemaRegistry.replay(Map("G.T" -> baseSchema), Some(history))
      val records = spark.readStream.format("graft-redo")
        .option("maxFilesPerTrigger", 1)
        .load(redoDir.getAbsolutePath)
        .as[RedoRecord]
      val q = ChangeStreams.assembleStream(records)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[graft.cdc.EmittedChange],
           _: Long) =>
          // commit-ordered stamp pass: DDL bumps + persists, data rows
          // come back with their per-commit version
          val stamped = reg.stampBatch(ds.collect().toSeq, Some(history))
          out ++= stamped.map { case (c, v) =>
            (c.after("ID").toLong, v, c.after.get("EXTRA"))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "stream did not finish within 300s")
    }

    runOnce() // logs 1-2: row 1 @v1; DDL applied+persisted; T2 pending
    assert(out.toSeq == Seq((1L, 1, None)),
      s"pre-restart output $out: row 1 must carry version 1, no EXTRA; " +
        "T2 is uncommitted and must not appear")
    val regCheck = SchemaRegistry.replay(Map("G.T" -> baseSchema), Some(history))
    assert(regCheck.get("G.T").exists(tv => tv.version == 2 &&
        tv.schema.fieldNames.contains("EXTRA")),
      "DDL history must rebuild the post-DDL registry (v2 with EXTRA)")

    writeLog(3, Seq(ctl(6, "T2", Ops.Commit)))
    runOnce() // restart: only log 3 is new; T2 emits from recovered state
    assert(out.toSeq == Seq((1L, 1, None), (2L, 2, Some("1.50"))),
      s"post-restart output $out: row 2 must emit exactly once, stamped " +
        "version 2 WITH the DDL-added column — the registry crossed the " +
        "restart through the history file, the rows through the state store")

    // deterministic replay: fresh checkpoint/history, same sequence
    val out1 = out.toSeq
    out.clear()
    java.nio.file.Files.deleteIfExists(history)
    val ckpt2 = SharedSpark.tempDir("redo_ddl_ckpt2").toFile.getAbsolutePath
    val reg2 = SchemaRegistry.replay(Map("G.T" -> baseSchema), Some(history))
    val q2 = ChangeStreams.assembleStream(
        spark.readStream.format("graft-redo")
          .option("maxFilesPerTrigger", 1)
          .load(redoDir.getAbsolutePath)
          .as[RedoRecord])
      .writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.cdc.EmittedChange],
         _: Long) =>
        out ++= reg2.stampBatch(ds.collect().toSeq, Some(history)).map {
          case (c, v) => (c.after("ID").toLong, v, c.after.get("EXTRA"))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(300000), "replay stream did not finish")
    assert(out.toSeq == out1, s"replay diverged: $out vs $out1")
  }

  test("DDL-evolved stream auto-evolves the JDBC sink target (T9 ∘ K3 ∘ K2)") {
    import spark.implicits._
    // the full operational composition: binary redo → assembly →
    // schema registry → JDBC upsert sink. The DDL that widened the
    // stream must widen the TARGET too — the sink diffs the batch's
    // columns against the target catalog and issues the reference's
    // ALTER TABLE ADD path (`TargetDbSqlUtils` alter; K3) before
    // binding, so pre-DDL rows land with the old shape, post-DDL rows
    // with the new, in ONE streaming query.
    val redoDir = SharedSpark.tempDir("redo_ddlk3_grl").toFile
    def writeLog(i: Int, recs: Seq[RedoRecord]): Unit = {
      val w = new RedoLogWriter(new File(redoDir, s"log_$i.grl"), 1024, seq = i)
      recs.foreach(w.append)
      w.close()
    }
    writeLog(1, Seq(
      ins(1, "T1", Map("ID" -> "1", "NAME" -> "a")),
      ctl(2, "T1", Ops.Commit)))
    writeLog(2, Seq(
      ddl(3, "D1", "ALTER TABLE G.T ADD (EXTRA NUMBER(10,2))"),
      ctl(4, "D1", Ops.Commit),
      ins(5, "T2", Map("ID" -> "2", "NAME" -> "b", "EXTRA" -> "1.50")),
      ctl(6, "T2", Ops.Commit)))

    val url = "jdbc:derby:memory:ddlsink;create=true"
    val sink = graft.sinks.JdbcUpsertSink(url, "G_T", keyCols = Seq("ID"),
      dialect = graft.sinks.DerbyDialect)
    val history = SharedSpark.tempDir("redo_ddlk3_hist")
      .resolve("history.tsv")
    val reg = SchemaRegistry.replay(Map("G.T" -> baseSchema), Some(history))
    val q = ChangeStreams.assembleStream(
        spark.readStream.format("graft-redo")
          .option("maxFilesPerTrigger", 1)
          .load(redoDir.getAbsolutePath)
          .as[RedoRecord])
      .writeStream
      .option("checkpointLocation",
        SharedSpark.tempDir("redo_ddlk3_ckpt").toFile.getAbsolutePath)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.cdc.EmittedChange],
         _: Long) =>
        // per version slice, write with that slice's schema — the
        // second slice carries EXTRA and triggers the sink's ALTER
        reg.stampBatch(ds.collect().toSeq, Some(history))
          .groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, rows) =>
            val hasExtra = rows.exists(_._1.after.contains("EXTRA"))
            val frame =
              if (hasExtra)
                rows.map { case (c, _) =>
                  (c.after("ID").toLong, c.after("NAME"),
                    c.after.getOrElse("EXTRA", null), c.op,
                    c.commitScn, c.scn)
                }.toDF("ID", "NAME", "EXTRA", "op", "commitScn", "scn")
              else
                rows.map { case (c, _) =>
                  (c.after("ID").toLong, c.after("NAME"), c.op,
                    c.commitScn, c.scn)
                }.toDF("ID", "NAME", "op", "commitScn", "scn")
            sink.writeBatch(frame)
          }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000), "stream did not finish within 300s")

    val conn = java.sql.DriverManager.getConnection(url)
    val rs = conn.createStatement()
      .executeQuery("SELECT ID, NAME, EXTRA FROM G_T ORDER BY ID")
    val rows = Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getLong(1), r.getString(2), Option(r.getString(3))))
      .toList
    conn.close()
    assert(rows == List((1L, "a", None), (2L, "b", Some("1.50"))),
      s"sink target after DDL-evolved stream: $rows — row 1 predates the " +
        "DDL (EXTRA must be NULL), row 2 must land WITH the added column")
  }
}
