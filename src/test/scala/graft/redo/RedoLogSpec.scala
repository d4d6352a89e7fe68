package graft.redo

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}

class RedoLogSpec extends AnyFunSuite {

  private def rec(scn: Long, xid: String, op: Int,
      after: Map[String, String] = Map.empty,
      before: Map[String, String] = Map.empty,
      rollback: Boolean = false,
      multi: Seq[Map[String, String]] = Nil): RedoRecord =
    RedoRecord(scn, 0, xid, op, if (op == Ops.Commit || op == Ops.Rollback) ""
      else "T.TAB", scn.toString, rollback, scn * 1000, before, after, multi)

  private def tmpDir(): File = SharedSpark.tempDir("grl").toFile

  test("writer/reader round-trip preserves every field") {
    val dir = tmpDir()
    val f = new File(dir, "log_1.grl")
    val records = Seq(
      rec(1, "tx1", Ops.Insert, after = Map("a" -> "1", "b" -> "x")),
      rec(2, "tx1", Ops.Update, after = Map("a" -> "2"), before = Map("a" -> "1")),
      rec(3, "tx1", Ops.Delete, before = Map("a" -> "2", "n" -> null)),
      rec(4, "tx1", Ops.MultiInsert,
        multi = Seq(Map("r" -> "1"), Map("r" -> "2"), Map("r" -> "3"))),
      rec(5, "tx2", Ops.Update, after = Map("z" -> "9"), rollback = true),
      rec(6, "tx1", Ops.Commit),
      rec(7, "tx2", Ops.Rollback))
    val w = new RedoLogWriter(f, blockSize = 512, seq = 1, thread = 0)
    records.foreach(w.append)
    w.close()

    val got = RedoLogReader.records(f).toSeq
    assert(got === records)
    val hdr = RedoLogReader.readHeader(f)
    assert(hdr.blockSize === 512 && hdr.seq === 1)
    assert(hdr.firstScn === 1 && hdr.nextScn === 8)
  }

  test("records spanning many blocks reassemble (payload >> blockSize)") {
    val dir = tmpDir()
    val f = new File(dir, "log_1.grl")
    val big = (1 to 200).map(i => s"col_$i" -> ("v" * 50 + i)).toMap // ~11 KB
    val records = Seq(
      rec(1, "tx", Ops.Insert, after = big),
      rec(2, "tx", Ops.Insert, after = Map("small" -> "1")),
      rec(3, "tx", Ops.Commit))
    val w = new RedoLogWriter(f, blockSize = 512)
    records.foreach(w.append)
    w.close()
    assert(f.length() > 20 * 512) // really multi-block
    assert(RedoLogReader.records(f).toSeq === records)
  }

  test("checksum corruption is detected") {
    val dir = tmpDir()
    val f = new File(dir, "log_1.grl")
    val w = new RedoLogWriter(f, blockSize = 512)
    (1 to 50).foreach(i => w.append(rec(i, "tx", Ops.Insert,
      after = Map("k" -> ("payload" * 10 + i)))))
    w.close()
    // flip one payload byte in block 2
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.seek(2 * 512 + 100)
    val b = raf.read()
    raf.seek(2 * 512 + 100)
    raf.write(b ^ 0x5a)
    raf.close()
    val ex = intercept[java.io.IOException] {
      RedoLogReader.records(f).toSeq
    }
    assert(ex.getMessage.contains("checksum"))
  }

  /** A written log cut to its first `keep(length)` bytes. */
  private def cut(records: Seq[RedoRecord], keep: Long => Long): File = {
    val f = new File(tmpDir(), "log_1.grl")
    val w = new RedoLogWriter(f, blockSize = 512)
    records.foreach(w.append)
    w.close()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(keep(raf.length())) finally raf.close()
    f
  }

  test("a log cut mid-block fails naming the file, never drops its tail") {
    val f = cut((1 to 50).map(i => rec(i, "tx", Ops.Insert,
      after = Map("k" -> ("payload" * 10 + i)))), _ - 100)
    val ex = intercept[java.io.IOException](RedoLogReader.records(f).toSeq)
    assert(ex.getMessage.contains(f.getPath) && ex.getMessage.contains("torn"),
      ex.getMessage)
  }

  test("a log missing the last block of a multi-block record fails naming the file") {
    val big = (1 to 200).map(i => s"col_$i" -> ("v" * 50 + i)).toMap // ~11 KB
    val f = cut(Seq(rec(1, "tx", Ops.Insert, after = Map("a" -> "1")),
      rec(2, "tx", Ops.Insert, after = big)), _ - 512)
    val ex = intercept[java.io.IOException](RedoLogReader.records(f).toSeq)
    assert(ex.getMessage.contains(f.getPath) && ex.getMessage.contains("truncated"),
      ex.getMessage)
  }

  test("RBA positioning starts at the first record of a later block") {
    val dir = tmpDir()
    val f = new File(dir, "log_1.grl")
    val records = (1 to 100).map(i => rec(i, "tx", Ops.Insert,
      after = Map("k" -> ("x" * 40 + i))))
    val w = new RedoLogWriter(f, blockSize = 512)
    records.foreach(w.append)
    w.close()
    val fromBlock5 = RedoLogReader.recordsFrom(f, 5, 0).toSeq
    assert(fromBlock5.nonEmpty && fromBlock5.size < records.size)
    // a suffix of the full sequence, with no torn first record
    assert(records.endsWith(fromBlock5))
  }

  test("DDL records transit GRL and round-trip (T9)") {
    val f = new File(tmpDir(), "ddl.grl")
    val w = new RedoLogWriter(f)
    w.append(rec(1, "tx1", Ops.Ddl,
      after = Map("ddl" -> "ALTER TABLE T.TAB ADD (C NUMBER(9))")))
    w.append(rec(2, "tx1", Ops.Commit))
    w.close()
    val back = RedoLogReader.records(f).toSeq
    assert(back.head.op == Ops.Ddl)
    assert(back.head.after("ddl") == "ALTER TABLE T.TAB ADD (C NUMBER(9))")
  }

  test("session-audit records (5.19 analogue) transit GRL and round-trip (P7)") {
    val f = new File(tmpDir(), "audit.grl")
    val w = new RedoLogWriter(f)
    val fields = Map("username" -> "SCOTT", "osUsername" -> "oracle",
      "hostname" -> "db01", "auditSessionId" -> "4242", "clientId" -> "app7")
    w.append(rec(1, "tx1", Ops.Audit, after = fields))
    w.append(rec(2, "tx1", Ops.Insert, after = Map("a" -> "1")))
    w.append(rec(3, "tx1", Ops.Commit))
    w.close()
    val back = RedoLogReader.records(f).toSeq
    assert(back.head.op == Ops.Audit)
    assert(back.head.after === fields)
  }

  test("u16 overflow fails loudly at write, not silently at read") {
    val f = new File(tmpDir(), "ssn.grl")
    val w = new RedoLogWriter(f)
    intercept[IllegalArgumentException] {
      w.append(RedoRecord(1, 70000, "tx1", Ops.Insert, "T.TAB", "r",
        rollback = false, 0, Map.empty, Map("a" -> "1")))
    }
  }

  test("start RBA past EOF yields an empty iterator (log-rotation restart)") {
    val f = new File(tmpDir(), "eof.grl")
    val w = new RedoLogWriter(f)
    w.append(rec(1, "tx1", Ops.Insert, after = Map("a" -> "1")))
    w.close()
    assert(RedoLogReader.recordsFrom(f, startBlock = 99, startOffset = 0).isEmpty)
    // corrupt in-block offset: clear diagnosis, not an opaque copyOfRange
    val ex = intercept[IllegalArgumentException] {
      RedoLogReader.recordsFrom(f, startBlock = 1, startOffset = 1 << 20)
    }
    assert(ex.getMessage.contains("out of range"))
  }

  test("log topology listing orders by seq and detects gaps") {
    val dir = tmpDir()
    Seq(1, 2, 3).foreach { s =>
      val w = new RedoLogWriter(new File(dir, s"log_$s.grl"), 512, seq = s)
      w.append(rec(s * 10, "tx", Ops.Insert, after = Map("a" -> "1")))
      w.close()
    }
    val logs = RedoLogReader.listLogs(dir)
    assert(logs.map(_._2.seq) === Seq(1, 2, 3))

    new File(dir, "log_2.grl").delete()
    val ex = intercept[IllegalStateException] { RedoLogReader.listLogs(dir) }
    assert(ex.getMessage.contains("gap"))
  }
}

class RedoOffsetSpec extends AnyFunSuite {
  import graft.sources.{RedoFileOffset, RedoFilePartition, RedoMicroBatchStream}
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  // (path, thread, seq)
  private val files = Seq(("a", 1, 3), ("b", 2, 3), ("c", 1, 4))
  private def stream(fs: Seq[(String, Int, Int)], maxFiles: Int = Int.MaxValue) =
    new RedoMicroBatchStream(() => fs, Nil, Nil, maxFiles)

  test("offsets are per-thread seq watermarks, not list positions") {
    val s = stream(files)
    assert(s.latestOffset() === RedoFileOffset(Map(1 -> 4, 2 -> 3)))
    // thread 2's log arrives LATE, after thread 1's seq 4 was consumed:
    // a position-count offset would skip it; coordinates must not
    val consumed = RedoFileOffset(Map(1 -> 4))
    val planned = s.planInputPartitions(consumed, s.latestOffset())
      .map(_.asInstanceOf[RedoFilePartition].file).toSeq
    assert(planned === Seq("b"))
  }

  test("offset JSON roundtrips") {
    val o = RedoFileOffset(Map(1 -> 4, 2 -> 3))
    assert(RedoFileOffset.parse(o.json()) === o)
    assert(RedoFileOffset.parse("{}") === RedoFileOffset.empty)
  }

  test("maxFiles admission advances watermarks in (seq, thread) order") {
    val s = stream(files, maxFiles = 1)
    val o1 = s.latestOffset(RedoFileOffset.empty, ReadLimit.maxFiles(1))
      .asInstanceOf[RedoFileOffset]
    assert(o1 === RedoFileOffset(Map(1 -> 3)))
    val o2 = s.latestOffset(o1, ReadLimit.maxFiles(1)).asInstanceOf[RedoFileOffset]
    assert(o2 === RedoFileOffset(Map(1 -> 3, 2 -> 3)))
    val o3 = s.latestOffset(o2, ReadLimit.maxFiles(1)).asInstanceOf[RedoFileOffset]
    assert(o3 === RedoFileOffset(Map(1 -> 4, 2 -> 3)))
    // allAvailable probe ignores the cap
    assert(s.latestOffset(RedoFileOffset.empty, ReadLimit.allAvailable())
      === RedoFileOffset(Map(1 -> 4, 2 -> 3)))
  }

  test("retention eating unconsumed sequences aborts instead of skipping") {
    // watermark 5, logs 6-7 archived away before consumption, listing
    // resumes (contiguously!) at 8 — admitting it would silently lose
    // seqs 6-7; the reference aborts its mining range the same way
    val s = stream(Seq(("h", 1, 8), ("i", 1, 9)))
    val wm = RedoFileOffset(Map(1 -> 5))
    val ex = intercept[IllegalArgumentException] {
      s.latestOffset(wm, ReadLimit.allAvailable())
    }
    assert(ex.getMessage.contains("6..7"))
    // a FRESH start (no watermark for the thread) accepts any first seq
    assert(s.latestOffset(RedoFileOffset.empty, ReadLimit.allAvailable())
      === RedoFileOffset(Map(1 -> 9)))
  }

  test("a file vanishing between admission and planning fails the batch") {
    // end offset admitted seqs 3-4 against an earlier listing; by plan
    // time seq 3's file is gone — committing the batch anyway would
    // record the data as read
    val s = stream(Seq(("c", 1, 4))) // seq 3 vanished
    val ex = intercept[IllegalArgumentException] {
      s.planInputPartitions(RedoFileOffset(Map(1 -> 2)), RedoFileOffset(Map(1 -> 4)))
    }
    assert(ex.getMessage.contains("removed between admission and planning"))
    // with the full listing present the same plan succeeds
    val ok = stream(Seq(("b", 1, 3), ("c", 1, 4)))
      .planInputPartitions(RedoFileOffset(Map(1 -> 2)), RedoFileOffset(Map(1 -> 4)))
    assert(ok.length === 2)
  }

  test("sequence 0 is visible to a fresh stream (unseen-thread watermark is open)") {
    // a 0-based writer's first log must not be filtered by a 0 default
    val s = stream(Seq(("z", 1, 0), ("a", 1, 1)))
    assert(s.latestOffset(RedoFileOffset.empty, ReadLimit.allAvailable())
      === RedoFileOffset(Map(1 -> 1)))
    val planned = s.planInputPartitions(RedoFileOffset.empty,
      RedoFileOffset(Map(1 -> 1)))
      .map(_.asInstanceOf[RedoFilePartition].file).toSeq
    assert(planned === Seq("z", "a"))
  }

  test("listing a missing redo directory is an error, not an empty archive") {
    val ex = intercept[java.io.IOException] {
      LocalRedoProvider.list("/nonexistent/graft-redo-dir")
    }
    assert(ex.getMessage.contains("cannot list redo directory"))
  }
}

class RedoSourceSpec extends AnyFunSuite with SharedSpark {

  private def writeLogs(dir: File): Seq[RedoRecord] = {
    def rr(scn: Long, xid: String, op: Int, table: String,
        after: Map[String, String], before: Map[String, String] = Map.empty,
        multi: Seq[Map[String, String]] = Nil): RedoRecord =
      RedoRecord(scn, 0, xid, op, table, scn.toString, rollback = false,
        scn, before, after, multi)
    // row images wider than 4 columns are hash maps, whose key and value
    // iteration orders only agree when both come from one pass — these
    // pin every column's name to its own value through the scan
    def wide(n: Int, tag: String): Map[String, String] =
      (1 to n).map(i => s"C$i" -> s"$tag$i").toMap
    val f1 = Seq(
      rr(1, "a", Ops.Insert, "S.T1", Map("v" -> "1")),
      rr(2, "a", Ops.Update, "S.T2", wide(6, "new"), before = wide(5, "old")),
      rr(3, "a", Ops.MultiInsert, "S.T2", Map.empty,
        multi = Seq(wide(5, "m1_"), wide(7, "m2_"))),
      rr(4, "a", Ops.Commit, "", Map.empty))
    val f2 = Seq(
      rr(5, "b", Ops.Insert, "S.T1", Map("v" -> "3")),
      rr(6, "b", Ops.Delete, "S.T1", Map.empty),
      rr(7, "b", Ops.Commit, "", Map.empty))
    Seq((1, f1), (2, f2)).foreach { case (seq, recs) =>
      val w = new RedoLogWriter(new File(dir, s"log_$seq.grl"), 1024, seq = seq)
      recs.foreach(w.append)
      w.close()
    }
    f1 ++ f2
  }

  test("batch read returns all records across log files in order") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("grlsrc").toFile
    val expected = writeLogs(dir)
    val got = spark.read.format("graft-redo").load(dir.getAbsolutePath)
      .as[RedoRecord].collect().sortBy(_.scn).toSeq
    assert(got === expected)
  }

  test("table wildcard (P1) and op (P2) pruning happen in the scan") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("grlsrc").toFile
    writeLogs(dir)
    val t1 = spark.read.format("graft-redo")
      .option("tables", "s.t1").load(dir.getAbsolutePath).as[RedoRecord].collect()
    // 3 T1 changes + 2 control records pass
    assert(t1.count(_.table == "S.T1") === 3)
    assert(t1.forall(r => r.table == "S.T1" || r.table.isEmpty))

    val wild = spark.read.format("graft-redo")
      .option("tables", "s.%").load(dir.getAbsolutePath).as[RedoRecord].collect()
    assert(wild.count(_.table.nonEmpty) === 5)

    val insertsOnly = spark.read.format("graft-redo")
      .option("ops", Ops.Insert.toString).load(dir.getAbsolutePath)
      .as[RedoRecord].collect()
    assert(insertsOnly.forall(r =>
      r.op == Ops.Insert || r.op == Ops.Commit || r.op == Ops.Rollback))
    assert(insertsOnly.count(_.op == Ops.Insert) === 2)
  }

  test("a bad ops or maxFilesPerTrigger option is rejected by name") {
    val dir = SharedSpark.tempDir("grlsrc").toFile
    writeLogs(dir)
    def scanWith(option: String, v: String): String =
      intercept[IllegalArgumentException](spark.read.format("graft-redo")
        .option(option, v).load(dir.getAbsolutePath).collect()).getMessage
    // a limit below 1 admits no file; a stream would idle without error
    Seq("0", "-3", "abc", "", "2.5").foreach { v =>
      val m = scanWith("maxFilesPerTrigger", v)
      assert(m.contains("maxFilesPerTrigger") && m.contains(s"'$v'"), m)
    }
    // an unknown or control code matches no data record: every row dropped
    Seq("4", "1,x", s"${Ops.Insert},${Ops.Commit}", "-1").foreach { v =>
      val m = scanWith("ops", v)
      assert(m.contains("ops") && m.contains(s"'$v'"), m)
    }
  }

  test("session-audit records bypass table AND op filters (P7 survival)") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("grlsrc").toFile
    // the audit vector is stamped with a table name that does NOT match
    // the filter — it must still pass, or every P7 pseudo-column in the
    // transaction silently nulls out
    val recs = Seq(
      RedoRecord(1, 0, "a", Ops.Audit, "GRAFT.EVENTS", "1", rollback = false,
        1, Map.empty, Map("username" -> "SCOTT")),
      RedoRecord(2, 0, "a", Ops.Insert, "S.T1", "2", rollback = false,
        2, Map.empty, Map("v" -> "1")),
      RedoRecord(3, 0, "a", Ops.Commit, "", "3", rollback = false,
        3, Map.empty, Map.empty))
    val w = new RedoLogWriter(new File(dir, "log_1.grl"), 1024, seq = 1)
    recs.foreach(w.append)
    w.close()
    val got = spark.read.format("graft-redo")
      .option("tables", "s.t1").option("ops", Ops.Insert.toString)
      .load(dir.getAbsolutePath).as[RedoRecord].collect()
    assert(got.count(_.op == Ops.Audit) === 1)
    assert(got.count(_.op == Ops.Insert) === 1)
  }

  test("micro-batch stream consumes logs file-by-file with offsets") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("grlsrc").toFile
    val expected = writeLogs(dir)
    val q = spark.readStream.format("graft-redo")
      .option("maxFilesPerTrigger", 1)
      .load(dir.getAbsolutePath)
      .writeStream.format("memory").queryName("redo_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish in time")
    val got = spark.table("redo_stream").as[RedoRecord]
      .collect().sortBy(_.scn).toSeq
    assert(got === expected)
    assert(q.recentProgress.map(_.numInputRows).sum === expected.size)
  }
}
