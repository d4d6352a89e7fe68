package graft.redo

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.RedoDump
import graft.cdc.{Ops, RedoRecord}

/** The diagnostic dump/extract tool (reference `OraRedoLogFile` +
  * incident writer/reader): filtering must be exact, and an extracted
  * transaction must be a SELF-CONTAINED log whose records round-trip
  * byte-equal through the normal reader — the property the incident
  * workflow (extract → attach → replay elsewhere) rests on.
  */
class RedoDumpSpec extends AnyFunSuite {

  private def rec(scn: Long, xid: String, op: Int, table: String = "S.T",
      img: Map[String, String] = Map("v" -> "x")): RedoRecord =
    RedoRecord(scn, 0, xid, op, table, s"r$scn", rollback = false,
      scn, Map.empty, img)

  private def writeLog(dir: File, name: String, seq: Int,
      recs: Seq[RedoRecord]): File = {
    val f = new File(dir, name)
    val w = new RedoLogWriter(f, 1024, seq = seq)
    recs.foreach(w.append)
    w.close()
    f
  }

  test("remote dump: filter and extract an incident straight off the " +
      "shipment socket") {
    val dir = graft.SharedSpark.tempDir("redodump_remote").toFile
    val txA = Seq(rec(10, "A", Ops.Insert), rec(12, "A", Ops.Update),
      rec(14, "A", Ops.Commit, table = "", img = Map.empty))
    val txB = Seq(rec(11, "B", Ops.Insert), rec(15, "B", Ops.Commit,
      table = "", img = Map.empty))
    writeLog(dir, "log_1.grl", 1, (txA ++ txB).sortBy(_.scn))
    val server = new ShipmentServer(dir)
    try {
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      // directory dump over the socket, xid-filtered
      assert(RedoDump.run(Array(base, "--xid", "A")).map(_.scn) ==
        Seq(10L, 12L, 14L))
      // single-log URL form (ends in .grl → no LIST round trip)
      assert(RedoDump.run(Array(s"$base/log_1.grl", "--xid", "B"))
        .map(_.scn) == Seq(11L, 15L))
      // remote incident extract: the standalone mini-log replays
      // byte-identically through the normal local reader
      val out = new File(graft.SharedSpark.tempDir("redodump_remote_out")
        .toFile, "incident.grl")
      val a = RedoDump.parse(Array(base, "--xid", "A"))
      val n = RedoDump.extractTo(a, RedoDump.logMeta(base), out.getPath)
      assert(n == 3)
      assert(RedoLogReader.records(out).toSeq == txA)
    } finally server.close()
  }

  test("xid/scn filters and the incident-extract roundtrip") {
    val dir = graft.SharedSpark.tempDir("redodump").toFile
    val txA = Seq(rec(10, "A", Ops.Insert), rec(12, "A", Ops.Update),
      rec(14, "A", Ops.Commit, table = ""))
    val txB = Seq(rec(11, "B", Ops.Insert), rec(15, "B", Ops.Commit,
      table = ""))
    writeLog(dir, "log_1.grl", 1, (txA ++ txB).sortBy(_.scn))

    // xid filter selects exactly transaction A, in log order
    val onlyA = RedoDump.run(Array(dir.getPath, "--xid", "A"))
    assert(onlyA.map(_.scn) == Seq(10L, 12L, 14L))
    assert(onlyA.forall(_.xid == "A"))

    // scn range filter
    val mid = RedoDump.run(Array(dir.getPath, "--scn", "11:14"))
    assert(mid.map(_.scn) == Seq(11L, 12L, 14L))

    // extract A as a standalone incident log — into a DIFFERENT
    // directory (the tool refuses the dumped dir: the extract inherits
    // the source's sequence number, and a duplicate (thread, seq)
    // would break the directory's continuity check); the normal reader
    // must return the identical records (the replay contract)
    val outDir = graft.SharedSpark.tempDir("redodump_out").toFile
    val out = new File(outDir, "incident_A.grl")
    val a = RedoDump.parse(Array(dir.getPath, "--xid", "A",
      "--extract", out.getPath))
    val n = RedoDump.extractTo(a,
      RedoDump.logMeta(new File(dir, "log_1.grl").getPath), out.getPath)
    assert(n == 3)
    val replayed = RedoLogReader.records(out).toSeq
    assert(replayed == onlyA,
      "extracted incident log must replay byte-identically")
    // and the extracted log is fully standalone: header present,
    // sequence inherited from the source
    val h = RedoLogReader.readHeader(out)
    assert(h.seq == 1 && h.firstScn == 10 && h.nextScn >= 14)

    // the in-source-dir extract is REFUSED (it would poison the
    // directory's per-thread sequence continuity for every consumer)
    intercept[IllegalArgumentException] {
      RedoDump.extractTo(a,
        RedoDump.logMeta(new File(dir, "log_1.grl").getPath),
        new File(dir, "incident_bad.grl").getPath)
    }
  }

  test("writer appearance is atomic: no .grl visible before close") {
    // the open-file guard (reference `OpenFileChecker`): the writer
    // works under an .inprogress name and renames at close, so a
    // directory listing can never admit a half-written segment
    val dir = graft.SharedSpark.tempDir("redodump_atomic").toFile
    val f = new File(dir, "log_1.grl")
    val w = new RedoLogWriter(f, 1024, seq = 1)
    w.append(rec(1, "A", Ops.Insert))
    assert(!f.exists, "target name must not exist before close()")
    assert(LocalRedoProvider.list(dir.getPath).isEmpty,
      ".grl listing must not see an in-progress write")
    w.close()
    assert(f.exists)
    assert(LocalRedoProvider.list(dir.getPath) == Seq("log_1.grl"))
    assert(!new File(dir, "log_1.grl.inprogress").exists,
      "temp name must be gone after the rename")
  }
}
