package graft.redo

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.streaming.ChangeStreams

/** TCP redo shipment (S6): protocol roundtrip, containment, direct
  * DSv2 mining over `graft-ship://` (the DistributedTopologySpec shape
  * on the socket transport instead of ranged HTTP), agent-restart
  * reconnect, and the mid-transfer-kill → resume lifecycle of the
  * target-agent spool.
  */
class RedoShipmentSpec extends AnyFunSuite with SharedSpark {

  private def ins(scn: Long, id: Int, v: String): RedoRecord =
    RedoRecord(scn, 0, "x1", Ops.Insert, "APP.T", s"r$scn",
      rollback = false, scn * 100, Map.empty,
      Map("ID" -> id.toString, "V" -> v))

  private def writeLogs(dir: File): Unit = {
    val w = new RedoLogWriter(new File(dir, "log_1.grl"), blockSize = 512,
      seq = 1, thread = 0)
    Seq(ins(10, 1, "alpha"), ins(11, 2, "beta"),
      RedoRecord(12, 0, "x1", Ops.Commit, "", "", rollback = false, 0L,
        Map.empty, Map.empty)).foreach(w.append)
    w.close()
    val w2 = new RedoLogWriter(new File(dir, "log_2.grl"), blockSize = 512,
      seq = 2, thread = 0)
    Seq(ins(20, 3, "gamma"),
      RedoRecord(21, 0, "x1", Ops.Commit, "", "", rollback = false, 0L,
        Map.empty, Map.empty)).foreach(w2.append)
    w2.close()
  }

  test("provider protocol: list, stat, positional reads, containment") {
    val dir = SharedSpark.tempDir("ship_proto").toFile
    writeLogs(dir)
    // a non-.grl file must not appear in listings
    Files.write(new File(dir, "README.txt").toPath, "hi".getBytes)
    val server = new ShipmentServer(dir)
    try {
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      val p = RedoStorageProvider.forPath(base)
      assert(p.isInstanceOf[ShipRedoProvider])
      assert(p.list(base) == Seq("log_1.grl", "log_2.grl"))

      val local = Files.readAllBytes(new File(dir, "log_1.grl").toPath)
      val src = p.open(s"$base/log_1.grl")
      try {
        assert(src.length == local.length)
        // several windows over ONE connection (the multiplexed shape an
        // executor's block scan produces)
        val buf = new Array[Byte](100)
        src.readFully(0, buf, 0, 100)
        assert(buf.toSeq == local.take(100).toSeq)
        src.readFully(local.length - 64L, buf, 0, 64)
        assert(buf.take(64).toSeq == local.takeRight(64).toSeq)
        // a bad window errors but does NOT kill the connection
        val thrown = intercept[java.io.IOException] {
          src.readFully(local.length - 10L, buf, 0, 100)
        }
        assert(thrown.getMessage.contains("window"))
        src.readFully(4, buf, 0, 32)
        assert(buf.take(32).toSeq == local.slice(4, 36).toSeq)
      } finally src.close()

      // containment: paths outside the shipment root are refused
      val esc = intercept[java.io.IOException] {
        val s2 = p.open(s"${RedoShipment.Scheme}127.0.0.1:" +
          s"${server.boundPort}/etc/passwd")
        try s2.length finally s2.close()
      }
      assert(esc.getMessage.contains("outside"))
    } finally server.close()
  }

  test("DSv2 mines directly over the shipment socket; reconnects across " +
      "an agent restart") {
    val dir = SharedSpark.tempDir("ship_mine").toFile
    writeLogs(dir)
    val server = new ShipmentServer(dir)
    import spark.implicits._
    try {
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      def mine(): Seq[(Int, String)] = {
        val records = spark.read.format("graft-redo").option("path", base)
          .load().as[RedoRecord]
        ChangeStreams.assembleBatch(records)
          .select(element_at(col("after"), "ID").cast("int").as("id"),
            element_at(col("after"), "V").as("v"))
          .orderBy(col("id")).as[(Int, String)].collect().toSeq
      }
      assert(mine() == Seq((1, "alpha"), (2, "beta"), (3, "gamma")))

      // agent restart on the SAME port: the next mining pass must
      // reconnect instead of failing the scan
      val port = server.boundPort
      server.close()
      // the OS can hold the port briefly after close — retry the bind
      def bindRetry(left: Int): ShipmentServer =
        try new ShipmentServer(dir, port = port)
        catch {
          case e: java.net.BindException if left > 0 =>
            Thread.sleep(200); bindRetry(left - 1)
        }
      val server2 = bindRetry(25)
      try assert(mine() == Seq((1, "alpha"), (2, "beta"), (3, "gamma")))
      finally server2.close()
    } finally {
      try server.close() catch { case _: Exception => }
    }
  }

  test("paths with spaces survive the wire (URL-encoded fields)") {
    val parent = SharedSpark.tempDir("ship sp").toFile
    val dir = new File(parent, "redo logs")
    assert(dir.mkdir())
    writeLogs(dir)
    val server = new ShipmentServer(dir)
    try {
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      val p = new ShipRedoProvider
      assert(p.list(base) == Seq("log_1.grl", "log_2.grl"))
      val local = Files.readAllBytes(new File(dir, "log_1.grl").toPath)
      val src = p.open(s"$base/log_1.grl")
      try {
        assert(src.length == local.length)
        val buf = new Array[Byte](64)
        src.readFully(0, buf, 0, 64)
        assert(buf.toSeq == local.take(64).toSeq)
      } finally src.close()
      val dest = SharedSpark.tempDir("ship_sp_dst").toFile
      val got = ShipmentClient.fetch(s"$base/log_2.grl", dest)
      assert(Files.readAllBytes(got.toPath).toSeq ==
        Files.readAllBytes(new File(dir, "log_2.grl").toPath).toSeq)
    } finally server.close()
  }

  test("thread-per-connection: concurrent readers each get exact bytes") {
    // the executor fan-out shape: many partitions each open their own
    // connection and window-read the same archive concurrently
    val dir = SharedSpark.tempDir("ship_conc").toFile
    writeLogs(dir)
    val server = new ShipmentServer(dir)
    try {
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      val local = Files.readAllBytes(new File(dir, "log_1.grl").toPath)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          try {
            val p = new ShipRedoProvider
            val src = p.open(s"$base/log_1.grl")
            try {
              val buf = new Array[Byte](128)
              var r = 0
              while (r < 50) {
                val pos = (i * 37 + r * 101) % (local.length - 128)
                src.readFully(pos.toLong, buf, 0, 128)
                if (buf.toSeq != local.slice(pos, pos + 128).toSeq)
                  throw new AssertionError(s"reader $i window $pos mismatched")
                r += 1
              }
            } finally src.close()
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errs.isEmpty, s"concurrent readers failed: ${errs.peek()}")
    } finally server.close()
  }

  test("protocol robustness: malformed frames and unknown commands " +
      "error without wedging the server") {
    val dir = SharedSpark.tempDir("ship_fuzz").toFile
    writeLogs(dir)
    val server = new ShipmentServer(dir)
    try {
      import java.io.{DataInputStream, DataOutputStream}
      import java.net.Socket
      def rawRequest(bytes: Array[Byte]): Int = {
        val s = new Socket("127.0.0.1", server.boundPort)
        try {
          s.setSoTimeout(10000)
          val out = new DataOutputStream(s.getOutputStream)
          out.write(bytes); out.flush()
          try new DataInputStream(s.getInputStream).readInt()
          catch { case _: java.io.IOException => -1 } // dropped = also fine
        } finally s.close()
      }
      def frame(cmd: String): Array[Byte] = {
        val b = cmd.getBytes("UTF-8")
        java.nio.ByteBuffer.allocate(4 + b.length).putInt(b.length).put(b).array()
      }
      // unknown command and short commands → error status, not a hang
      assert(rawRequest(frame("NUKE /")) == 1)
      assert(rawRequest(frame("READ")) == 1)
      assert(rawRequest(frame("SHIP onlyonearg")) == 1)
      assert(rawRequest(frame("READ f notanumber 10")) == 1)
      // oversized frame length → connection dropped, server lives
      rawRequest(java.nio.ByteBuffer.allocate(4).putInt(1 << 30).array())
      // negative frame length → same
      rawRequest(java.nio.ByteBuffer.allocate(4).putInt(-5).array())
      // after all of that the server still serves a real client
      val base = s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
        dir.getAbsolutePath
      assert(new ShipRedoProvider().list(base) ==
        Seq("log_1.grl", "log_2.grl"))
    } finally server.close()
  }

  test("spool-and-mine composition: the target agent feeds a live " +
      "miner; half-shipped files stay invisible to the listing") {
    // the reference's deployment: TargetDatabaseShipmentAgent pulls
    // archives to a local spool NEXT TO the miner, which lists the
    // spool. The .inprogress convention is what makes the composition
    // safe — the miner's listing must never see a partial .grl.
    val src = SharedSpark.tempDir("ship_comp_src").toFile
    writeLogs(src)
    val spool = SharedSpark.tempDir("ship_comp_spool").toFile
    val server = new ShipmentServer(src)
    import spark.implicits._
    try {
      def ship(name: String): Unit = ShipmentClient.fetch(
        s"${RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
          new File(src, name).getAbsolutePath, spool)
      def mined(): Seq[Int] = {
        val records = spark.read.format("graft-redo")
          .option("path", spool.getAbsolutePath).load().as[RedoRecord]
        ChangeStreams.assembleBatch(records)
          .select(element_at(col("after"), "ID").cast("int").as("id"))
          .orderBy(col("id")).as[Int].collect().toSeq
      }
      // a stranded partial from a killed transfer must not be listed —
      // seed one by hand under a name that never completes (a real
      // partial is always a true byte prefix; this one only exists to
      // be invisible)
      Files.write(new File(spool, "log_9.grl.inprogress").toPath,
        Array[Byte](1, 2, 3))
      ship("log_1.grl")
      assert(mined() == Seq(1, 2), "first shipped log mines")
      ship("log_2.grl")
      assert(mined() == Seq(1, 2, 3), "both shipped logs mine")
    } finally server.close()
  }

  test("target-agent spool: mid-transfer kill leaves a resumable " +
      ".inprogress; the next fetch ships only the tail") {
    val dir = SharedSpark.tempDir("ship_spool_src").toFile
    // a multi-MB payload so the throttled first attempt is killable
    val big = new File(dir, "log_9.grl")
    val payload = new Array[Byte](3 * 1024 * 1024)
    new java.util.Random(42).nextBytes(payload)
    Files.write(big.toPath, payload)
    val dest = SharedSpark.tempDir("ship_spool_dst").toFile

    // first attempt: ~1 MiB/s throttle, killed once >= 256 KiB landed
    val slow = new ShipmentServer(dir, throttleBytesPerSec = 1024 * 1024)
    val url = s"${RedoShipment.Scheme}127.0.0.1:${slow.boundPort}" +
      big.getAbsolutePath
    val partial = new File(dest, "log_9.grl.inprogress")
    @volatile var firstErr: Throwable = null
    val t = new Thread(() => {
      try ShipmentClient.fetch(url, dest)
      catch { case e: Throwable => firstErr = e }
    })
    t.start()
    val deadline = System.currentTimeMillis() + 30000
    while (partial.length() < 256 * 1024 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(partial.length() >= 256 * 1024, "transfer never got going")
    slow.close() // mid-transfer kill
    t.join(30000)
    assert(firstErr != null, "killed transfer must surface an error")
    val resumedFrom = partial.length()
    assert(resumedFrom > 0 && resumedFrom < payload.length,
      s"partial should be strictly mid-file, got $resumedFrom")
    assert(!new File(dest, "log_9.grl").exists(),
      "half-shipped file must never appear under its final name")

    // second attempt: fresh unthrottled agent; must resume, not restart
    val fast = new ShipmentServer(dir)
    try {
      val url2 = s"${RedoShipment.Scheme}127.0.0.1:${fast.boundPort}" +
        big.getAbsolutePath
      val got = ShipmentClient.fetch(url2, dest)
      assert(Files.readAllBytes(got.toPath).toSeq == payload.toSeq,
        "resumed file must be byte-identical")
      assert(!partial.exists(), "inprogress must be renamed away")
      // the agent counts a chunk after writing it and the file after the
      // last flush, so the fetch can return before the agent's handler
      // has recorded the tail: wait for it, then the counts are final
      eventually(timeout(10.seconds)) {
        assert(fast.bytesShipped.get() == payload.length - resumedFrom,
          s"resume must ship only the tail: shipped ${fast.bytesShipped.get()}" +
            s" of ${payload.length} with ${resumedFrom} already local")
        assert(fast.filesShipped.get() == 1 &&
          fast.lastShippedFile == "log_9.grl")
      }
      // an already-complete fetch is a no-op (no new bytes)
      assert(ShipmentClient.fetch(url2, dest).isFile)
      assert(fast.bytesShipped.get() == payload.length - resumedFrom)
    } finally fast.close()
  }
}
