package graft.redo

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}

/** S6: the same GRL bytes must parse identically through every
  * transport — local file, in-memory (the ASM/SSH/SMB stand-in), and
  * ranged HTTP (a real remote byte source).
  */
class RedoStorageSpec extends AnyFunSuite with SharedSpark {

  private def rec(scn: Long, xid: String, op: Int,
      after: Map[String, String] = Map.empty): RedoRecord =
    RedoRecord(scn, 0, xid, op, if (op == Ops.Commit) "" else "T.TAB",
      scn.toString, false, scn * 1000, Map.empty, after, Nil)

  private def writeLogs(dir: File): Seq[RedoRecord] = {
    val records = Seq(
      rec(1, "tx1", Ops.Insert, Map("a" -> "1")),
      rec(2, "tx1", Ops.Update, Map("a" -> "2")),
      rec(3, "tx1", Ops.Commit))
    val w = new RedoLogWriter(new File(dir, "log_1.grl"), blockSize = 512, seq = 1)
    records.foreach(w.append)
    w.close()
    val more = Seq(rec(9, "tx2", Ops.Insert, Map("b" -> "3")), rec(10, "tx2", Ops.Commit))
    val w2 = new RedoLogWriter(new File(dir, "log_2.grl"), blockSize = 512, seq = 2)
    more.foreach(w2.append)
    w2.close()
    records ++ more
  }

  test("in-memory provider parses identically to local files") {
    val dir = SharedSpark.tempDir("grl-mem").toFile
    val expected = writeLogs(dir)
    val mem = new InMemoryRedoProvider(
      dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap)

    val logs = RedoLogReader.listLogs(mem, "mem:/logs")
    assert(logs.map(_._2.seq) === Seq(1, 2))
    val got = logs.flatMap { case (path, _) =>
      val src = mem.open(path)
      try RedoLogReader.recordsFrom(src, path, 1, 0).toSeq finally src.close()
    }
    assert(got === expected)
  }

  test("in-memory provider surfaces sequence gaps like the local scan") {
    val dir = SharedSpark.tempDir("grl-gap").toFile
    writeLogs(dir)
    val w = new RedoLogWriter(new File(dir, "log_9.grl"), blockSize = 512, seq = 9)
    w.append(rec(20, "tx", Ops.Commit)); w.close()
    val mem = new InMemoryRedoProvider(
      dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap)
    val e = intercept[IllegalStateException] {
      RedoLogReader.listLogs(mem, "mem:/logs")
    }
    assert(e.getMessage.contains("gap"))
  }

  test("HTTP range provider reads headers and records remotely") {
    val dir = SharedSpark.tempDir("grl-http").toFile
    val expected = writeLogs(dir)
    val bytes = dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/logs/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val name = x.getRequestURI.getPath.stripPrefix("/logs/")
        if (name == "index") {
          val body = bytes.keys.toSeq.sorted.mkString("\n").getBytes("UTF-8")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        } else bytes.get(name) match {
          case None => x.sendResponseHeaders(404, -1); x.close()
          case Some(b) =>
            val range = Option(x.getRequestHeaders.getFirst("Range"))
            range match {
              case Some(r) =>
                val Array(from, to) = r.stripPrefix("bytes=").split("-").map(_.toLong)
                val slice = java.util.Arrays.copyOfRange(b, from.toInt, (to + 1).toInt)
                x.getResponseHeaders.set("Content-Range", s"bytes $from-$to/${b.length}")
                x.sendResponseHeaders(206, slice.length)
                x.getResponseBody.write(slice); x.close()
              case None =>
                // deliberately HEAD-without-length: exercises the
                // provider's Content-Range fallback
                if (x.getRequestMethod == "HEAD") x.sendResponseHeaders(200, -1)
                else { x.sendResponseHeaders(200, b.length); x.getResponseBody.write(b) }
                x.close()
            }
        }
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/logs"
      val http = new HttpRedoProvider
      assert(RedoStorageProvider.forPath(s"$base/log_1.grl").isInstanceOf[HttpRedoProvider])
      val logs = RedoLogReader.listLogs(http, base)
      assert(logs.map(_._2.seq) === Seq(1, 2))
      val got = logs.flatMap { case (path, _) =>
        val src = http.open(path)
        try RedoLogReader.recordsFrom(src, path, 1, 0).toSeq finally src.close()
      }
      assert(got === expected)

      // end-to-end: the DSv2 source reads the same URL on executors
      val df = spark.read.format("graft-redo").option("path", base).load()
      assert(df.count() === expected.size)
      assert(df.selectExpr("max(scn)").head().getLong(0) === 10L)
    } finally server.stop(0)
  }
}
