package graft.sources

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files
import java.sql.DriverManager

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.redo.RedoLogWriter
import graft.streaming.ChangeStreams

/** Distributed archived-log topology (ref
  * `OraCdcDistributedV$ArchivedLogImpl.java`, Oracle LogMiner Figure 22-1
  * "remote configuration"): redo is MINED from one endpoint (a standby /
  * log-shipping target) while the DICTIONARY comes from a different
  * endpoint (the primary, where the schema lives).
  *
  * In graft the two endpoints are structurally separate components, so
  * the topology is a composition, not a special mode: the `graft-redo`
  * DSv2 source reads any `RedoStorageProvider` URL (the mining
  * endpoint), and `DictionaryReader` types the stream from any JDBC
  * connection (the dictionary endpoint). This spec wires redo-over-HTTP
  * (standby stand-in) + Derby dictionary (primary stand-in) end-to-end
  * and proves the assembled stream types against the PRIMARY's schema.
  */
class DistributedTopologySpec extends AnyFunSuite with SharedSpark {

  test("mine redo from one endpoint, dictionary from another") {
    // --- standby stand-in: GRL logs served over ranged HTTP ---
    val dir = SharedSpark.tempDir("grl-dist").toFile
    val w = new RedoLogWriter(new File(dir, "log_1.grl"), blockSize = 512,
      seq = 1, thread = 0)
    def ins(scn: Long, empno: Int, ename: String, sal: String) =
      RedoRecord(scn, 0, "d1", Ops.Insert, "APP.EMP", s"r$scn",
        rollback = false, scn * 1000, Map.empty,
        Map("EMPNO" -> empno.toString, "ENAME" -> ename, "SAL" -> sal))
    Seq(ins(10, 7839, "KING", "5000.00"), ins(11, 7902, "FORD", "3000.00"),
      RedoRecord(12, 0, "d1", Ops.Commit, "", "", rollback = false, 0L,
        Map.empty, Map.empty)).foreach(w.append)
    w.close()
    val bytes = dir.listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath)).toMap

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/standby/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val name = x.getRequestURI.getPath.stripPrefix("/standby/")
        if (name == "index") {
          val body = bytes.keys.toSeq.sorted.mkString("\n").getBytes("UTF-8")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body); x.close()
        } else bytes.get(name) match {
          case None => x.sendResponseHeaders(404, -1); x.close()
          case Some(b) =>
            Option(x.getRequestHeaders.getFirst("Range")) match {
              case Some(r) =>
                val Array(from, to) =
                  r.stripPrefix("bytes=").split("-").map(_.toLong)
                val slice =
                  java.util.Arrays.copyOfRange(b, from.toInt, (to + 1).toInt)
                x.getResponseHeaders.set("Content-Range",
                  s"bytes $from-$to/${b.length}")
                x.sendResponseHeaders(206, slice.length)
                x.getResponseBody.write(slice); x.close()
              case None =>
                x.sendResponseHeaders(200, b.length)
                x.getResponseBody.write(b); x.close()
            }
        }
      }
    })
    server.start()

    // --- primary stand-in: the dictionary lives in a Derby database ---
    val conn = DriverManager.getConnection(
      "jdbc:derby:memory:disttopo;create=true")
    try {
      conn.createStatement().execute("""CREATE TABLE APP.EMP (
        EMPNO NUMERIC(4) NOT NULL PRIMARY KEY,
        ENAME VARCHAR(10),
        SAL NUMERIC(7,2))""")
      val td = DictionaryReader.readTable(conn, "APP", "EMP")
      assert(td.keyType === "PK" && td.keyCols === Seq("EMPNO"))

      import spark.implicits._

      // mine from the standby URL; type with the primary's dictionary
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/standby"
      val records = spark.read.format("graft-redo").option("path", base)
        .load().as[RedoRecord]
      val assembled = ChangeStreams.assembleBatch(records)
      val typed = assembled.select(td.valueSchema.fields.map(f =>
        element_at(col("after"), f.name).cast(f.dataType).as(f.name)): _*)

      assert(typed.schema.fields.map(f => f.name -> f.dataType).toSeq ===
        td.valueSchema.fields.map(f => f.name -> f.dataType).toSeq)
      val rows = typed.orderBy(col("EMPNO")).collect()
      assert(rows.map(_.getShort(0)).toSeq === Seq(7839, 7902))
      assert(rows.map(_.getString(1)).toSeq === Seq("KING", "FORD"))
      assert(rows.map(_.getDecimal(2).doubleValue()).toSeq ===
        Seq(5000.0, 3000.0))
    } finally {
      server.stop(0)
      conn.close()
    }
  }
}
