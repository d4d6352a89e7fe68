package graft.metrics

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SharedSpark
import graft.cdc.{Ops, RedoRecord}
import graft.redo.RedoLogWriter

/** The initial-load and source-connection MBeans must be readable
  * through the PLATFORM MBean server while the work runs — the same
  * path a JMX console uses against the reference's
  * OraCdcInitialLoad / OraCdcSourceConnMgmt beans.
  */
class OpsMetricsSpec extends AnyFunSuite with SharedSpark {

  private val mbs = ManagementFactory.getPlatformMBeanServer

  test("initial-load progress reads from the platform MBean server " +
      "during s8-shaped per-table loads") {
    val m = new InitialLoadMetrics("spec_load").install()
    try {
      val sf = "/root/testdata/sf0.001"
      val out = SharedSpark.tempDir("ops_load_out").toString
      // two bounded per-table snapshot loads (the S8 select-then-send
      // shape); inside each select, the in-flight list must already
      // show the table — that visibility is what the list exists for
      for (t <- Seq("orders", "lineitem")) {
        val fqn = s"APP.${t.toUpperCase}"
        m.timedLoad(fqn) {
          assert(mbs.getAttribute(m.objectName, "CurrentSelectTableList")
            .asInstanceOf[Array[String]].contains(fqn),
            "in-flight select must be visible over JMX")
          val df = spark.read.parquet(s"$sf/$t.parquet")
          (df.count(), df)
        } { df =>
          assert(mbs.getAttribute(m.objectName, "CurrentSendTableList")
            .asInstanceOf[Array[String]].contains(fqn))
          df.write.mode("overwrite").parquet(s"$out/$t")
        }
      }
      val expected =
        spark.read.parquet(s"$sf/orders.parquet").count() +
          spark.read.parquet(s"$sf/lineitem.parquet").count()
      assert(mbs.getAttribute(m.objectName, "ProcessedRowsCount") == expected)
      assert(mbs.getAttribute(m.objectName, "SelectedRowsCount") == expected)
      assert(mbs.getAttribute(m.objectName, "ProcessedTableCount") == 2)
      assert(mbs.getAttribute(m.objectName, "LastProcessedTables")
        .asInstanceOf[Array[String]].toSeq ==
        Seq("APP.LINEITEM", "APP.ORDERS"), "most recent first")
      assert(mbs.getAttribute(m.objectName, "CurrentSelectTableList")
        .asInstanceOf[Array[String]].isEmpty)
      assert(mbs.getAttribute(m.objectName, "RowsPerSecond")
        .asInstanceOf[Double] >= 0.0)
      assert(mbs.getAttribute(m.objectName, "ElapsedTimeMillis")
        .asInstanceOf[Long] >= 0L)
    } finally m.uninstall()
  }

  test("a failing send leaves the table visible on the in-flight list") {
    val m = new InitialLoadMetrics("spec_load_fail").install()
    try {
      intercept[RuntimeException] {
        m.timedLoad("APP.BAD")((1L, ())) { _ =>
          throw new RuntimeException("sink down")
        }
      }
      assert(mbs.getAttribute(m.objectName, "CurrentSendTableList")
        .asInstanceOf[Array[String]].toSeq == Seq("APP.BAD"),
        "a stuck send is the operational signal the list exists for")
      assert(mbs.getAttribute(m.objectName, "ProcessedTableCount") == 0)
    } finally m.uninstall()
  }

  test("shipment MBean reads an agent's throughput off the platform server") {
    import java.io.File
    val dir = SharedSpark.tempDir("ops_ship").toFile
    val payload = new Array[Byte](64 * 1024)
    new java.util.Random(7).nextBytes(payload)
    Files.write(new File(dir, "log_1.grl").toPath, payload)
    val server = new graft.redo.ShipmentServer(dir)
    val m = new ShipmentMetrics("spec_ship", server).install()
    try {
      val dest = SharedSpark.tempDir("ops_ship_dst").toFile
      graft.redo.ShipmentClient.fetch(
        s"${graft.redo.RedoShipment.Scheme}127.0.0.1:${server.boundPort}" +
          new File(dir, "log_1.grl").getAbsolutePath, dest)
      // the agent counts a chunk after writing it and the file after the
      // last flush, so the fetch can return before the agent's handler
      // has recorded them: wait for it, then the counts are final
      eventually(timeout(10.seconds)) {
        assert(mbs.getAttribute(m.objectName, "ProcessedFilesCount") == 1)
        assert(mbs.getAttribute(m.objectName, "ProcessedBytesCount") ==
          payload.length.toLong)
        assert(mbs.getAttribute(m.objectName, "LastProcessedFile") == "log_1.grl")
      }
      assert(mbs.getAttribute(m.objectName, "MiBPerSecond")
        .asInstanceOf[Double] >= 0.0)
    } finally { m.uninstall(); server.close() }
  }

  test("source-connection MBean: committed logs, scn/seq watermarks, " +
      "scope list and out-of-scope count from a metricsName'd stream") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("ops_conn_grl").toFile
    def ins(scn: Long, table: String): RedoRecord =
      RedoRecord(scn, 0, "x1", Ops.Insert, table, s"r$scn",
        rollback = false, scn, Map.empty, Map("ID" -> scn.toString))
    for (i <- 1 to 3) {
      val w = new RedoLogWriter(new File(dir, s"log_$i.grl"), 512, seq = i)
      // one in-scope row, one out-of-scope row, then commit
      Seq(ins(i * 10L, "APP.KEEP"), ins(i * 10L + 1, "APP.DROP"),
        RedoRecord(i * 10L + 2, 0, "x1", Ops.Commit, "", "",
          rollback = false, 0L, Map.empty, Map.empty)).foreach(w.append)
      w.close()
    }

    val name = "spec_conn"
    val records = spark.readStream.format("graft-redo")
      .option("maxFilesPerTrigger", 1)
      .option("tables", "APP.KEEP")
      .option("metricsName", name)
      .load(dir.getAbsolutePath)
      .as[RedoRecord]
    val q = records.writeStream.format("memory").queryName("ops_conn_out")
      .option("checkpointLocation",
        SharedSpark.tempDir("ops_conn_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish")

    val on = new javax.management.ObjectName(
      s"graft.cdc:type=source-conn,name=$name")
    // offset commits land asynchronously after the last batch
    val deadline = System.currentTimeMillis() + 20000
    while (mbs.getAttribute(on, "ProcessedRedoLogsCount")
        .asInstanceOf[Int] < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(mbs.getAttribute(on, "ProcessedRedoLogsCount") == 3)
    assert(mbs.getAttribute(on, "LastProcessedRedoLog") == "log_3.grl")
    assert(mbs.getAttribute(on, "LastProcessedSequence") == 3L)
    assert(mbs.getAttribute(on, "LastProcessedScn")
      .asInstanceOf[Long] >= 32L, "nextScn of the last log's header")
    assert(mbs.getAttribute(on, "Last100ProcessedRedoLogs")
      .asInstanceOf[Array[String]].toSeq ==
      Seq("log_3.grl", "log_2.grl", "log_1.grl"), "most recent first")
    assert(mbs.getAttribute(on, "TablesInProcessing")
      .asInstanceOf[Array[String]].toSeq == Seq("APP.KEEP"))
    assert(mbs.getAttribute(on, "TableOutOfScopeCount") == 3L,
      "one APP.DROP row pruned per log")
    // the in-scope rows all arrived
    assert(spark.table("ops_conn_out")
      .filter(col("table") === "APP.KEEP").count() == 3)
  }
}
