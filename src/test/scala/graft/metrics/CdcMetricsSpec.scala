package graft.metrics

import java.lang.management.ManagementFactory

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The metrics MBean must be readable through the PLATFORM MBean server
  * — the same path a JMX console or exporter uses against the
  * reference's connector metrics.
  */
class CdcMetricsSpec extends AnyFunSuite with SharedSpark {

  test("streaming progress surfaces through the JMX MBean") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val metrics = new CdcStreamMetrics("spec").install(spark)
    try {
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream.format("memory")
        .queryName("metrics_out").outputMode("append").start()
      input.addData(1L to 40L: _*)
      q.processAllAvailable()
      input.addData(41L to 100L: _*)
      q.processAllAvailable()
      q.stop()
      // listener events are delivered asynchronously after the batch
      val deadline = System.currentTimeMillis() + 20000
      while (metrics.getTotalRecordsCount < 100 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      assert(metrics.getTotalRecordsCount == 100)
      assert(metrics.getBatchesCompleted >= 2)
      assert(metrics.getLastBatchId >= 1)

      // read the same numbers through the platform MBean server
      val mbs = ManagementFactory.getPlatformMBeanServer
      val total = mbs.getAttribute(metrics.objectName, "TotalRecordsCount")
      assert(total.asInstanceOf[Long] == 100)
      assert(mbs.getAttribute(metrics.objectName, "ParsePerSecond")
        .asInstanceOf[Double] >= 0.0)
    } finally metrics.uninstall(spark)
  }

  test("queryName filter isolates one stream's numbers from its neighbors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // MBean 'filtered' watches ONLY query q_a; a neighbor query q_b on
    // the same session must not pollute it (the unfiltered default
    // aggregates everything — documented)
    val metrics = new CdcStreamMetrics("filtered", queryName = Some("q_a"))
      .install(spark)
    try {
      val inA = MemoryStream[Long]; val inB = MemoryStream[Long]
      val qA = inA.toDF().writeStream.format("memory")
        .queryName("q_a").outputMode("append").start()
      val qB = inB.toDF().writeStream.format("memory")
        .queryName("q_b").outputMode("append").start()
      inA.addData(1L to 10L: _*); inB.addData(1L to 90L: _*)
      qA.processAllAvailable(); qB.processAllAvailable()
      qA.stop(); qB.stop()
      val deadline = System.currentTimeMillis() + 20000
      while (metrics.getTotalRecordsCount < 10 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(metrics.getTotalRecordsCount == 10,
        s"q_b's rows leaked into q_a's MBean: ${metrics.getTotalRecordsCount}")
    } finally metrics.uninstall(spark)
  }

  test("re-install replaces the previous listener instead of stacking it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val first = new CdcStreamMetrics("restacked").install(spark)
    val second = new CdcStreamMetrics("restacked").install(spark)
    try {
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream.format("memory")
        .queryName("restack_out").outputMode("append").start()
      input.addData(1L to 5L: _*)
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 20000
      while (second.getTotalRecordsCount < 5 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(second.getTotalRecordsCount == 5)
      // the replaced instance's listener was removed — it saw nothing
      assert(first.getTotalRecordsCount == 0,
        "previous install's listener still receives events")
    } finally second.uninstall(spark)
  }
}
