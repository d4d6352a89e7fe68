package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** K6: the progress notifier writes the last processed batch to a file. */
class LastProcessedNotifierSpec extends AnyFunSuite with SharedSpark {

  test("notifier records the last fully processed micro-batch") {
    import spark.implicits._
    val path = SharedSpark.tempFile("last_seq", ".json").toString
    val listener = new LastProcessedNotifier(path)
    spark.streams.addListener(listener)
    try {
      implicit val sq = spark.sqlContext
      val input = MemoryStream[Int]
      input.addData(1, 2, 3)
      val q = input.toDS().writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(180000), "stream did not finish in time")
      // listener events are async — poll briefly
      var tries = 0
      var content = ""
      while (tries < 50 && !content.contains("numInputRows")) {
        Thread.sleep(100)
        content = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
        tries += 1
      }
      assert(content.contains("\"batchId\":"))
      assert(content.contains("\"numInputRows\":3"))
    } finally spark.streams.removeListener(listener)
  }
}
