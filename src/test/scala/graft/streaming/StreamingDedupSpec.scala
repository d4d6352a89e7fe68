package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** §2.7 streaming dedup: exactly-once per key over a change stream via
  * dropDuplicatesWithinWatermark — duplicate deliveries (source retries,
  * rewinds within an in-progress commit) collapse inside the watermark,
  * the state store evicts beyond it.
  */
class StreamingDedupSpec extends AnyFunSuite with SharedSpark {

  test("duplicate change deliveries collapse within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)] // (scn, rowId, tsMillis)

    val deduped = input.toDF().toDF("scn", "rowId", "ts")
      .withColumn("ts", timestamp_millis(col("ts")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("scn", "rowId")

    val run = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val base = 1700000000000L
      // batch 1 delivers scn 1..3; scn 2 delivered twice (retry)
      input.addData((1L, "r1", base), (2L, "r2", base + 1000),
        (2L, "r2", base + 1000), (3L, "r3", base + 2000))
      run.processAllAvailable()
      // batch 2 re-delivers scn 3 (rewind within in-progress commit) + scn 4:
      // the duplicate must collapse against STREAMING STATE, not the batch
      input.addData((3L, "r3", base + 2000), (4L, "r4", base + 3000))
      run.processAllAvailable()
      val got = spark.table("dedup_out").select("scn").as[Long]
        .collect().sorted.toSeq
      assert(got === Seq(1L, 2L, 3L, 4L))
    } finally run.stop()
  }
}
