package graft.operators


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the one-file-per-bucket property of the star-layout BUILD on a
  * MULTI-SPLIT input under AQE — the shape where the insertInto route
  * measurably fragments without `withBucketAlignedWrite` (Compaction's
  * 191→153 evidence) and where a planner change could silently break
  * the CTAS route the same way: q3/q5's sort-free bucketed joins and
  * the scan's file-count economics both ride on exactly one sorted
  * file per bucket.
  */
class CtasAlignmentSpec extends AnyFunSuite with SharedSpark {

  test("star-layout build writes exactly one file per non-empty bucket " +
      "from a multi-split input") {
    // dataset dir whose facts are 8-part directories — 8 map splits
    // feed each bucket repartition (the fragmentation-prone shape)
    val src = "/root/testdata/sf0.001"
    val dir = SharedSpark.tempDir("ctas_align_ds").toString
    for (t <- Seq("orders", "lineitem")) {
      spark.read.parquet(s"$src/$t.parquet").repartition(8)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val (oT, lT) = BucketedLayout.ensureStarLayout(spark, dir)
    val path = graft.Tables.artifactPath("graft-bkt1", dir)
    def files(sub: String): Int = new java.io.File(s"$path/$sub").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(files("orders") <= BucketedLayout.Buckets,
      s"orders build fragmented: ${files("orders")} files")
    assert(files("lineitem") <= BucketedLayout.Buckets,
      s"lineitem build fragmented: ${files("lineitem")} files")
    assert(Compaction.bucketedFileFactor(spark, oT) <= 1.0 &&
      Compaction.bucketedFileFactor(spark, lT) <= 1.0,
      "the build must land fully compacted")
    // content intact through the multi-split build
    assert(spark.table(oT).count() ==
      spark.read.parquet(s"$dir/orders.parquet").count())
  }
}
