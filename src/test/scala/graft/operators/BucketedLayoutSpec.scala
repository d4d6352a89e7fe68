package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Lifecycle of the bucketed star layout (the `ensureCuratedBase`
  * contract applied to storage layout): build-once, marker-gated reuse,
  * fingerprint-forced rebuild when the source data is regenerated in
  * place, and correct results served through the registered external
  * bucketed tables either way.
  */
class BucketedLayoutSpec extends AnyFunSuite with SharedSpark {

  test("build once, reuse via marker, rebuild on in-place regeneration") {
    import org.apache.spark.sql.functions._
    // private dataset dir so marker/fingerprint churn cannot interfere
    // with the real testdata artifacts
    val dir = SharedSpark.tempDir("bkt_spec_ds").toString
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("orders", "lineitem")) {
      val f = new java.io.File(s"$src/$t.parquet")
      Files.copy(f.toPath, Paths.get(s"$dir/$t.parquet"))
    }

    val (oT, lT) = BucketedLayout.ensureStarLayout(spark, dir)
    val rows1 = spark.table(oT).count()
    val expected = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(rows1 == expected, "bucketed orders must hold every source row")

    // reuse: the marker matches, so a second call must NOT rewrite the
    // artifact (mtime of the published marker is the witness)
    val marker = Paths.get(
      graft.Tables.artifactPath("graft-bkt1", dir) + "/_GRAFT_OK")
    val t1 = Files.getLastModifiedTime(marker)
    val (oT2, lT2) = BucketedLayout.ensureStarLayout(spark, dir)
    assert((oT2, lT2) == (oT, lT))
    assert(Files.getLastModifiedTime(marker) == t1,
      "matching marker must short-circuit the build")

    // the bucketed fact join returns the same rows as the raw join
    val viaBuckets = spark.table(oT)
      .join(spark.table(lT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey")).count()
      .orderBy(col("o_orderkey")).collect().toSeq
    val viaRaw = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey")).count()
      .orderBy(col("o_orderkey")).collect().toSeq
    assert(viaBuckets == viaRaw)

    // in-place regeneration: rewrite orders with one row dropped — the
    // fingerprint changes, the next ensure MUST rebuild and the
    // registered table must serve the new data (a stale artifact here
    // would silently serve deleted rows forever)
    val shrunk = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") =!= 1L).cache()
    val shrunkN = shrunk.count()
    val tmpDs = SharedSpark.tempDir("bkt_spec_regen").toString
    shrunk.coalesce(1).write.mode("overwrite").parquet(s"$tmpDs/orders.parquet")
    shrunk.unpersist(blocking = false)
    // the copied source is a single parquet FILE; the regenerated one is
    // a directory — both are legal dataset shapes for the fingerprint
    Files.delete(Paths.get(s"$dir/orders.parquet"))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$tmpDs/orders.parquet"),
      new java.io.File(s"$dir/orders.parquet"))

    val (oT3, _) = BucketedLayout.ensureStarLayout(spark, dir)
    assert(spark.table(oT3).count() == shrunkN,
      "regenerated source must force a rebuild (fingerprint mismatch)")
    assert(Files.getLastModifiedTime(marker) != t1, "marker must be restamped")
  }

  test("streamed appends keep the layout co-partitioned and exchange-free") {
    import org.apache.spark.sql.functions._
    // micro-batch ingest into STREAM-OWNED bucketed facts (foreachBatch's
    // write path; streamTable — no fingerprint lifecycle, the appends
    // ARE the data): after appends on BOTH sides, the orderkey join
    // must still plan with zero exchange — the property a one-time
    // layout write alone cannot give a GROWING table
    val src = "/root/testdata/sf0.001"
    val loc = SharedSpark.tempDir("bkt_stream_tbl").toString
    val oSrc = spark.read.parquet(s"$src/orders.parquet")
    val lSrc = spark.read.parquet(s"$src/lineitem.parquet")
    val oT = "grf_spec_stream_orders"
    val lT = "grf_spec_stream_lineitem"
    spark.sql(s"DROP TABLE IF EXISTS $oT")
    spark.sql(s"DROP TABLE IF EXISTS $lT")
    BucketedLayout.streamTable(spark, oT, s"$loc/orders",
      oSrc.schema, "o_orderkey")
    BucketedLayout.streamTable(spark, lT, s"$loc/lineitem",
      lSrc.schema, "l_orderkey")

    // micro-batches: batch 0 = the base slice, 1..2 = key-shifted
    // copies; the orders batches arrive with REVERSED column order —
    // appendBatch must align by name, not position
    (0 to 2).foreach { k =>
      BucketedLayout.appendBatch(spark, oT, "o_orderkey",
        oSrc.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + k * 10000000L)
          .select(oSrc.columns.reverse.map(col): _*))
      BucketedLayout.appendBatch(spark, lT, "l_orderkey",
        lSrc.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_orderkey", col("l_orderkey") + k * 10000000L))
    }
    // by-name alignment proof: a sample row's columns carry their own
    // values, not a positional scramble
    val sample = spark.table(oT)
      .filter(col("o_orderkey") < 10000000L).limit(1).collect()(0)
    val orig = oSrc.filter(col("o_orderkey") === sample.getLong(
      spark.table(oT).schema.fieldIndex("o_orderkey"))).collect()(0)
    assert(sample.getAs[Any]("o_custkey") == orig.getAs[Any]("o_custkey") &&
      sample.getAs[Any]("o_orderstatus") == orig.getAs[Any]("o_orderstatus"),
      "append scrambled column order")

    // appended keys join appended keys; base keys join base keys —
    // and the whole thing plans without an orderkey exchange
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(oT)
        .join(spark.table(lT), col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_orderkey") >= 10000000L).as("appended"))
        .agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
      assert(rows.getOrElse(true, 0L) > 0, "appended rows must join")
      assert(rows.getOrElse(false, 0L) > 0, "base rows must still join")
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning\\((?:o_orderkey|l_orderkey)#\\d+L?, \\d+\\)".r
        .findAllIn(plan).isEmpty,
        s"appended layout lost co-partitioning:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"join did not use the bucketed scan:\n$plan")
    }

    // —— compaction keeps the bucketed layout (the §2.21 × §2.56
    // maintenance contract): the appends above left one file per
    // touched bucket PER BATCH; compactBucketed must collapse them to
    // ≤ Buckets files with identical content AND the forced-SMJ join
    // must still plan exchange-free over the compacted files
    def dataFiles(sub: String): Seq[java.io.File] =
      new java.io.File(s"$loc/$sub").listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    val filesBefore = dataFiles("orders").size
    assert(filesBefore > BucketedLayout.Buckets,
      s"precondition: appends should have accreted files, saw $filesBefore")
    // the maintenance trigger reads the accretion off metadata alone
    val factorBefore = Compaction.bucketedFileFactor(spark, oT)
    assert(factorBefore > 1.0 &&
      factorBefore == filesBefore.toDouble / BucketedLayout.Buckets)
    val before = spark.table(oT).groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck"))
      .orderBy(col("o_orderkey")).collect().toSeq
    val nO = Compaction.compactBucketed(spark, oT)
    val nL = Compaction.compactBucketed(spark, lT)
    assert(nO <= BucketedLayout.Buckets && nL <= BucketedLayout.Buckets)
    assert(dataFiles("orders").size == nO,
      "old files must be gone after the swap")
    val after = spark.table(oT).groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("ck"))
      .orderBy(col("o_orderkey")).collect().toSeq
    assert(after == before, "compaction changed table content")
    assert(Compaction.bucketedFileFactor(spark, oT) <= 1.0,
      "trigger must read fully-compacted after the rewrite")

    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(oT)
        .join(spark.table(lT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning\\((?:o_orderkey|l_orderkey)#\\d+L?, \\d+\\)".r
        .findAllIn(plan).isEmpty,
        s"compaction lost co-partitioning:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"compacted join did not use the bucketed scan:\n$plan")
    }
  }

  test("appendMaintained keeps file counts bounded across many batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val loc = SharedSpark.tempDir("bkt_maint_tbl").toString
    val t = "grf_spec_maint_orders"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    BucketedLayout.streamTable(spark, t, s"$loc/orders",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType))), "o_orderkey")
    def files(): Int = new java.io.File(s"$loc/orders").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    // compact past 4 files (4/Buckets per bucket). Batches draw keys
    // from a FIXED 3-key set so the steady-state table occupies ≤3
    // buckets: 12 un-maintained appends would accrete ~36 files (one
    // per touched bucket per batch); a maintained loop must hover at
    // ≤ threshold + one batch's touched buckets, independent of the
    // number of batches.
    val trig = 4.0 / BucketedLayout.Buckets
    var fired = 0
    var peak = 0
    (1 to 12).foreach { b =>
      val batch = (0L to 2L).map(k => (k, b * 100L + k))
        .toDF("o_orderkey", "o_custkey")
      if (BucketedLayout.appendMaintained(spark, t, "o_orderkey", batch, trig))
        fired += 1
      peak = math.max(peak, files())
    }
    assert(fired >= 3, s"trigger should fire repeatedly, fired $fired times")
    assert(peak <= 8, s"file count not bounded: peak $peak")
    assert(spark.table(t).count() == 12 * 3)
    assert(spark.table(t).agg(sum("o_custkey")).head.getLong(0) ==
      (1 to 12).map(b => 3L * b * 100 + 3).sum)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
