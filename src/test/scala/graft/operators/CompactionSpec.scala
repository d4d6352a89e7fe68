package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class CompactionSpec extends AnyFunSuite with SharedSpark {

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))

  test("compaction shrinks file count, preserves rows, sizes by target") {
    import spark.implicits._
    val base = SharedSpark.tempDir("compact").toString
    // accrete 40 tiny files — the micro-batch-per-file shape
    (1 to 40).foreach { b =>
      (1L to 500L).map(i => (b.toLong * 10000 + i, s"row$i"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(s"$base/small")
    }
    val src = spark.read.parquet(s"$base/small")
    assert(parquetFiles(s"$base/small").size >= 40)
    val inBytes = Compaction.inputBytes(src)
    assert(inBytes > 0, "input size must come from the file index")
    // target a quarter of the input per file → ~4 output files
    val n = Compaction.compact(src, s"$base/big", targetFileBytes = inBytes / 4)
    assert(n >= 3 && n <= 5, s"expected ~4 target-sized files, got $n")
    assert(parquetFiles(s"$base/big").size == n)
    val out = spark.read.parquet(s"$base/big")
    assert(out.count() == 40 * 500)
    assert(out.agg(sum("id")).head.getLong(0) ==
      src.agg(sum("id")).head.getLong(0))
  }

  test("clustered compaction keeps range-disjoint files") {
    import spark.implicits._
    val base = SharedSpark.tempDir("compactc").toString
    (1L to 20000L).map(i => ((i * 2654435761L) % 100000, i))
      .toDF("k", "v")
      .repartition(20).write.mode("overwrite").parquet(s"$base/src")
    val src = spark.read.parquet(s"$base/src")
    Compaction.compact(src, s"$base/dst",
      targetFileBytes = Compaction.inputBytes(src) / 4,
      clusterBy = Some("k"))
    // per-file min/max of k must not overlap (range partitioning)
    val ranges = parquetFiles(s"$base/dst").map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min("k"), max("k")).head
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1,
        s"overlapping key ranges across files: $a vs $b")
      case _ =>
    }
  }

  private def dataFiles(loc: String): Seq[java.io.File] =
    new java.io.File(loc).listFiles().toSeq.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("multi-column bucket spec compacts to one file per bucket") {
    import spark.implicits._
    val loc = SharedSpark.tempDir("compact_mc").toString
    val t = "cpt_mc_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (k1 BIGINT, k2 BIGINT, v BIGINT) USING parquet
         |CLUSTERED BY (k1, k2) SORTED BY (k1, k2) INTO 8 BUCKETS
         |LOCATION '$loc'""".stripMargin)
    // several small appends — each leaves ~1 file per (task, bucket)
    (1 to 5).foreach { b =>
      (1L to 400L).map(i => (i % 37, i % 11, b * 1000L + i))
        .toDF("k1", "k2", "v")
        .repartition(8, col("k1"), col("k2"))
        .write.mode("append").insertInto(t)
    }
    val before = dataFiles(loc).size
    assert(before > 8, s"appends should fragment the table, got $before")
    val sumBefore = spark.table(t).agg(sum("v")).head.getLong(0)
    val cntBefore = spark.table(t).count()

    val n = Compaction.compactBucketed(spark, t)
    assert(n <= 8, s"at most one file per bucket, got $n")
    assert(dataFiles(loc).size == n)
    assert(spark.table(t).count() == cntBefore)
    assert(spark.table(t).agg(sum("v")).head.getLong(0) == sumBefore)
    // every output file must hold exactly ONE bucket's rows, and that
    // bucket must be the one its _000NN name claims — hash() is the
    // same Murmur3(seed=42) bucketBy computes ids with
    val idRe = "_(\\d{5})".r
    dataFiles(loc).foreach { f =>
      val claimed = idRe.findFirstMatchIn(f.getName)
        .getOrElse(fail(s"no bucket id in ${f.getName}")).group(1).toInt
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select(pmod(hash(col("k1"), col("k2")), lit(8)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      assert(ids == Seq(claimed),
        s"${f.getName} claims bucket $claimed but holds $ids")
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def mkBucketed(t: String, loc: String): (Long, Long) = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, v BIGINT) USING parquet
         |CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS
         |LOCATION '$loc'""".stripMargin)
    (1L to 1000L).map(i => (i % 17, i)).toDF("k", "v")
      .repartition(4, col("k"))
      .write.mode("append").insertInto(t)
    (spark.table(t).count(),
      spark.table(t).agg(sum("v")).head.getLong(0))
  }

  test("journal replay finishes a crashed swap's deletes (post-rename " +
      "crash window)") {
    val loc = SharedSpark.tempDir("compact_jr").toString
    val t = "cpt_jr_t"
    val (base, sumV) = mkBucketed(t, loc)

    // simulate the crash window AFTER all renames: the fresh files are
    // in place (played by the current files), the superseded old set
    // (the crash- copies) was not yet deleted — every row duplicated,
    // journal present with an already-gone tmp dir
    val freshNames = dataFiles(loc).map(_.getName)
    val dupes = dataFiles(loc).map { f =>
      val dupe = new java.io.File(loc, f.getName.replace("part-", "crash-"))
      java.nio.file.Files.copy(f.toPath, dupe.toPath)
      dupe.getName
    }
    val goneTmp = loc + ".tmp-gone"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(loc, Compaction.JournalName),
      (goneTmp +: (freshNames.map("NEW " + _) ++ dupes.map("OLD " + _)))
        .mkString("\n").getBytes("UTF-8"))
    spark.catalog.refreshTable(t)
    assert(spark.table(t).count() == 2 * base,
      "crashed-swap state must show the duplicates")

    // re-running compaction must roll the journal forward (delete the
    // exact superseded set) BEFORE snapshotting — not compact dupes in
    Compaction.compactBucketed(spark, t)
    assert(spark.table(t).count() == base)
    assert(spark.table(t).agg(sum("v")).head.getLong(0) == sumV)
    assert(!new java.io.File(loc, Compaction.JournalName).exists(),
      "journal must be consumed")
    assert(Compaction.bucketedFileFactor(spark, t) <= 1.0)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("journal replay completes the renames first (pre-rename crash " +
      "window loses no rows)") {
    val loc = SharedSpark.tempDir("compact_jp").toString
    val t = "cpt_jp_t"
    val (base, sumV) = mkBucketed(t, loc)

    // simulate a crash BETWEEN the journal's commit point and the first
    // rename: the fresh compacted set still sits in the tmp dir (played
    // by byte-copies of the current files under fresh names), the old
    // set is untouched. Recovery must move the fresh set IN before any
    // delete — replaying the deletes alone would drop the only copy.
    val tmpDir = new java.io.File(loc + ".tmp-pending")
    java.nio.file.Files.createDirectories(tmpDir.toPath)
    val oldNames = dataFiles(loc).map(_.getName)
    val freshNames = dataFiles(loc).map { f =>
      val fresh = f.getName.replace("part-", "fresh-")
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(tmpDir, fresh).toPath)
      fresh
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(loc, Compaction.JournalName),
      (tmpDir.toString +: (freshNames.map("NEW " + _) ++
        oldNames.map("OLD " + _))).mkString("\n").getBytes("UTF-8"))

    Compaction.compactBucketed(spark, t)
    assert(spark.table(t).count() == base, "pre-rename recovery lost rows")
    assert(spark.table(t).agg(sum("v")).head.getLong(0) == sumV)
    assert(!new java.io.File(loc, Compaction.JournalName).exists())
    assert(!tmpDir.exists(), "recovered tmp dir must be cleaned up")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a false delete of a still-existing OLD file fails LOUDLY and " +
      "keeps the journal — silent false would leave duplicates forever") {
    // HDFS-style filesystems signal delete failure by RETURN VALUE,
    // exactly like the renames the swap already checks: a local-FS stub
    // that refuses deletes stands in for that mode
    import org.apache.hadoop.fs.Path
    val dir = SharedSpark.tempDir("cpt_del").toFile
    val stuck = new java.io.File(dir, "stuck.parquet")
    java.nio.file.Files.write(stuck.toPath, Array[Byte](1, 2, 3))
    val gone = new java.io.File(dir, "gone.parquet") // never created
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def delete(p: Path, recursive: Boolean): Boolean = false
    }
    fs.initialize(fs.getUri, new org.apache.hadoop.conf.Configuration())
    val journal = new Path(dir.getAbsolutePath, Compaction.JournalName)
    // existing file + false delete → error that names the journal
    val ex = intercept[java.io.IOException] {
      Compaction.deleteOldVerified(fs,
        new Path(stuck.getAbsolutePath), journal)
    }
    assert(ex.getMessage.contains(Compaction.JournalName))
    assert(stuck.exists())
    // missing file + false delete → success (nothing left to drive)
    Compaction.deleteOldVerified(fs, new Path(gone.getAbsolutePath), journal)
  }
}
