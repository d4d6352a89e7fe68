package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The epoch-shuffle shard packer: deterministic, token-balanced,
  * permutation-fresh across seeds, and physically written as one
  * sequentially-readable directory per shard.
  */
class ShardQueriesSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("assignment is deterministic and covers every document exactly once") {
    val a = ShardQueries.assignShards(spark, dir)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = ShardQueries.assignShards(spark, dir)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(a.length.toLong === nDocs)
    assert(a.map(_._1).distinct.length === a.length)
    assert(a.forall(t => t._2 >= 0 && t._2 < ShardQueries.ShardCount))
  }

  test("assignment equals the single-threaded reference packer exactly") {
    val assigned = ShardQueries.assignShards(spark, dir).persist()
    val rows = assigned.select("doc_id", "n_tok", "h", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assigned.unpersist()
    // reference: sort by (h, doc_id), accumulate, cut at target — the
    // rule itself, independent of fixture shape
    val n = ShardQueries.ShardCount
    val allTok = rows.map(_._2).sum
    val target = math.max(1L, (allTok + n - 1) / n)
    var cum = 0L
    val expect = rows.sortBy(t => (t._3, t._1)).map { case (id, tok, _, _) =>
      val sh = math.min(n - 1L, cum / target); cum += tok; id -> sh
    }.toMap
    rows.foreach { case (id, _, _, sh) =>
      assert(sh === expect(id), s"doc $id: got shard $sh, expect ${expect(id)}")
    }
    // contiguous prefix packing: a shard closes at the first doc that
    // crosses its target boundary, so mass < target + max single doc
    val maxDoc = rows.map(_._2).max
    rows.groupBy(_._4).foreach { case (sh, g) =>
      val t = g.map(_._2).sum
      assert(t < target + maxDoc, s"shard $sh over budget: $t vs $target+$maxDoc")
    }
  }

  test("a different seed yields a genuinely different permutation") {
    val e0 = ShardQueries.assignShards(spark, dir, seed = ShardQueries.Seed)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val e1 = ShardQueries.assignShards(spark, dir, seed = ShardQueries.Seed + 1)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(e0.keySet === e1.keySet)
    val moved = e0.count { case (id, sh) => e1(id) != sh }
    // a fresh permutation re-buckets the vast majority of documents
    assert(moved > e0.size / 2, s"only $moved of ${e0.size} docs moved across epochs")
  }

  test("ids beyond 2^31 (hash-colliding pairs) still assign deterministically") {
    // doc_id and doc_id + 2^31 share the same permutation hash h — the
    // review-found ambiguity; the (h, doc_id) tiebreak must make the
    // assignment total, engine-stable and equal to the reference packer
    import spark.implicits._
    val tmp = SharedSpark.tempDir("graft-shard-64b").toString
    try {
      // collision pairs beyond 2^31 AND negative ids (the oracle's
      // positivized modulus chain must equal Spark's pmod on them)
      val ids = (0L until 64L).flatMap(i =>
        Seq(i, i + 2147483648L, -i - 1))
      ids.map(id => (id, ("tok " * (1 + (id % 7)).toInt).trim,
          "en", "src0", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = ShardQueries.assignShards(spark, tmp)
        .select("doc_id", "n_tok", "h", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // every id ≥ 2^31 collides with its mod-2^31 partner (the
      // scenario is exercised); negative ids hash into their own keys
      val byH = rows.filter(_._1 >= 0).groupBy(_._3)
      assert(byH.values.forall(_.length == 2) && byH.size == 64)
      // Spark's h equals the ORACLE's arithmetic — sign-following %
      // then the (x % m + m) % m positivization — for every id,
      // negative included (the cross-engine claim, restated in Scala)
      val m = 4294967296L
      rows.foreach { case (id, _, h, _) =>
        val oracleH = (((id % 2147483648L) *
          ShardQueries.multiplier(ShardQueries.Seed)) % m + m) % m
        assert(h === oracleH, s"doc $id: spark h=$h oracle h=$oracleH")
      }
      val n = ShardQueries.ShardCount
      val allTok = rows.map(_._2).sum
      val target = math.max(1L, (allTok + n - 1) / n)
      var cum = 0L
      val expect = rows.sortBy(t => (t._3, t._1)).map { case (id, tok, _, _) =>
        val sh = math.min(n - 1L, cum / target); cum += tok; id -> sh
      }.toMap
      rows.foreach { case (id, _, _, sh) => assert(sh === expect(id)) }
      // and twice more: stable across runs
      val again = ShardQueries.assignShards(spark, tmp)
        .select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      rows.foreach { case (id, _, _, sh) => assert(again(id) === sh) }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("assignment does not depend on input partitioning (scan invariance)") {
    // the gate path reads the parquet table; re-deriving from an
    // adversarially repartitioned copy must agree (the PrefixSum
    // invariance property composed through the shard rule)
    val tmp = SharedSpark.tempDir("graft-shard-inv").toString
    try {
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(13, col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val a = ShardQueries.assignShards(spark, dir)
        .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = ShardQueries.assignShards(spark, tmp)
        .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(a === b)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("writeShards lays out one directory per shard, permuted order within") {
    val out = SharedSpark.tempDir("graft-shards").toString
    try {
      ShardQueries.writeShards(spark, dir, out)
      val dirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName)
      assert(dirs.toSet === (0 until ShardQueries.ShardCount).map(i => s"shard=$i").toSet)
      // read one shard back: rows arrive in permuted (h) order
      val rows = spark.read.parquet(s"$out/shard=0").select("h").collect().map(_.getLong(0))
      assert(rows.nonEmpty)
      assert(rows.toSeq === rows.sorted.toSeq, "shard file must stream in h order")
      // the written set round-trips to the logical assignment
      val written = spark.read.parquet(out)
        .select(col("doc_id"), col("shard").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val logical = ShardQueries.assignShards(spark, dir)
        .select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(written === logical)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}
