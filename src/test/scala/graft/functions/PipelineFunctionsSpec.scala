package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Unit fixtures for the LLM-pipeline function layer: known-value hash
  * folds, shingles, simhash determinism, quantized vector math, and the
  * multimodal stub plumbing.
  */
class PipelineFunctionsSpec extends AnyFunSuite with SharedSpark {

  test("the polynomial-hash modulus has exactly one value everywhere") {
    // TextHash.P and TextFunctions.P are separate definitions (a val
    // alias would couple object initialization order); this guard is
    // the compile-independent link — desynchronizing them would
    // silently diverge every native kernel from the Column-API hashes
    // and every DuckDB oracle
    assert(graft.functions.TextHash.P == graft.functions.TextFunctions.P)
  }

  private def one[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    spark.range(1).select(c.as("v")).collect()(0).getAs[T]("v")
  }

  private def oneSeq[T](c: org.apache.spark.sql.Column): Seq[T] =
    one[scala.collection.Seq[T]](c).toSeq

  test("stringHash matches the documented fold ((0*31+c0)...)") {
    // 'abc': ((97*31)+98)*31+99 = 96354
    assert(one[Long](TextFunctions.stringHash(lit("abc"))) == 96354L)
  }

  test("tokens filters empty strings, shingles window correctly") {
    val toks = TextFunctions.tokens(lit("a  b c"))
    assert(oneSeq[String](toks) == Seq("a", "b", "c"))
    assert(oneSeq[String](TextFunctions.wordShingles(toks, 2)) ==
      Seq("a b", "b c"))
    // fewer tokens than n → empty, not a descending-sequence artifact
    assert(oneSeq[String](TextFunctions.wordShingles(
      TextFunctions.tokens(lit("solo")), 2)) == Seq.empty)
  }

  test("quantize/dot are exact integers") {
    val a = typedLit(Seq(0.5f, -0.25f))
    val b = typedLit(Seq(1.0f, 1.0f))
    assert(oneSeq[Long](VectorFunctions.quantize(a)) == Seq(500000L, -250000L))
    // 500000·1000000 + (−250000)·1000000 = 2.5e11 (exact in Long)
    assert(one[Long](VectorFunctions.dotQ(
      VectorFunctions.quantize(a), VectorFunctions.quantize(b))) == 250000000000L)
  }

  test("simhash16 is stable and within 16 bits") {
    val hs = TextFunctions.simHash16(
      transform(TextFunctions.tokens(lit("spark table spark")),
        t => TextFunctions.stringHash(t)))
    val v = one[Long](hs)
    assert(v >= 0 && v < 65536)
    assert(v == one[Long](hs)) // deterministic
  }

  test("PNG encode→decode roundtrip is pixel-exact (javax.imageio)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, 1234567L)
    val df = ids.toDF("doc_id")
      .select(col("doc_id"),
        udf((id: Long) => Multimodal.syntheticPng(id)).apply(col("doc_id"))
          .as("payload"))
    val out = Multimodal.decodePng(df).collect().sortBy(_.doc_id)
    assert(out.length == ids.length)
    for (d <- out) {
      val (w, h) = (Multimodal.imgWidth(d.doc_id), Multimodal.imgHeight(d.doc_id))
      assert(d.width == w && d.height == h)
      val grid = for { y <- 0 until h; x <- 0 until w } yield (x, y)
      assert(d.sum_r == grid.map { case (x, y) => Multimodal.red(d.doc_id, x, y).toLong }.sum)
      assert(d.sum_g == grid.map { case (x, y) => Multimodal.green(d.doc_id, x, y).toLong }.sum)
      assert(d.sum_b == grid.map { case (x, y) => Multimodal.blue(d.doc_id, x, y).toLong }.sum)
    }
  }

  test("box-filter resize matches the direct integer computation") {
    import spark.implicits._
    val df = Seq(7L).toDF("doc_id")
      .select(col("doc_id"),
        udf((id: Long) => Multimodal.syntheticPng(id)).apply(col("doc_id"))
          .as("payload"))
    val r = Multimodal.resizePng(df, target = 8).collect().head
    val (w, h) = (Multimodal.imgWidth(7L), Multimodal.imgHeight(7L))
    val expect = for { j <- 0 until 8; i <- 0 until 8 } yield {
      val (x0, x1) = (i * w / 8, (i + 1) * w / 8)
      val (y0, y1) = (j * h / 8, (j + 1) * h / 8)
      val block = for { y <- y0 until y1; x <- x0 until x1 }
        yield Multimodal.red(7L, x, y).toLong
      (block.sum / block.length).toInt
    }
    assert(r.out_w == 8 && r.out_h == 8)
    assert(r.pixels == expect)
  }

  test("WAV encode→decode roundtrip is sample-exact (javax.sound.sampled)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, 1234567L)
    val df = ids.toDF("doc_id")
      .select(col("doc_id"),
        udf((id: Long) => Multimodal.syntheticWav(id)).apply(col("doc_id"))
          .as("payload"))
    val out = Multimodal.decodeWav(df).collect().sortBy(_.doc_id)
    assert(out.length == ids.length)
    for (a <- out) {
      val n = Multimodal.audioFrames(a.doc_id)
      assert(a.n_samples == n && a.sample_rate == 8000)
      def s(ch: Int, t: Int) = Multimodal.audioSample(a.doc_id, ch, t)
      def energy(ch: Int) = (0 until n).map(t => s(ch, t).toLong * s(ch, t)).sum
      def zc(ch: Int) =
        (1 until n).count(t => (s(ch, t) >= 0) != (s(ch, t - 1) >= 0))
      def peak(ch: Int) = (0 until n).map(t => math.abs(s(ch, t))).max
      assert(a.energy0 == energy(0) && a.energy1 == energy(1))
      assert(a.zc0 == zc(0) && a.zc1 == zc(1))
      assert(a.peak0 == peak(0) && a.peak1 == peak(1))
    }
  }

  test("GIF encode→frame-sample roundtrip is frame- and pixel-exact") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, 1234567L)
    val df = ids.toDF("doc_id")
      .select(col("doc_id"),
        udf((id: Long) => Multimodal.syntheticGif(id)).apply(col("doc_id"))
          .as("payload"))
    val out = Multimodal.sampleFrames(df, step = 3).collect()
      .sortBy(f => (f.doc_id, f.frame_idx))
    val expect = ids.flatMap { id =>
      val n = Multimodal.vidFrames(id)
      (0 until n by 3).map { f =>
        val sum = (for {
          y <- 0 until Multimodal.VidH
          x <- 0 until Multimodal.VidW
        } yield Multimodal.gray(id, f, x, y).toLong).sum
        Multimodal.SampledFrame(id, f, n, sum)
      }
    }.sortBy(f => (f.doc_id, f.frame_idx))
    assert(out.toSeq == expect)
  }

  test("max_dup_count equals the groupBy-max reference on random arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    // empty, singleton, all-equal, and 500 random multisets with a
    // small value domain (forces collisions) and varied lengths
    val cases = Seq(Array.empty[Long], Array(5L), Array.fill(9)(3L)) ++
      (1 to 500).map(_ => Array.fill(rnd.nextInt(200))(rnd.nextInt(20).toLong))
    cases.foreach { a =>
      val expect =
        if (a.isEmpty) 0L
        else a.groupBy(identity).values.map(_.length).max.toLong
      assert(TextHash.maxDupCount(new GenericArrayData(a)) == expect,
        s"array ${a.toSeq}")
    }
  }
}
