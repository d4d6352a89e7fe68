package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The kernel bindings compute the same values in generated code as in
  * interpreted evaluation, on seeded-random inputs with NULLs: every
  * rebound codec, text-hash and vector kernel, plus the bloom probe and
  * the z-order interleave, runs once under `CODEGEN_ONLY` (whole-stage
  * codegen on) and once under `NO_CODEGEN` (whole-stage codegen off, so
  * each call is evaluated reflectively), and the rows must be equal.
  */
class KernelBindingSpec extends AnyFunSuite with SharedSpark {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("l2", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("s", StringType),
    StructField("s2", StringType), StructField("b", BinaryType),
    StructField("fs", ArrayType(FloatType, containsNull = false)),
    StructField("hs", ArrayType(LongType, containsNull = false)),
    StructField("hs2", ArrayType(LongType, containsNull = false)),
    StructField("toks", ArrayType(StringType, containsNull = false))))

  private def rows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    // one value in ten is NULL
    def orNull(v: => Any): Any = if (rnd.nextInt(10) == 0) null else v
    def word(): String = Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(5)).toChar).mkString
    def hashes(): Seq[Long] = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong)
    val dim = 1 + rnd.nextInt(8)
    (0 until n).map { _ =>
      Row(orNull(rnd.nextLong()), orNull(rnd.nextLong()),
        orNull(rnd.nextInt(100000) - 50000), orNull((rnd.nextDouble() - 0.5) * 2e6),
        orNull(rnd.nextFloat() * 200 - 100),
        orNull(Seq.fill(rnd.nextInt(5))(word()).mkString(" ")), orNull(word()),
        orNull(Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)),
        orNull(Seq.fill(dim)(rnd.nextFloat() * 2 - 1)),
        orNull(hashes()), orNull(hashes()), orNull(Seq.fill(rnd.nextInt(9))(word())))
    }
  }

  private val filter: Array[Byte] = {
    val words = new Array[Long](4)
    Seq(3L, 5L, -8L).foreach(BloomKernel.set(words, _, 4))
    BloomKernel.toFilterBytes(words, 4)
  }

  private def kernels: Seq[Column] = {
    import OracleFunctions._, TextHashExpressions._, VectorNative._
    val (l, l2, i, d, f) = (col("l"), col("l2"), col("i"), col("d"), col("f"))
    val (s, s2, b, hs, toks) = (col("s"), col("s2"), col("b"), col("hs"), col("toks"))
    val micros = pmod(l, lit(4102444800000000L)) // 1970 … 2100
    val q = quantize_native(col("fs"))
    Seq(
      oranumber_to_long(oranumber_from_long(l)),
      oranumber_to_double(oranumber_from_long(l)),
      oranumber_to_decimal(oranumber_from_decimal(d.cast("decimal(18,4)")), 18, 4),
      oranumber_to_decimal(oranumber_from_decimal(l.cast("decimal(38,0)")), 38, 0),
      oradate_to_timestamp(oratimestamp_from_micros(timestamp_micros(micros))),
      oratstz_micros(oratstz_encode(micros, pmod(i, lit(1561)) - 720)),
      oratstz_offset_minutes(oratstz_encode(micros, pmod(i, lit(1561)) - 720)),
      orarowid(l, i, l2, i),
      orarowid_dataobj(orarowid(l, i, l2, i)), orarowid_fileno(orarowid(l, i, l2, i)),
      orarowid_blockno(orarowid(l, i, l2, i)), orarowid_rowno(orarowid(l, i, l2, i)),
      orainterval_ym_months(orainterval_from_months(i)),
      orainterval_ds_micros(orainterval_from_micros(pmod(l, lit(100000000000000L)))),
      orabinarydouble_decode(orabinarydouble_encode(d)),
      orabinaryfloat_decode(orabinaryfloat_encode(f)),
      oravector_decode(oravector_encode(col("fs"))),
      lob_is_inline(lob_inline(b)), lob_inline_data(lob_inline(b)), lob_id(lob_inline(b)),
      lob_is_inline(lob_out_of_row(l)), lob_inline_data(lob_out_of_row(l)),
      lob_id(lob_out_of_row(l)),
      oson_decode(oson_encode(to_json(struct(l, s, hs)))),
      oraxml_blob_decode(encode(concat(lit("<r>"), s, lit("</r>")), "UTF-8")),
      oraxml_clob_decode(encode(s, "UTF-16BE")),
      oracharset_decode(oracharset_encode(s, "WE8ISO8859P1"), "AL32UTF8"),
      gzip_decompress(gzip_compress(b)),
      poly_hash(s), poly_minhash(hs, 31L, 17L), simhash16(hs), sim_hash60(hs),
      fingerprint(toks), shingle_hashes(toks, 2), distinct_longs(hs),
      sorted_distinct_longs(hs), max_dup_count(hs), winnow(hs, 3), sum_longs(hs),
      mod_counts(hs, 5), adjacent_pairs(toks), ws_token_count(s),
      marker_count(toks, Seq("a", "ab", "a")),
      lang_id(toks, Seq("x" -> Seq("a", "b"), "y" -> Seq("b", "ab"), "z" -> Seq.empty)),
      intersect_count_sorted(sorted_distinct_longs(hs), sorted_distinct_longs(col("hs2"))),
      lev_banded(s, s2, 3),
      q, dotq_native(q, q), lsh_bucket_native(q, 6),
      sq8_decode_native(q, transform(q, x => x - 3), transform(q, _ => lit(2L))),
      BloomFilterOps.bloomMightContain(lit(filter), pmod(l, lit(16)) - 8),
      ZOrderOps.zValue2(pmod(l, lit(65536)), pmod(l2, lit(65536))))
  }

  /** The kernels over `seed`'s rows: (rows, executed plan). */
  private def run(seed: Long, generated: Boolean): (Seq[Seq[Any]], String) =
    withConf(
        "spark.sql.codegen.factoryMode" ->
          (if (generated) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.wholeStage" -> generated.toString) {
      // an RDD source, not a local relation, so the optimizer cannot
      // evaluate the projection itself
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows(seed, 300), 2), schema).select(kernels: _*)
      val out = df.collect().toSeq.map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      })
      (out, df.queryExecution.executedPlan.toString)
    }

  test("generated and interpreted kernel calls agree on random inputs") {
    Seq(20261018L, 7L, 991L).foreach { seed =>
      val (gen, genPlan) = run(seed, generated = true)
      val (interp, interpPlan) = run(seed, generated = false)
      assert(genPlan.contains("*("), s"no codegen stage:\n$genPlan")
      assert(!interpPlan.contains("*("), s"codegen stage in the interpreted run:\n$interpPlan")
      assert(gen.size == 300 && gen.head.size == kernels.size)
      gen.zip(interp).zipWithIndex.foreach { case ((g, n), r) =>
        g.zip(n).zipWithIndex.foreach { case ((x, y), k) =>
          assert(x == y, s"seed $seed row $r kernel $k (${kernels(k)}): $x != $y")
        }
      }
      // NULL inputs reach the kernels in both runs
      assert(gen.exists(_.head == null) && gen.exists(_.head != null))
    }
  }

  test("tde_decrypt's key never appears in the query plans") {
    import OracleFunctions.{tde_decrypt, tde_encrypt}
    val key = Array.tabulate[Byte](0x10 + 32)(i => (i * 11 + 5).toByte)
    val txt = encode(col("id").cast("string"), "UTF-8")
    val df = spark.range(3).select(tde_decrypt(tde_encrypt(txt, key, 4, 1, salted = true),
      key, 4, 1, salted = true).cast("string"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    val plans = df.queryExecution.toString.toLowerCase
    // no 8-byte run of the key, in hex, anywhere in the plan strings
    key.sliding(8).map(_.map("%02x".format(_)).mkString).foreach { run =>
      assert(!plans.contains(run), s"key bytes $run appear in:\n$plans")
    }
  }
}
