package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The codec expressions must be reachable from plain spark.sql — the
  * surface a SQL-facing user of the reference would migrate to.
  */
class SqlRegistrationSpec extends AnyFunSuite with SharedSpark
    with BeforeAndAfterAll {

  override def beforeAll(): Unit = OracleFunctions.register(spark)

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString("X'", "", "'")

  private val filter: Array[Byte] = {
    val words = new Array[Long](2)
    BloomKernel.set(words, 7L, 3)
    BloomKernel.toFilterBytes(words, 3)
  }
  private val outOfRow = hex(CodecBridge.lobOutOfRow(77L))

  private def bytes(b: Array[Byte]): Seq[Byte] = b.toSeq
  private val micros = java.time.Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000L

  /** Every registered SQL name as the outermost call: (name, call,
    * argument types, result type, expected value).
    */
  private val calls: Seq[(String, String, Seq[String], DataType, Any)] = {
    import graft.codec._
    Seq(
      ("oranumber_to_long", "oranumber_to_long(oranumber_from_long(42L))",
        Seq("BINARY"), LongType, 42L),
      ("oranumber_to_double", "oranumber_to_double(oranumber_from_long(-7L))",
        Seq("BINARY"), DoubleType, -7.0),
      ("oradate_to_timestamp", "oradate_to_timestamp(oratimestamp_from_micros(" +
        "TIMESTAMP_NTZ'2024-01-02 03:04:05.123456'))", Seq("BINARY"), TimestampNTZType,
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)),
      ("oranumber_from_long", "oranumber_from_long(42L)", Seq("BIGINT"), BinaryType,
        bytes(OraNumber.encodeLong(42L))),
      ("oranumber_from_decimal", "oranumber_from_decimal(CAST(2.5 AS DECIMAL(4,1)))",
        Seq("DECIMAL(4,1)"), BinaryType,
        bytes(OraNumberRt.fromDecimal(Decimal(BigDecimal("2.5"), 4, 1)))),
      ("oratimestamp_from_micros",
        "oratimestamp_from_micros(TIMESTAMP'2024-01-02 03:04:05')",
        Seq("TIMESTAMP"), BinaryType, bytes(OraDateTime.encodeTimestamp(micros))),
      ("orainterval_ym_months",
        s"orainterval_ym_months(${hex(OraInterval.encodeYM(-14))})",
        Seq("BINARY"), IntegerType, -14),
      ("orainterval_ds_micros",
        s"orainterval_ds_micros(${hex(OraInterval.encodeDS(90061000001L))})",
        Seq("BINARY"), LongType, 90061000001L),
      ("orabinarydouble_encode", "orabinarydouble_encode(2.5d)",
        Seq("DOUBLE"), BinaryType, bytes(OraBinaryFp.encodeDouble(2.5))),
      ("orabinarydouble_decode", "orabinarydouble_decode(orabinarydouble_encode(-0.125d))",
        Seq("BINARY"), DoubleType, -0.125),
      ("orabinaryfloat_encode", "orabinaryfloat_encode(CAST(1.5 AS FLOAT))",
        Seq("FLOAT"), BinaryType, bytes(OraBinaryFp.encodeFloat(1.5f))),
      ("orabinaryfloat_decode",
        "orabinaryfloat_decode(orabinaryfloat_encode(CAST(-3 AS FLOAT)))",
        Seq("BINARY"), FloatType, -3.0f),
      ("oravector_encode", "oravector_encode(array(CAST(1 AS FLOAT)))",
        Seq("ARRAY<FLOAT>"), BinaryType, bytes(OraVector.encodeFloats(Array(1f)))),
      ("oravector_decode",
        "oravector_decode(oravector_encode(array(CAST(1 AS FLOAT), CAST(-2.5 AS FLOAT))))",
        Seq("BINARY"), ArrayType(FloatType, containsNull = false), Seq(1.0f, -2.5f)),
      ("lob_inline", "lob_inline(encode('v', 'UTF-8'))", Seq("BINARY"), BinaryType,
        bytes(CodecBridge.lobInline("v".getBytes("UTF-8")))),
      ("lob_is_inline", s"lob_is_inline($outOfRow)", Seq("BINARY"), BooleanType, false),
      ("lob_inline_data", "lob_inline_data(lob_inline(encode('v', 'UTF-8')))",
        Seq("BINARY"), BinaryType, bytes("v".getBytes("UTF-8"))),
      ("lob_id", s"lob_id($outOfRow)", Seq("BINARY"), LongType, 77L),
      ("oson_encode", """oson_encode('{"a":1}')""", Seq("STRING"), BinaryType,
        bytes(Oson.encodeText("""{"a":1}"""))),
      ("oson_decode", """oson_decode(oson_encode('[true,null]'))""",
        Seq("BINARY"), StringType, "[true,null]"),
      ("oraxml_clob_decode", "oraxml_clob_decode(encode('<c/>', 'UTF-16BE'))",
        Seq("BINARY"), StringType, "<c/>"),
      ("oraxml_blob_decode", "oraxml_blob_decode(encode('<r>ok</r>', 'UTF-8'))",
        Seq("BINARY"), StringType, "<r>ok</r>"),
      ("gzip_compress", "gzip_compress(X'00FF')", Seq("BINARY"), BinaryType,
        bytes(GzipUtil.compress(Array[Byte](0, -1)))),
      ("gzip_decompress", "gzip_decompress(gzip_compress(X'00FF'))",
        Seq("BINARY"), BinaryType, Seq[Byte](0, -1)),
      ("bloom_might_contain", s"bloom_might_contain(${hex(filter)}, 7L)",
        Seq("BINARY", "BIGINT"), BooleanType, true),
      ("zvalue2", "zvalue2(3L, 5L)", Seq("BIGINT", "BIGINT"), LongType, 39L))
  }

  test("registered codec functions evaluate from spark.sql") {
    val r = spark.sql(
      """SELECT
        |  oranumber_to_long(oranumber_from_long(42L)) AS num_rt,
        |  oson_decode(oson_encode('{"a":1,"b":"x"}')) AS oson_rt,
        |  oraxml_blob_decode(encode('<r>ok</r>', 'UTF-8')) AS xml_rt,
        |  cast(gzip_decompress(gzip_compress(encode('zz', 'UTF-8'))) AS STRING) AS gz_rt,
        |  orabinarydouble_decode(orabinarydouble_encode(2.5d)) AS bd_rt,
        |  lob_is_inline(lob_inline(encode('v', 'UTF-8'))) AS inl
        |""".stripMargin).head()
    assert(r.getLong(0) == 42L)
    assert(r.getString(1) == """{"a":1,"b":"x"}""")
    assert(r.getString(2) == "<r>ok</r>")
    assert(r.getString(3) == "zz")
    assert(r.getDouble(4) == 2.5)
    assert(r.getBoolean(5))
  }

  test("all 26 registered names evaluate with their result types") {
    assert(calls.map(_._1).distinct.size == 26)
    calls.foreach { case (name, _, _, _, _) =>
      assert(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
    }
    val df = spark.sql(calls.zipWithIndex.map { case (c, i) => s"${c._2} AS c$i" }
      .mkString("SELECT ", ", ", ""))
    val row = df.head()
    calls.zipWithIndex.foreach { case ((name, _, _, dt, want), i) =>
      assert(df.schema(i).dataType == dt, s"$name result type")
      val got = row.get(i) match {
        case b: Array[Byte] => bytes(b)
        case v => v
      }
      assert(got == want, s"$name: $got != $want")
    }
    // the nullable results: an inline locator has no id, an out-of-row
    // one no inline data
    val nulls = spark.range(1).selectExpr(
      "lob_id(lob_inline(encode('v', 'UTF-8')))", s"lob_inline_data($outOfRow)").head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("NULL in any argument of a registered function gives NULL out") {
    calls.foreach { case (name, _, argTypes, _, _) =>
      // one NULL argument at a time, not foldable, so the call runs in
      // the projection; the other arguments hold a valid value
      val valid = Map("BINARY" -> hex(filter), "BIGINT" -> "1L", "DOUBLE" -> "1d",
        "FLOAT" -> "CAST(1 AS FLOAT)", "STRING" -> "'x'",
        "DECIMAL(4,1)" -> "CAST(1 AS DECIMAL(4,1))",
        "TIMESTAMP" -> "TIMESTAMP'2024-01-01 00:00:00'",
        "ARRAY<FLOAT>" -> "array(CAST(1 AS FLOAT))")
      argTypes.indices.foreach { k =>
        val args = argTypes.zipWithIndex.map { case (t, j) =>
          if (j == k) s"IF(id < 0, ${valid(t)}, CAST(NULL AS $t))" else valid(t)
        }
        val r = spark.range(1).selectExpr(s"$name(${args.mkString(", ")})").head()
        assert(r.isNullAt(0), s"$name with NULL argument $k")
      }
    }
  }

  test("a STRING where BINARY is expected fails analysis") {
    Seq("oranumber_to_long('42')", "gzip_decompress('x')",
        "bloom_might_contain('x', 1L)", "oson_decode('{}')").foreach { call =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
    }
    // the Column API checks the same way
    import org.apache.spark.sql.functions.lit
    intercept[AnalysisException](
      spark.range(1).select(OracleFunctions.oranumber_to_long(lit("42"))).collect())
  }
}
