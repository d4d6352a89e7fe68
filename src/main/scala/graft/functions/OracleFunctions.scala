package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.codec._
import graft.functions.KernelCall.{bind, param}

/** Runtime bridge between Spark's Decimal and the NUMBER codec: tries
  * the compact unscaled-long path (precision ≤ 18 decimals are
  * long-backed — no BigDecimal, no BigInteger, no string) and falls
  * back to the general BigDecimal codec when the value doesn't fit.
  * Lives outside the pure codec so `graft.codec` keeps zero Spark deps.
  */
object OraNumberRt {

  def toDecimal(b: Array[Byte], precision: Int, scale: Int): Decimal =
    if (precision <= 18) {
      try {
        val u = OraNumber.decodeToUnscaledLong(b, scale)
        // compact Decimal requires the value to FIT the declared
        // precision; out-of-range falls back to the checked constructor
        if (u > -OraNumberRt.POW10(precision) && u < OraNumberRt.POW10(precision))
          Decimal.createUnsafe(u, precision, scale)
        else Decimal(OraNumber.decodeToScaled(b, scale))
      } catch {
        case _: ArithmeticException => Decimal(OraNumber.decodeToScaled(b, scale))
      }
    } else Decimal(OraNumber.decodeToScaled(b, scale))

  def fromDecimal(d: Decimal): Array[Byte] =
    if (d.precision <= 18) OraNumber.encodeUnscaled(d.toUnscaledLong, d.scale)
    else OraNumber.encode(d.toJavaBigDecimal)

  private val POW10: Array[Long] = {
    val a = new Array[Long](19)
    a(0) = 1L
    var i = 1
    while (i < 19) { a(i) = a(i - 1) * 10; i += 1 }
    a
  }
}

/** Column functions for the Oracle wire-format codecs (SURVEY.md §2.4
  * F1–F14). Each is one [[KernelCall]] binding: a static call into
  * `graft.codec.*` (or a one-line `UTF8String`/`ArrayData` adapter in
  * [[CodecBridge]]) that runs inside whole-stage codegen, so decode on
  * every row of the change stream stays a tight generated loop instead
  * of boxing through a ScalaUDF. `register` exposes them to SQL under
  * the same names. The TDE pair stays hand-written: its key is a
  * reference object, so it never prints in a plan string.
  */
object OracleFunctions {

  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)

  // ---- NUMBER (F1) ----
  def oranumber_to_decimal(col: Column, precision: Int, scale: Int): Column =
    bind("oranumber_to_decimal", OraNumberRt, "toDecimal", DecimalType(precision, scale))(
      col -> BinaryType, param(precision) -> IntegerType, param(scale) -> IntegerType)
  def oranumber_to_long(col: Column): Column =
    bind("oranumber_to_long", OraNumber, "decodeToLong", LongType)(col -> BinaryType)
  def oranumber_to_double(col: Column): Column =
    bind("oranumber_to_double", OraNumber, "decodeToDouble", DoubleType)(col -> BinaryType)
  def oranumber_from_decimal(col: Column): Column =
    bind("oranumber_from_decimal", OraNumberRt, "fromDecimal", BinaryType)(col -> DecimalType)
  def oranumber_from_long(col: Column): Column =
    bind("oranumber_from_long", OraNumber, "encodeLong", BinaryType)(col -> LongType)

  // ---- DATE / TIMESTAMP (F3); NTZ: the 7/11-byte Oracle form has no zone ----
  def oradate_to_timestamp(col: Column): Column =
    bind("oradate_to_timestamp", OraDateTime, "decodeToMicros", TimestampNTZType)(
      col -> BinaryType)
  def oratimestamp_from_micros(col: Column): Column =
    bind("oratimestamp_from_micros", OraDateTime, "encodeTimestamp", BinaryType)(
      col -> GraftSqlBridge.oneOf(TimestampType, TimestampNTZType))

  // ---- TIMESTAMP WITH TIME ZONE (F4) ----
  def oratstz_encode(micros: Column, offsetMin: Column): Column =
    bind("oratstz_encode", OraDateTime, "encodeTsTz", BinaryType)(
      micros -> LongType, offsetMin -> IntegerType)
  def oratstz_micros(col: Column): Column =
    bind("oratstz_micros", OraDateTime, "decodeTsTzMicros", LongType)(col -> BinaryType)
  def oratstz_offset_minutes(col: Column): Column =
    bind("oratstz_offset_minutes", OraDateTime, "decodeTsTzOffset", IntegerType)(
      col -> BinaryType)

  // ---- ROWID (F7) ----
  def orarowid(dataObj: Column, fileNo: Column, blockNo: Column, rowNo: Column): Column =
    bind("orarowid", CodecBridge, "rowIdEncode", StringType)(
      dataObj -> LongType, fileNo -> IntegerType, blockNo -> LongType, rowNo -> IntegerType)
  private def rowIdPart(name: String, col: Column, part: Int): Column =
    bind(name, CodecBridge, "rowIdPart", LongType)(col -> StringType, param(part) -> IntegerType)
  def orarowid_dataobj(col: Column): Column = rowIdPart("orarowid_dataobj", col, 0)
  def orarowid_fileno(col: Column): Column = rowIdPart("orarowid_fileno", col, 1)
  def orarowid_blockno(col: Column): Column = rowIdPart("orarowid_blockno", col, 2)
  def orarowid_rowno(col: Column): Column = rowIdPart("orarowid_rowno", col, 3)

  // ---- INTERVALS (F5) ----
  def orainterval_ym_months(col: Column): Column =
    bind("orainterval_ym_months", OraInterval, "decodeYMToMonths", IntegerType)(
      col -> BinaryType)
  def orainterval_ds_micros(col: Column): Column =
    bind("orainterval_ds_micros", OraInterval, "decodeDSToMicros", LongType)(col -> BinaryType)
  def orainterval_from_months(col: Column): Column =
    bind("orainterval_from_months", OraInterval, "encodeYM", BinaryType)(col -> IntegerType)
  def orainterval_from_micros(col: Column): Column =
    bind("orainterval_from_micros", OraInterval, "encodeDS", BinaryType)(col -> LongType)

  // ---- BINARY_FLOAT / BINARY_DOUBLE (F2) ----
  def orabinarydouble_encode(col: Column): Column =
    bind("orabinarydouble_encode", OraBinaryFp, "encodeDouble", BinaryType)(col -> DoubleType)
  def orabinarydouble_decode(col: Column): Column =
    bind("orabinarydouble_decode", OraBinaryFp, "decodeDouble", DoubleType)(col -> BinaryType)
  def orabinaryfloat_encode(col: Column): Column =
    bind("orabinaryfloat_encode", OraBinaryFp, "encodeFloat", BinaryType)(col -> FloatType)
  def orabinaryfloat_decode(col: Column): Column =
    bind("orabinaryfloat_decode", OraBinaryFp, "decodeFloat", FloatType)(col -> BinaryType)

  // ---- VECTOR (F10) ----
  def oravector_encode(col: Column): Column =
    bind("oravector_encode", CodecBridge, "vectorEncodeFloats", BinaryType)(
      col -> ArrayType(FloatType))
  def oravector_decode(col: Column): Column =
    bind("oravector_decode", CodecBridge, "vectorDecodeFloats",
      ArrayType(FloatType, containsNull = false))(col -> BinaryType)

  // ---- LOB locator (F12) ----
  def lob_inline(col: Column): Column =
    bind("lob_inline", CodecBridge, "lobInline", BinaryType)(col -> BinaryType)
  def lob_out_of_row(col: Column): Column =
    bind("lob_out_of_row", CodecBridge, "lobOutOfRow", BinaryType)(col -> LongType)
  def lob_is_inline(col: Column): Column =
    bind("lob_is_inline", LobLocator, "isInline", BooleanType)(col -> BinaryType)
  /** NULL for an out-of-row locator. */
  def lob_inline_data(col: Column): Column =
    bind("lob_inline_data", LobLocator, "inlineData", BinaryType, returnNullable = true)(
      col -> BinaryType)
  /** NULL for an inline locator. */
  def lob_id(col: Column): Column =
    bind("lob_id", LobLocator, "lobId", LongType, returnNullable = true)(col -> BinaryType)

  // ---- OSON binary JSON (F9) + XMLTYPE text envelope (F8) ----
  def oson_encode(col: Column): Column =
    bind("oson_encode", CodecBridge, "osonEncode", BinaryType)(col -> StringType)
  def oson_decode(col: Column): Column =
    bind("oson_decode", CodecBridge, "osonDecode", StringType)(col -> BinaryType)
  def oraxml_clob_decode(col: Column): Column =
    bind("oraxml_clob_decode", CodecBridge, "xmlClobDecode", StringType)(col -> BinaryType)
  def oraxml_blob_decode(col: Column): Column =
    bind("oraxml_blob_decode", CodecBridge, "xmlBlobDecode", StringType)(col -> BinaryType)

  // ---- Oracle charset names (F6) + GZIP util (F14) ----
  def oracharset_encode(col: Column, oracleCharset: String): Column =
    bind("oracharset_encode", CodecBridge, "charsetEncode", BinaryType)(
      col -> StringType, param(oracleCharset) -> StringType)
  def oracharset_decode(col: Column, oracleCharset: String): Column =
    bind("oracharset_decode", CodecBridge, "charsetDecode", StringType)(
      col -> BinaryType, param(oracleCharset) -> StringType)
  def gzip_compress(col: Column): Column =
    bind("gzip_compress", GzipUtil, "compress", BinaryType)(col -> BinaryType)
  def gzip_decompress(col: Column): Column =
    bind("gzip_decompress", GzipUtil, "decompress", BinaryType)(col -> BinaryType)

  // ---- TDE column encryption (F11) ----

  case class TdeDecrypt(child: Expression, dataKey: Array[Byte],
      encAlg: Int, intAlg: Int, salted: Boolean)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      graft.codec.Tde.decrypt(v.asInstanceOf[Array[Byte]], dataKey, encAlg, intAlg, salted)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val key = ctx.addReferenceObj("tdeKey", dataKey, "byte[]")
      defineCodeGen(ctx, ev, b =>
        s"graft.codec.Tde.decrypt($b, $key, $encAlg, $intAlg, $salted)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  case class TdeEncrypt(child: Expression, dataKey: Array[Byte],
      encAlg: Int, intAlg: Int, salted: Boolean)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any =
      graft.codec.Tde.encrypt(v.asInstanceOf[Array[Byte]], dataKey, encAlg, intAlg, salted)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val key = ctx.addReferenceObj("tdeKey", dataKey, "byte[]")
      defineCodeGen(ctx, ev, b =>
        s"graft.codec.Tde.encrypt($b, $key, $encAlg, $intAlg, $salted)")
    }
    override protected def withNewChildInternal(nc: Expression): Expression = copy(child = nc)
  }

  def tde_encrypt(col: Column, dataKey: Array[Byte], encAlg: Int,
      intAlg: Int, salted: Boolean): Column =
    c(TdeEncrypt(e(col), dataKey, encAlg, intAlg, salted))
  def tde_decrypt(col: Column, dataKey: Array[Byte], encAlg: Int,
      intAlg: Int, salted: Boolean): Column =
    c(TdeDecrypt(e(col), dataKey, encAlg, intAlg, salted))

  /** SQL registration so the codecs are usable from spark.sql(...). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def sql(name: String, f: Seq[Column] => Column): Unit =
      reg.createOrReplaceTempFunction(name, es => e(f(es.map(c))), "built-in")
    def unary(name: String, f: Column => Column): Unit = sql(name, cs => f(cs.head))
    unary("oranumber_to_long", oranumber_to_long)
    unary("oranumber_to_double", oranumber_to_double)
    unary("oradate_to_timestamp", oradate_to_timestamp)
    unary("oranumber_from_long", oranumber_from_long)
    unary("oranumber_from_decimal", oranumber_from_decimal)
    unary("oratimestamp_from_micros", oratimestamp_from_micros)
    unary("orainterval_ym_months", orainterval_ym_months)
    unary("orainterval_ds_micros", orainterval_ds_micros)
    unary("orabinarydouble_encode", orabinarydouble_encode)
    unary("orabinarydouble_decode", orabinarydouble_decode)
    unary("orabinaryfloat_encode", orabinaryfloat_encode)
    unary("orabinaryfloat_decode", orabinaryfloat_decode)
    unary("oravector_encode", oravector_encode)
    unary("oravector_decode", oravector_decode)
    unary("lob_inline", lob_inline)
    unary("lob_is_inline", lob_is_inline)
    unary("lob_inline_data", lob_inline_data)
    unary("lob_id", lob_id)
    unary("oson_encode", oson_encode)
    unary("oson_decode", oson_decode)
    unary("oraxml_clob_decode", oraxml_clob_decode)
    unary("oraxml_blob_decode", oraxml_blob_decode)
    unary("gzip_compress", gzip_compress)
    unary("gzip_decompress", gzip_decompress)
    sql("bloom_might_contain", cs => BloomFilterOps.bloomMightContain(cs(0), cs(1)))
    sql("zvalue2", cs => ZOrderOps.zValue2(cs(0), cs(1)))
  }
}
