package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}
import graft.Tables._
import graft.functions.OracleFunctions._

/** Correctness-gate queries for the Oracle wire-format codec expressions
  * (SURVEY.md §2.4 F1/F3/F7). Each query encodes real table values into
  * the Oracle binary format and decodes them back inside one Catalyst
  * plan; the DuckDB oracle is the identity projection — so a hash match
  * proves encode∘decode = id over the whole column domain in the data,
  * executed distributed (no driver loop), inside WholeStageCodegen.
  */
object CodecQueries extends GateFamily {

  // codec gates are map-only per-row decode work — normalize input
  // parallelism so the decode runs on every core, not one row group
  private def li(s: SparkSession, d: String) = tablePar(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = tablePar(s, d, "orders")

  def gates: Seq[Gate] = Seq(
    // F1: NUMBER ⇄ DECIMAL roundtrip over every distinct price in lineitem
    Gate("f1_oranum_dec", (s, dir) => {
      li(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("p"))
        .select(col("l_orderkey"), col("l_linenumber"),
          // decimal roundtrip exercised in full; the gate OUTPUT is cast
          // to double — the driver's pandas comparator cannot hash-match
          // Decimal objects (Spark parquet) against float64 (DuckDB)
          oranumber_to_decimal(oranumber_from_decimal(col("p")), 18, 2)
            .cast("double").as("price_rt"))
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_rt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // F1: NUMBER ⇄ BIGINT roundtrip (integral path, codegen'd static calls)
    Gate("f1_oranum_long", (s, dir) => {
      ord(s, dir)
        .select(col("o_orderkey"),
          oranumber_to_long(oranumber_from_long(col("o_custkey"))).as("custkey_rt"))
    }, _ =>
      "SELECT o_orderkey, o_custkey AS custkey_rt FROM orders ORDER BY o_orderkey"),
    // F1 variant: per-column NUMBER type-map overrides (ref
    // `OraCdcNumberMapTest.java`, `a2.map.number.*`). Each part key
    // synthesizes a NUMBER column (name, precision, scale); the REAL
    // dictionary resolution — exact-beats-pattern override lookup, then
    // the precision split — runs distributed on executors, and the
    // oracle restates the decision table in SQL.
    Gate("f1_number_map", (s, dir) => {
      import s.implicits._
      import graft.sources.DictionaryReader
      part(s, dir).select(col("p_partkey").cast("long")).as[Long]
        .map { k =>
          val colName = s"COL_${k % 10}"
          val precision = (k % 38 + 1).toInt
          val scale = (k % 3).toInt
          val overrides = Seq(
            "COL_3" -> org.apache.spark.sql.types.ShortType,
            "%_7" -> org.apache.spark.sql.types.LongType,
            "COL_1%" -> DecimalType(38, 2))
          val t = DictionaryReader.NumberMap.resolve(overrides, colName)
            .getOrElse(DictionaryReader.sparkType(DictionaryReader.ColumnDef(
              colName, java.sql.Types.NUMERIC, precision, scale,
              nullable = true)))
          (k, colName, t.simpleString)
        }
        .toDF("p_partkey", "col_name", "mapped_type")
    }, _ =>
      """SELECT p_partkey,
        |  'COL_' || (p_partkey % 10) AS col_name,
        |  CASE
        |    WHEN p_partkey % 10 = 3 THEN 'smallint'
        |    WHEN p_partkey % 10 = 7 THEN 'bigint'
        |    WHEN p_partkey % 10 = 1 THEN 'decimal(38,2)'
        |    WHEN p_partkey % 3 = 0 AND p_partkey % 38 + 1 < 3 THEN 'tinyint'
        |    WHEN p_partkey % 3 = 0 AND p_partkey % 38 + 1 < 5 THEN 'smallint'
        |    WHEN p_partkey % 3 = 0 AND p_partkey % 38 + 1 < 10 THEN 'int'
        |    WHEN p_partkey % 3 = 0 AND p_partkey % 38 + 1 < 19 THEN 'bigint'
        |    ELSE 'decimal(' || GREATEST(p_partkey % 38 + 1, p_partkey % 3)
        |         || ',' || (p_partkey % 3) || ')'
        |  END AS mapped_type
        |FROM part ORDER BY p_partkey""".stripMargin),
    // F3: 11-byte Oracle TIMESTAMP ⇄ TimestampType roundtrip
    Gate("f3_oradate", (s, dir) => {
      ord(s, dir)
        .select(col("o_orderkey"),
          oradate_to_timestamp(oratimestamp_from_micros(col("o_orderdate"))).as("odate_rt"))
    }, _ =>
      "SELECT o_orderkey, o_orderdate AS odate_rt FROM orders ORDER BY o_orderkey"),
    // F7: ROWID 18-char form built from row coordinates, then split back
    Gate("f7_rowid", (s, dir) => {
      val r = li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        orarowid(col("l_partkey"),
          col("l_linenumber").cast(IntegerType),
          col("l_suppkey"),
          (col("l_orderkey") % 1024).cast(IntegerType)).as("rid"))
      r.select(col("l_orderkey"), col("l_linenumber"),
          length(col("rid")).as("rid_len"),
          orarowid_dataobj(col("rid")).as("obj_rt"),
          orarowid_fileno(col("rid")).as("fno_rt"),
          orarowid_blockno(col("rid")).as("blk_rt"),
          orarowid_rowno(col("rid")).as("row_rt"))
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |       CAST(18 AS INTEGER) AS rid_len,
        |       l_partkey AS obj_rt,
        |       CAST(l_linenumber AS BIGINT) AS fno_rt,
        |       l_suppkey AS blk_rt,
        |       l_orderkey % 1024 AS row_rt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // F2: BINARY_DOUBLE ⇄ double roundtrip (sign-bit-flip IEEE form)
    Gate("f2_bin_double", (s, dir) => {
      li(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          orabinarydouble_decode(orabinarydouble_encode(col("l_extendedprice")))
            .as("price_rt"),
          orabinaryfloat_decode(orabinaryfloat_encode(
            col("l_discount").cast("float"))).as("disc_rt"))
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice AS price_rt,
        |       CAST(l_discount AS FLOAT) AS disc_rt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // F10: VECTOR wire format ⇄ array<float> roundtrip over embeddings.
    // Element-wise comparison via posexplode: an array-typed output
    // column crashes the driver's pandas hasher (unhashable ndarray),
    // and exploding checks every element positionally anyway.
    Gate("f10_vector", (s, dir) => {
      embeddings(s, dir)
        .select(col("vec_id"),
          oravector_decode(oravector_encode(col("embedding"))).as("emb_rt"),
          length(oravector_encode(col("embedding"))).cast("long").as("wire_len"))
        .select(col("vec_id"), col("wire_len"),
          posexplode(col("emb_rt")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("v").cast("double").as("v"), col("wire_len"))
    }, _ =>
      """SELECT vec_id,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |       CAST(UNNEST(embedding) AS DOUBLE) AS v,
        |       CAST(6 + 4 * len(embedding) AS BIGINT) AS wire_len
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin),
    // M1+M2: pattern-based SMT field converters — NUMBER / INTERVAL
    // byte columns matching %-patterns decode to typed columns, other
    // columns pass through untouched.
    Gate("m1_m2_convert", (s, dir) => {
      val encoded = li(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        oranumber_from_decimal(col("l_extendedprice").cast(DecimalType(18, 2)))
          .as("num_price"),
        orainterval_from_micros((col("l_quantity") * 60000000L).cast("long"))
          .as("iv_ship"),
        orainterval_from_months((col("l_linenumber") * 7).cast("int"))
          .as("iv_age_ym"))
      val converted = graft.functions.Transforms.convertOraIntervalFields(
        graft.functions.Transforms.convertOraIntervalFields(
          graft.functions.Transforms.convertOraNumberFields(
            encoded, Seq("num_%"), "decimal(18,2)"),
          Seq("%_ym"), "ym"),
        Seq("iv_ship"), "ds")
      converted
        .withColumn("num_price", col("num_price").cast("double"))
    }, _ =>
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS num_price,
        |       CAST(l_quantity * 60000000 AS BIGINT) AS iv_ship,
        |       CAST(l_linenumber * 7 AS INT) AS iv_age_ym
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // F4: TIMESTAMP WITH TIME ZONE — 13-byte wire form roundtrips the
    // UTC instant and a per-row fixed zone offset independently.
    Gate("f4_tstz", (s, dir) => {
      val e = events(s, dir).select(col("event_id"),
        graft.Tables.tsMicros.as("micros"),
        ((col("user_id") % 25 - 12) * 60).cast("int").as("off"))
        .withColumn("wire", oratstz_encode(col("micros"), col("off")))
      e.select(col("event_id"),
          oratstz_micros(col("wire")).as("micros_rt"),
          oratstz_offset_minutes(col("wire")).as("off_rt"),
          length(col("wire")).as("wire_len"))
    }, _ =>
      """SELECT event_id,
        |       epoch_ns(ts) // 1000 AS micros_rt,
        |       CAST((user_id % 25 - 12) * 60 AS INT) AS off_rt,
        |       13 AS wire_len
        |FROM events ORDER BY event_id""".stripMargin),
    // F9: OSON binary JSON — per-document JSON text (nested object +
    // array + string/number scalars) encodes to an OSON image and
    // decodes back to the identical text. Keys are written in OSON's
    // canonical (fieldHash, name) dictionary order — lang < meta <
    // words < id and n < src — so decode∘encode is the identity on the
    // text and DuckDB can state the expected value directly.
    Gate("f9_oson", (s, dir) => {
      val w = split(col("text"), " ")
      val json = concat(
        lit("{\"lang\":\""), col("lang"),
        lit("\",\"meta\":{\"n\":"), col("n_chars").cast("string"),
        lit(",\"src\":\""), col("source"),
        lit("\"},\"words\":[\""), element_at(w, 1),
        lit("\",\""), element_at(w, 2),
        lit("\",\""), element_at(w, 3),
        lit("\"],\"id\":"), col("doc_id").cast("string"), lit("}"))
      documents(s, dir)
        .select(col("doc_id"), json.as("j"))
        .select(col("doc_id"),
          oson_decode(oson_encode(col("j"))).as("json_rt"))
    }, _ =>
      """SELECT doc_id,
        |       '{"lang":"' || lang ||
        |       '","meta":{"n":' || CAST(n_chars AS VARCHAR) ||
        |       ',"src":"' || source ||
        |       '"},"words":["' || string_split(text, ' ')[1] ||
        |       '","' || string_split(text, ' ')[2] ||
        |       '","' || string_split(text, ' ')[3] ||
        |       '"],"id":' || CAST(doc_id AS VARCHAR) || '}' AS json_rt
        |FROM documents ORDER BY doc_id""".stripMargin),
    // F8: XMLTYPE text envelope — one XML document per row, decoded
    // from the three wire carriers the codec distinguishes: CLOB
    // (UTF-16 with BOM), BLOB UTF-8, and BOM-less UTF-16LE (detected
    // by the Appendix-F '<?' byte pattern). All three must decode to
    // the identical text.
    Gate("f8_xml", (s, dir) => {
      val xml = concat(
        lit("<?xml version=\"1.0\"?><doc id=\""), col("doc_id").cast("string"),
        lit("\" lang=\""), col("lang"),
        lit("\"><src>"), col("source"),
        lit("</src><w>"), element_at(split(col("text"), " "), 1),
        lit("</w></doc>"))
      documents(s, dir).select(col("doc_id"), xml.as("x"))
        .select(col("doc_id"),
          oraxml_clob_decode(encode(col("x"), "UTF-16")).as("xml_clob"),
          oraxml_blob_decode(encode(col("x"), "UTF-8")).as("xml_utf8"),
          oraxml_blob_decode(encode(col("x"), "UTF-16LE")).as("xml_u16le"))
    }, _ =>
      """SELECT doc_id, x AS xml_clob, x AS xml_utf8, x AS xml_u16le FROM (
        |  SELECT doc_id,
        |         '<?xml version="1.0"?><doc id="' || CAST(doc_id AS VARCHAR) ||
        |         '" lang="' || lang || '"><src>' || source ||
        |         '</src><w>' || string_split(text, ' ')[1] ||
        |         '</w></doc>' AS x
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // F11: TDE column encryption — every document text encrypted and
    // decrypted inside one plan under a synthetic data key, across the
    // two main regimes: AES-256 + SHA-1 MAC + salt (the common column
    // config) and AES-128, no MAC, zero IV. Identity on the full text
    // domain proves layout, padding, MAC framing and IV recovery.
    Gate("f11_tde", (s, dir) => {
      val key = Array.tabulate[Byte](0x10 + 32)(i => (i * 7 + 3).toByte)
      val txt = to_binary(col("text"), lit("utf-8"))
      documents(s, dir).select(col("doc_id"),
          tde_decrypt(tde_encrypt(txt, key, 4, 1, salted = true),
            key, 4, 1, salted = true).cast("string").as("aes256_rt"),
          tde_decrypt(tde_encrypt(txt, key, 2, 2, salted = false),
            key, 2, 2, salted = false).cast("string").as("aes128_rt"))
    }, _ =>
      """SELECT doc_id, text AS aes256_rt, text AS aes128_rt
        |FROM documents ORDER BY doc_id""".stripMargin),
    // F6+F14: Oracle charset-name codec + GZIP LOB utility — text
    // roundtrips through a single-byte Oracle charset (WE8ISO8859P1)
    // and through gzip-compressed AL32UTF8 bytes inside one plan.
    Gate("f6_f14_gzip", (s, dir) => {
      documents(s, dir).select(col("doc_id"),
          oracharset_decode(
            oracharset_encode(col("text"), "WE8ISO8859P1"),
            "WE8ISO8859P1").as("latin_rt"),
          oracharset_decode(
            gzip_decompress(gzip_compress(
              oracharset_encode(col("text"), "AL32UTF8"))),
            "AL32UTF8").as("gz_rt"))
    }, _ =>
      """SELECT doc_id, text AS latin_rt, text AS gz_rt
        |FROM documents ORDER BY doc_id""".stripMargin),
    // F12: LOB locator — inline payload round-trips; every 10th doc is
    // out-of-row (locator carries only the LobId, data resolves to NULL
    // until the T8 assembler supplies it)
    Gate("f12_lob_loc", (s, dir) => {
      val d = documents(s, dir).withColumn("loc",
        when(col("doc_id") % 10 === 0, lob_out_of_row(col("doc_id")))
          .otherwise(lob_inline(to_binary(col("text"), lit("utf-8")))))
      d.select(col("doc_id"),
          lob_is_inline(col("loc")).as("is_inline"),
          lob_inline_data(col("loc")).cast("string").as("text_rt"),
          lob_id(col("loc")).as("lob_id"))
    }, _ =>
      """SELECT doc_id,
        |       doc_id % 10 <> 0 AS is_inline,
        |       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE text END AS text_rt,
        |       CASE WHEN doc_id % 10 = 0 THEN doc_id ELSE NULL END AS lob_id
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
