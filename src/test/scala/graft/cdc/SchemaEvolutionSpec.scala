package graft.cdc

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.SchemaEvolution._

class SchemaEvolutionSpec extends AnyFunSuite {

  private val base = TableVersion(StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("NAME", StringType),
    StructField("AMT", DecimalType(12, 2)))), 1)

  test("oracle type mapping follows the NUMBER precision split") {
    assert(oraType("NUMBER(2)") === ByteType)
    assert(oraType("NUMBER(4)") === ShortType)
    assert(oraType("NUMBER(9)") === IntegerType)
    assert(oraType("NUMBER(18)") === LongType)
    assert(oraType("NUMBER(25)") === DecimalType(25, 0))
    assert(oraType("NUMBER(12,2)") === DecimalType(12, 2))
    assert(oraType("NUMBER") === DoubleType)
    // explicit zero scale is the SAME integral split as NUMBER(p) — a
    // NUMBER(19,0) surrogate key must never become a lossy double
    assert(oraType("NUMBER(9,0)") === IntegerType)
    assert(oraType("NUMBER(19,0)") === DecimalType(19, 0))
    // negative scale widens magnitude: NUMBER(5,-2) holds up to 10^7
    assert(oraType("NUMBER(5,-2)") === IntegerType)
    assert(oraType("VARCHAR2(100)") === StringType)
    assert(oraType("TIMESTAMP(6)") === TimestampNTZType)
    // the zone qualifier survives the precision-arg strip: zoned types
    // are instant-typed, never silently NTZ
    assert(oraType("TIMESTAMP(6) WITH TIME ZONE") === TimestampType)
    assert(oraType("TIMESTAMP WITH LOCAL TIME ZONE") === TimestampType)
    assert(oraType("RAW(2000)") === BinaryType)
    assert(oraType("BINARY_DOUBLE") === DoubleType)
    // length-semantics qualifiers and star precision from real DDL
    assert(oraType("VARCHAR2(30 CHAR)") === StringType)
    assert(oraType("VARCHAR2(30 BYTE)") === StringType)
    assert(oraType("NUMBER(*,2)") === DecimalType(38, 2))
    assert(oraType("NUMBER(*)") === DecimalType(38, 0))
  }

  test("add single and multi column bump the version") {
    val v2 = applyDdl(base, """ALTER TABLE S.T ADD C1 NUMBER(9) NOT NULL""")
    assert(v2.version === 2)
    assert(v2.schema.fields.last === StructField("C1", IntegerType, nullable = false))
    val v3 = applyDdl(v2, """alter table S.T add (C2 varchar2(10), C3 date)""")
    assert(v3.version === 3)
    assert(v3.schema.fieldNames.takeRight(2) === Array("C2", "C3"))
  }

  test("modify, rename, drop, set unused") {
    val m = applyDdl(base, "ALTER TABLE S.T MODIFY NAME VARCHAR2(200)")
    assert(m.version === 1) // length change maps to the same Spark type → no bump
    val m2 = applyDdl(base, "ALTER TABLE S.T MODIFY AMT NUMBER(18)")
    assert(m2.version === 2 && m2.schema("AMT").dataType === LongType)
    val r = applyDdl(base, """ALTER TABLE S.T RENAME COLUMN NAME TO FULL_NAME""")
    assert(r.version === 2 && r.schema.fieldNames.toSeq === Seq("ID", "FULL_NAME", "AMT"))
    val d = applyDdl(base, "ALTER TABLE S.T DROP COLUMN AMT")
    assert(d.version === 2 && d.schema.fieldNames.toSeq === Seq("ID", "NAME"))
    val d2 = applyDdl(base, "ALTER TABLE S.T DROP (NAME, AMT)")
    assert(d2.schema.fieldNames.toSeq === Seq("ID"))
    val u = applyDdl(base, "ALTER TABLE S.T SET UNUSED COLUMN NAME")
    assert(u.schema.fieldNames.toSeq === Seq("ID", "AMT"))
  }

  test("DEFAULT clauses parse: the type maps without the default text") {
    val v = applyDdl(base, "ALTER TABLE S.T ADD (D DATE DEFAULT SYSDATE, " +
      "N NUMBER(9) DEFAULT 0 NOT NULL)")
    assert(v.schema("D").dataType === TimestampNTZType)
    assert(v.schema("N") === StructField("N", IntegerType, nullable = false))
  }

  test("idempotent-safe guards") {
    // dropping a column that's already gone: no bump, no error (restart replay)
    val d = applyDdl(base, "ALTER TABLE S.T DROP COLUMN NOPE")
    assert(d.version === 1)
    intercept[IllegalArgumentException] {
      applyDdl(base, "ALTER TABLE S.T RENAME COLUMN NOPE TO X")
    }
    intercept[IllegalArgumentException] {
      applyDdl(base, "ALTER TABLE S.T ADD ID NUMBER(9)")
    }
  }

  test("drop/set-unused strip trailing Oracle options") {
    val d = applyDdl(base, "ALTER TABLE S.T DROP COLUMN NAME CASCADE CONSTRAINTS")
    assert(d.version === 2 && !d.schema.fieldNames.contains("NAME"))
    val d2 = applyDdl(base, "ALTER TABLE S.T DROP (NAME, AMT) CASCADE CONSTRAINTS")
    assert(d2.schema.fieldNames.toSeq === Seq("ID"))
    val u = applyDdl(base, "ALTER TABLE S.T SET UNUSED COLUMN AMT ONLINE")
    assert(!u.schema.fieldNames.contains("AMT"))
    val c = applyDdl(base, "ALTER TABLE S.T DROP COLUMN AMT CHECKPOINT 500")
    assert(!c.schema.fieldNames.contains("AMT"))
    // COMBINED options must all strip, not just the last one
    val m = applyDdl(base,
      "ALTER TABLE S.T DROP COLUMN AMT CASCADE CONSTRAINTS CHECKPOINT 500")
    assert(!m.schema.fieldNames.contains("AMT"))
    val m2 = applyDdl(base,
      "ALTER TABLE S.T SET UNUSED COLUMN NAME CASCADE CONSTRAINTS ONLINE")
    assert(!m2.schema.fieldNames.contains("NAME"))
  }

  test("no-space parenthesized verb forms parse") {
    val a = applyDdl(base, "ALTER TABLE S.T ADD(C9 NUMBER(4))")
    assert(a.schema.fieldNames.contains("C9"))
    val m = applyDdl(base, "ALTER TABLE S.T MODIFY(NAME CLOB)")
    assert(m.version === 1) // CLOB still maps to StringType: no change
    val d = applyDdl(base, "ALTER TABLE S.T DROP(NAME)")
    assert(!d.schema.fieldNames.contains("NAME"))
  }

  test("replayed identical ADD is a no-op; conflicting type still fails") {
    val a = applyDdl(base, "ALTER TABLE S.T ADD NAME VARCHAR2(50)")
    assert(a.version === 1) // same name, same type → idempotent replay
    intercept[IllegalArgumentException] {
      applyDdl(base, "ALTER TABLE S.T ADD NAME NUMBER(9)")
    }
  }

  test("scale greater than precision widens to a legal decimal") {
    assert(oraType("NUMBER(2,7)") === DecimalType(7, 7))
  }

  test("registry tracks per-table versions") {
    val reg = new SchemaRegistry
    reg.register("S.T", base.schema)
    assert(reg.applyDdl("S.T", "ALTER TABLE S.T ADD C9 NUMBER(4)") === 2)
    assert(reg.applyDdl("S.T", "ALTER TABLE S.T DROP COLUMN C9") === 3)
    assert(reg.get("S.T").get.version === 3)
    intercept[NoSuchElementException] { reg.applyDdl("S.X", "ALTER TABLE S.X ADD A DATE") }
  }

  test("stampBatch is idempotent under micro-batch replay") {
    // foreachBatch is at-least-once: the SAME batch [row@10, DDL@11,
    // row@12] can run twice (sink failure after the registry mutated,
    // or a crash between the history append and the checkpoint
    // commit). The replay must stamp the pre-DDL row with the OLD
    // version both times — the version-at-commit timeline, not the
    // registry head — and must not re-append the DDL to the history.
    val hist = graft.SharedSpark
      .tempDir("stamp_replay").resolve("h.tsv")
    def ch(commit: Long, scn: Long, op: Int,
        after: Map[String, String]): EmittedChange =
      EmittedChange("x", commit, scn, 0, "S.T", op, s"r$scn", scn,
        Map.empty, after)
    val batch = Seq(
      ch(10, 1, Ops.Insert, Map("ID" -> "1")),
      // DDL text spans lines — the history encoding must survive it
      ch(11, 2, Ops.Ddl,
        Map("ddl" -> "ALTER TABLE S.T ADD (\n  C9 NUMBER(4)\n)")),
      ch(12, 3, Ops.Insert, Map("ID" -> "2", "C9" -> "7")))
    val reg = new SchemaRegistry
    reg.register("S.T", base.schema)
    val first = reg.stampBatch(batch, Some(hist)).map(_._2)
    assert(first === Seq(1, 2), "pre-DDL row v1, post-DDL row v2")
    val replay = reg.stampBatch(batch, Some(hist)).map(_._2)
    assert(replay === Seq(1, 2),
      s"replayed batch stamped $replay — the pre-DDL row must keep v1")
    assert(java.nio.file.Files.readAllLines(hist).size === 1,
      "replay must not duplicate the history record")
    // restart path: a registry rebuilt from the history file stamps
    // the same replayed batch identically (multi-line DDL decoded)
    val reg2 = SchemaRegistry.replay(Map("S.T" -> base.schema), Some(hist))
    assert(reg2.get("S.T").get.version === 2)
    assert(reg2.stampBatch(batch, Some(hist)).map(_._2) === Seq(1, 2))
    assert(java.nio.file.Files.readAllLines(hist).size === 1)
  }

  test("modify without effective change does not bump") {
    val m = applyDdl(base, "ALTER TABLE S.T MODIFY NAME VARCHAR2(4000)")
    assert(m.version === 1)
  }

  test("a data row sharing its commit SCN with a DDL stamps identically on replay") {
    // the interleaved-pass hazard: with row@(100,1) before DDL@(100,2),
    // a single pass stamps the row OLD first time (DDL not yet on the
    // timeline) but NEW on replay — the two-phase stampBatch applies
    // the DDL first, so the tie rule (a DDL at C governs rows at C)
    // holds on every pass
    def ch(commit: Long, scn: Long, op: Int,
        after: Map[String, String]): EmittedChange =
      EmittedChange("x", commit, scn, 0, "S.T", op, s"r$scn", scn,
        Map.empty, after)
    val batch = Seq(
      ch(100, 1, Ops.Insert, Map("ID" -> "1")),
      ch(100, 2, Ops.Ddl, Map("ddl" -> "ALTER TABLE S.T ADD C9 NUMBER(4)")))
    val reg = new SchemaRegistry
    reg.register("S.T", base.schema)
    val first = reg.stampBatch(batch).map(_._2)
    val replay = reg.stampBatch(batch).map(_._2)
    assert(first === replay,
      s"stamps diverged across replay: $first then $replay")
    assert(first === Seq(2), "the DDL at the shared commit SCN governs the row")
  }

  test("stampBatch fails loudly on a data row for an unregistered table") {
    val reg = new SchemaRegistry
    reg.register("S.T", base.schema)
    val row = EmittedChange("x", 10, 1, 0, "S.UNKNOWN", Ops.Insert,
      "r1", 1, Map.empty, Map("ID" -> "1"))
    intercept[NoSuchElementException] { reg.stampBatch(Seq(row)) }
  }

  test("replay rejects a corrupted 3-field history line instead of applying garbage") {
    val hist = graft.SharedSpark
      .tempDir("hist_corrupt").resolve("h.tsv")
    // SCN field corrupted to non-numeric: must throw, not fall back to
    // the 2-field legacy interpretation with the tail applied as DDL
    java.nio.file.Files.writeString(hist,
      "S.T\t1o0\tALTER TABLE S.T ADD C9 NUMBER(4)\n")
    val ex = intercept[IllegalArgumentException] {
      SchemaRegistry.replay(Map("S.T" -> base.schema), Some(hist))
    }
    assert(ex.getMessage.contains("unparseable"))
  }
}
