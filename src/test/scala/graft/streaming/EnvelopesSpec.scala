package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.cdc.{EmittedChange, Ops}

class EnvelopesSpec extends AnyFunSuite with SharedSpark {

  test("wrapped envelope keeps absent-from-redo distinguishable from NULL") {
    import spark.implicits._
    val changes = Seq(
      // UPDATE with a partial after-image: only B present, B set to NULL
      EmittedChange("x1", 10L, 5L, 0, "S.T", Ops.Update, "r1", 0L,
        Map("A" -> "a0"), Map("B" -> null)),
      // INSERT with full image
      EmittedChange("x1", 10L, 6L, 0, "S.T", Ops.Insert, "r2", 0L,
        Map.empty, Map("A" -> "a1", "B" -> "b1"))).toDS()

    val w = Envelopes.wrapped(changes)
      .select(col("scn"), col("op"),
        map_contains_key(col("after_w"), "A").as("has_a"),
        map_contains_key(col("after_w"), "B").as("has_b"),
        col("after_w.B.V").as("b_val"))
      .orderBy(col("scn"))
      .collect()

    // row 1: A absent (no entry), B present-but-NULL (entry with V=null)
    assert(w(0).getBoolean(2) === false)
    assert(w(0).getBoolean(3) === true)
    assert(w(0).isNullAt(4))
    assert(w(0).getString(1) === "u")
    // row 2: both present with values
    assert(w(1).getBoolean(2) === true && w(1).getBoolean(3) === true)
    assert(w(1).getString(4) === "b1")
  }
}
