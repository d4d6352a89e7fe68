package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** VecBoundsAgg: element-wise min/max bounds in one mergeable pass —
  * correctness vs the explode formulation, buffer merge/shrink rules,
  * and the serialize roundtrip partial aggregation depends on.
  */
class VecBoundsSpec extends AnyFunSuite with SharedSpark {

  test("bounds equal the explode formulation on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(Array.fill(16)(rnd.nextLong() % 1000))
    val df = rows.map(v => Tuple1(v)).toDF("q").repartition(4)
    val got = df.agg(VecBoundsFunctions.vec_bounds(col("q")).as("b"))
      .select(col("b.mns"), col("b.mxs"))
      .as[(Seq[Long], Seq[Long])].head()
    val exp = (0 until 16).map(i => (rows.map(_(i)).min, rows.map(_(i)).max))
    assert(got._1 === exp.map(_._1))
    assert(got._2 === exp.map(_._2))
  }

  test("mixed lengths fold to the shortest vector's prefix") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(5L, 9L, 100L)), Tuple1(Array(1L, 20L)))
      .toDF("q")
    val got = df.agg(VecBoundsFunctions.vec_bounds(col("q")).as("b"))
      .select(col("b.mns"), col("b.mxs"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(got === ((Seq(1L, 9L), Seq(5L, 20L))))
  }

  test("buffer serialize roundtrip preserves state, empty included") {
    val b = new VecBoundsBuffer
    assert(!VecBoundsBuffer.fromBytes(b.toBytes).nonEmpty)
    val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(3L, -7L, 9L))
    b.add(v)
    val r = VecBoundsBuffer.fromBytes(b.toBytes)
    assert(r.mins.toSeq === Seq(3L, -7L, 9L))
    assert(r.maxs.toSeq === Seq(3L, -7L, 9L))
  }

  test("vec_sum equals the explode formulation and roundtrips its buffer") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(150)(Array.fill(12)(rnd.nextLong() % 100000))
    val df = rows.map(v => Tuple1(v)).toDF("q").repartition(4)
    val got = df.agg(VecBoundsFunctions.vec_sum(col("q")).as("s"))
      .as[Seq[Long]].head()
    assert(got === (0 until 12).map(i => rows.map(_(i)).sum))
    val b = new VecSumBuffer
    b.add(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(1L, 2L, 3L)))
    b.add(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(10L, 20L)))
    val r = VecSumBuffer.fromBytes(b.toBytes)
    assert(r.sums.toSeq === Seq(11L, 22L))
    val e = new VecSumBuffer
    e.mergeFrom(r)
    assert(e.sums.toSeq === Seq(11L, 22L))
  }

  test("merge is commutative over disjoint partials and respects shrink") {
    def buf(vs: Array[Long]*): VecBoundsBuffer = {
      val b = new VecBoundsBuffer
      vs.foreach(v => b.add(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v)))
      b
    }
    val a = buf(Array(1L, 10L, 5L))
    val b = buf(Array(4L, 2L))
    a.mergeFrom(b)
    assert(a.mins.toSeq === Seq(1L, 2L) && a.maxs.toSeq === Seq(4L, 10L))
    val c = buf(Array(4L, 2L))
    c.mergeFrom(buf(Array(1L, 10L, 5L)))
    assert(c.mins.toSeq === Seq(1L, 2L) && c.maxs.toSeq === Seq(4L, 10L))
    val e = new VecBoundsBuffer
    e.mergeFrom(a)
    assert(e.mins.toSeq === a.mins.toSeq)
  }
}
