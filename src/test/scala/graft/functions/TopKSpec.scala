package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class TopKSpec extends AnyFunSuite with SharedSpark {

  test("heap keeps k best with score-desc id-asc tie-break, merge works") {
    val h = new TopKHeap(3)
    h.add(1.0, 10, 0); h.add(2.0, 20, 0); h.add(3.0, 30, 0)
    h.add(0.5, 40, 0) // worse than all → rejected
    h.add(2.0, 5, 0)  // ties 2.0 but smaller id → evicts (1.0, 10)
    assert(h.sortedBestFirst.map(e => (e.score, e.id)).toSeq ==
      Seq((3.0, 30L), (2.0, 5L), (2.0, 20L)))

    val other = new TopKHeap(3)
    other.add(9.0, 1, 7); other.add(2.5, 2, 0)
    h.mergeFrom(other)
    assert(h.sortedBestFirst.map(e => (e.score, e.id)).toSeq ==
      Seq((9.0, 1L), (3.0, 30L), (2.5, 2L)))

    val rt = TopKHeap.fromBytes(3, h.toBytes)
    assert(rt.sortedBestFirst.map(e => (e.score, e.id, e.payload)).toSeq ==
      h.sortedBestFirst.map(e => (e.score, e.id, e.payload)).toSeq)
  }

  test("NaN scores rank greatest deterministically, regardless of arrival order") {
    val early = new TopKHeap(2)
    early.add(Double.NaN, 9, 0); early.add(1.0, 1, 0); early.add(2.0, 2, 0)
    val late = new TopKHeap(2)
    late.add(1.0, 1, 0); late.add(2.0, 2, 0); late.add(Double.NaN, 9, 0)
    val e = early.sortedBestFirst.map(x => (x.score.isNaN, x.id)).toSeq
    val l = late.sortedBestFirst.map(x => (x.score.isNaN, x.id)).toSeq
    assert(e == l)
    assert(e == Seq((true, 9L), (false, 2L)))
  }

  test("aggregate matches a window top-k on grouped data, across partitions") {
    import spark.implicits._
    // 4 groups × 250 rows spread over 4 partitions; deterministic scores
    // with engineered ties (score = (i % 50) / 10.0 collides heavily)
    val df = (0 until 1000).map { i =>
      (i % 4, (i % 50) / 10.0, i.toLong, i.toLong * 2)
    }.toDF("g", "score", "id", "payload").repartition(4)

    val viaAgg = df.groupBy(col("g"))
      .agg(TopKFunctions.topk_by_score(5, col("score"), col("id"), col("payload")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), col("pos"), col("e.score"), col("e.id"), col("e.payload"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toSet

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("g"), (col("rn") - 1).as("pos"), col("score"), col("id"), col("payload"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toSet

    assert(viaAgg == viaWindow)
  }

  test("partial aggregation is in the plan (ObjectHashAggregate, two phases)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i % 3, i / 10.0, i.toLong)).toDF("g", "s", "i")
    val plan = df.groupBy(col("g"))
      .agg(TopKFunctions.topk_by_score(2, col("s"), col("i"), lit(0L)).as("t"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2) // partial + final
  }
}
