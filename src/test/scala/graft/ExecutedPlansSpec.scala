package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SharedSpark.executedPlans]] sees the plans a gate runs, and only
  * those: the plan audits rest on it.
  */
class ExecutedPlansSpec extends AnyFunSuite with SharedSpark {

  test("captures the plan run inside an eager localCheckpoint(true)") {
    val qes = executedPlans {
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().localCheckpoint(true)
    }
    assert(qes.size == 1, s"expected the checkpoint's one execution, got ${qes.size}")
    val p = finalPlan(qes.head)
    // the final adaptive plan: the aggregate ran through a shuffle stage
    assert(p.contains("HashAggregate") && p.contains("ShuffleQueryStage"), p)
  }

  test("captures nothing for a body that runs no query") {
    assert(executedPlans(spark.range(10).selectExpr("id + 1 AS x")).isEmpty)
  }

  test("a cached relation's plan is part of the final plan") {
    val cached = spark.range(0, 100, 1, 4).selectExpr("id * 3 AS x").persist()
    try {
      val p = finalPlan(executedPlans(cached.filter("x > 5").count()).last)
      val rel = p.indexOf("InMemoryRelation")
      assert(rel >= 0 && p.indexOf("Range (0, 100", rel) > rel,
        s"the cache's plan must follow its relation:\n$p")
    } finally cached.unpersist(blocking = true)
  }
}
