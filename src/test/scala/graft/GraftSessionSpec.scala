package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKRewrite

class GraftSessionSpec extends AnyFunSuite {

  test("an unset core count means every available core") {
    assert(GraftSession.parseCpus(None) ===
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCpus(Some("3")) === 3)
  }

  test("a core count that is not a positive integer is rejected by name") {
    Seq("0", "-2", "four", "", "2.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  private val known = Set("q1_agg", "pipe_curate")

  test("an unset gate filter means every gate") {
    assert(GraftSession.parseOnly(None, known) === None)
    assert(GraftSession.parseOnly(Some("pipe_curate,q1_agg"), known) === Some(known))
  }

  test("a gate filter naming no gate is rejected with the unknown names") {
    Seq("q1_agg,q9_nope" -> Seq("q9_nope"), "q1_agg, pipe_curate" -> Seq(" pipe_curate"),
        "" -> Seq(""), "q1_agg," -> Seq(""), "x,y" -> Seq("x", "y")).foreach {
      case (v, unknown) =>
        val e = intercept[IllegalArgumentException](
          GraftSession.parseOnly(Some(v), known))
        assert(e.getMessage.contains("SPARK_GRAFT_ONLY"), e.getMessage)
        unknown.foreach(n => assert(e.getMessage.contains(s"'$n'"), e.getMessage))
    }
  }

  test("a built session runs the RocksDB state store and graft's optimizer rules") {
    val s = SharedSpark.spark
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(s.conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(s.sessionState.optimizer.batches.exists(_.rules.contains(TopKRewrite)),
      "GraftExtensions did not install TopKRewrite")
  }
}
