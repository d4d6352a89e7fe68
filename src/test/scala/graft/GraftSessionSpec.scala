package graft

import org.scalatest.funsuite.AnyFunSuite

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
}
