package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each operator runs one way. A `materialize: Boolean` parameter forks
  * an operator into the path it runs and a lazy plan only a test reads;
  * plan audits read the plans that ran instead
  * ([[SharedSpark.executedPlans]]).
  */
class OneExecutablePathSpec extends AnyFunSuite {

  private val flag = """\bmaterialize\s*:\s*Boolean\b""".r

  test("no function in src/main takes a materialize: Boolean parameter") {
    val sites = for {
      f <- MainSources.files
      src = MainSources.text(f)
      m <- flag.findAllMatchIn(src)
    } yield s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}"
    assert(MainSources.files.nonEmpty)
    assert(sites.isEmpty, s"materialize flags in src/main: $sites")
  }
}
