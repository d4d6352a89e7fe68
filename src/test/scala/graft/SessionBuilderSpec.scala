package graft

import org.scalatest.funsuite.AnyFunSuite

/** A Spark session is configured in one place: [[GraftSession.build]],
  * which Verify, Bench and every suite (through [[SharedSpark]]) use. A
  * file that truly needs its own master or core count has to be added
  * to `allowed`, with its reason, on purpose, or this fails.
  */
class SessionBuilderSpec extends AnyFunSuite {

  private val allowed = Map(
    "GraftSession.scala" -> "the one builder: Verify, Bench and SharedSpark")

  private val builder = """SparkSession\s*\.\s*builder\b""".r

  test("src/main and src/test build a session only in the allow-list") {
    val sites = for {
      f <- MainSources.files ++ MainSources.testFiles
      src = MainSources.text(f)
      m <- builder.findAllMatchIn(src)
    } yield (f.getName, s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}")
    val outside = sites.filterNot { case (n, _) => allowed.contains(n) }
    assert(outside.isEmpty,
      s"session builders outside the allow-list (use SharedSpark): ${outside.map(_._2)}")
    assert(sites.map(_._1).toSet === allowed.keySet)
  }
}
