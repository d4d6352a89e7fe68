package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads only the environment a deployment sets. A new knob
  * has to be added to `allowed` here, on purpose, or this fails.
  */
class EnvKnobsSpec extends AnyFunSuite {

  private val allowed =
    Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY")

  private val read = """sys\.env|System\.getenv""".r
  // a read that names its variable with a string literal
  private val named =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]*)"""".r

  test("src/main reads no environment variable outside the allowlist") {
    val reads = for {
      f <- MainSources.files
      (line, no) <- MainSources.text(f).linesIterator.toList.zipWithIndex
      if read.findFirstIn(line).isDefined
    } yield (s"${f.getName}:${no + 1}", line)
    assert(reads.nonEmpty, s"no env reads found under ${MainSources.root}")
    // every read must name its variable, so the allowlist can judge it
    val unnamed = reads.filter { case (_, l) =>
      read.findAllIn(l).size != named.findAllIn(l).size }
    assert(unnamed.isEmpty, s"env reads without a literal name: $unnamed")
    val names = reads.flatMap { case (at, l) =>
      named.findAllMatchIn(l).map(m => (at, m.group(1))) }
    val outside = names.filterNot { case (_, n) => allowed.contains(n) }
    assert(outside.isEmpty, s"env knobs outside the allowlist: $outside")
    assert(names.map(_._2).toSet === allowed)
  }
}
