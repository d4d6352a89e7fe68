package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every stateful streaming operator runs on `transformWithState`, so
  * one state API and one state store carry them all, and work on its
  * commits or its crash recovery covers every operator. The older
  * group-state API stays out of src/main.
  */
class OneStateApiSpec extends AnyFunSuite {

  private val groupStateApi =
    """flatMapGroupsWithState|mapGroupsWithState|GroupState""".r

  test("no file in src/main uses the group-state streaming API") {
    val sites = for {
      f <- MainSources.files
      src = MainSources.text(f)
      m <- groupStateApi.findAllMatchIn(src)
    } yield s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}: " +
      m.matched
    assert(MainSources.files.nonEmpty)
    assert(sites.isEmpty, s"group-state API in src/main: $sites")
  }
}
