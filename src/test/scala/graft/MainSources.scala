package graft

import java.io.File

import scala.io.Source

import org.scalatest.Assertions.fail

/** The engine's Scala sources (`src/main/scala`) and the suites'
  * (`src/test/scala`), found from the test's working directory up — for
  * specs that scan the code itself.
  */
object MainSources {

  lazy val root: File = above("src/main/scala")
  lazy val testRoot: File = above("src/test/scala")

  /** Every `.scala` file under [[root]], in a stable order. */
  def files: Seq[File] = scalaFiles(root)

  /** Every `.scala` file under [[testRoot]], in a stable order. */
  def testFiles: Seq[File] = scalaFiles(testRoot)

  def text(f: File): String = {
    val src = Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def above(dir: String): File =
    Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(new File(_, dir))
      .find(f => new File(f, "graft").isDirectory)
      .getOrElse(fail(s"$dir/graft not found above the working dir"))
}
