package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The Spark session every suite runs on: the one [[GraftSession.build]]
  * makes for Verify and Bench. sbt runs all suites one after another in
  * one forked JVM, so the session is built once and shared; a suite that
  * needs a SQL conf sets it with [[withConf]], which puts the prior value
  * back for the suites after it.
  */
trait SharedSpark {

  protected lazy val spark: SparkSession = SharedSpark.spark

  /** Runs `body` with each `key -> value` set on the session's SQL conf,
    * then restores every key to its prior value (or unsets it).
    */
  protected def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SharedSpark {

  /** Over the smallest testdata, at the 4 cores most suites asked for
    * when each built its own session.
    */
  lazy val spark: SparkSession = GraftSession.build("/root/testdata/sf0.001", 4)

  private val tempRoots = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => tempRoots.forEach { p =>
    (p.toFile +: artifactsOf(p)).foreach(FileUtils.deleteQuietly)
  }))

  /** The engine's build-once artifacts of a dataset at `dir`: they sit
    * beside it in the JVM temp dir, named after its path (see
    * [[Tables.artifactPath]]).
    */
  private def artifactsOf(dir: Path): Seq[File] = {
    val key = Tables.artifactPath("", dir.toString).split('/').last
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(key))
  }

  /** A fresh directory under the JVM temp dir that is deleted, with
    * everything in it and every engine artifact built from it, when the
    * test JVM exits.
    */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p
  }

  /** A fresh empty file, in a [[tempDir]] of its own. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tempDir(prefix), prefix, suffix)
}
