package graft

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
}
