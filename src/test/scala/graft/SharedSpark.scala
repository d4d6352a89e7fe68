package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

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

  /** Every query execution that ran on the session while `body` ran, in
    * the order they ended. A plan audit reads these to check the plans
    * an operator executed, not a plan it could have built.
    */
  protected def executedPlans(body: => Any): Seq[QueryExecution] = {
    val ran = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ran.add(qe)
    }
    // executions that ended before `body` reach their listeners first
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      GraftTestBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    ran.asScala.toSeq
  }

  /** The plan an execution ran, one node a line, parents before
    * children (see [[SharedSpark.planNodes]]).
    */
  protected def finalPlan(qe: QueryExecution): String =
    SharedSpark.planNodes(qe.executedPlan).map { case (n, depth) =>
      "  " * depth + n.verboseString(SQLConf.get.maxToStringFields)
    }.mkString("\n")
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

  /** The nodes of a physical plan with their depth, parents before
    * children. An adaptive plan stands for its current plan, which is
    * the final one once it ran; a query stage for the plan it wraps; a
    * cached relation is followed by the plan that fills the cache; a
    * plan's subqueries follow its children. The codegen wrappers are
    * left out, as Spark's own plan text leaves them out.
    */
  def planNodes(root: SparkPlan): Seq[(TreeNode[_], Int)] = {
    def walk(n: TreeNode[_], depth: Int): Seq[(TreeNode[_], Int)] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case w: WholeStageCodegenExec => walk(w.child, depth)
      case i: InputAdapter => walk(i.child, depth)
      case _ =>
        val next = n match {
          case s: QueryStageExec => Seq(s.plan)
          case _ => n.children.asInstanceOf[Seq[TreeNode[_]]] ++ n.innerChildren
        }
        (n -> depth) +: next.flatMap(walk(_, depth + 1))
    }
    walk(root, 0)
  }
}
