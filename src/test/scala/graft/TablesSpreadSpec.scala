package graft

import org.apache.spark.sql.catalyst.plans.logical.{Filter, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Spread

/** The contract of `Tables.tablePar`'s spread: an under-split scan comes
  * out on every core, columns are still pruned at the scan, filters stay
  * above the spread, and a plain `repartition` keeps Spark's behavior.
  */
class TablesSpreadSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def roundRobin(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case RoundRobinPartitioning(n) => n }

  test("a single-row-group input comes out with defaultParallelism partitions") {
    val target = spark.sparkContext.defaultParallelism
    assert(target > 1)
    assert(Tables.table(spark, dir, "documents").rdd.getNumPartitions === 1)
    val spread = Tables.tablePar(spark, dir, "documents")
    assert(spread.rdd.getNumPartitions === target)
    assert(roundRobin(spread) === Seq(target))
    assert(spread.count() === Tables.table(spark, dir, "documents").count())
  }

  test("a two-column select above the spread reads two columns at the scan") {
    val df = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1)
    assert(scans.head.requiredSchema.fieldNames.toSeq === Seq("doc_id", "source"))
    assert(scans.head.metadata("ReadSchema") ===
      "struct<doc_id:bigint,source:string>")
    assert(roundRobin(df) === Seq(spark.sparkContext.defaultParallelism))
  }

  test("a filter above the spread stays above it") {
    val df = Tables.documents(spark, dir).filter(col("n_chars") > 100)
    val opt = df.queryExecution.optimizedPlan
    val spreads = opt.collect { case s: Spread => s }
    assert(spreads.size === 1)
    assert(spreads.head.collect { case f: Filter => f }.isEmpty, opt.toString)
    assert(opt.collect { case f: Filter => f }.nonEmpty, opt.toString)
  }

  test("a plain repartition above a non-spread scan is unaffected") {
    val df = Tables.lineitem(spark, dir).repartition(3)
      .filter(col("l_quantity") > 10)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case s: Spread => s }.isEmpty, opt.toString)
    // Spark still pushes the filter below a plain repartition
    val parts = opt.collect { case r: Repartition => r }
    assert(parts.map(_.numPartitions) === Seq(3), opt.toString)
    assert(parts.head.collect { case f: Filter => f }.nonEmpty, opt.toString)
    assert(roundRobin(df) === Seq(3))
    assert(df.rdd.getNumPartitions === 3)
  }
}
