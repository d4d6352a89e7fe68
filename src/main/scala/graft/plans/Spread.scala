package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Round-robin spread of an under-split scan over `numPartitions` tasks
  * (see `graft.Tables.tablePar`), planned as the same exchange
  * `repartition(n)` plans to.
  *
  * Unlike `Repartition` it is a boundary for predicate pushdown: Spark's
  * `PushPredicateThroughNonJoin` moves a `Filter` only through the node
  * types it knows, and a `Filter` above a `Repartition` is one of them.
  * Pushed there, the filter carries the aliased kernel expressions it
  * references (token hashing, classifier scores, shingle overlaps) into
  * the one-task scan stage below the spread, so the map work the spread
  * exists to parallelize runs on one core. Column pruning still reaches
  * the scan: `ColumnPruning` narrows the child of any node whose output
  * is its child's.
  */
case class Spread(numPartitions: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Spread =
    copy(child = newChild)
}

/** Plans [[Spread]] as a round-robin shuffle exchange. */
object SpreadStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Spread(n, child) =>
      ShuffleExchangeExec(RoundRobinPartitioning(n), planLater(child),
        REPARTITION_BY_NUM) :: Nil
    case _ => Nil
  }
}
