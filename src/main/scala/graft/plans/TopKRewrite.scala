package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.RowTopK

/** Optimizer rule: rewrite the ubiquitous "top-n per group" window
  * pattern
  *
  * {{{ Filter(rn <= k, Window(row_number() over (partition by p order by s) AS rn, child)) }}}
  *
  * into a bounded-heap aggregate + posexplode:
  *
  * {{{ Project(child.* , pos+1 AS rn,
  *       Generate(posexplode(topk),
  *         Aggregate(p, row_topk(k, s, struct(child.*)) AS topk, child))) }}}
  *
  * Why: Spark's InferWindowGroupLimit already bounds the SHUFFLE for
  * this pattern (it inserts a map-side per-group limit below the
  * exchange), but the window machinery it keeps still SORTS twice —
  * a full sort of every map partition before the group limit
  * (O(n log n) over all rows) and a re-sort after the shuffle — and
  * still shuffles k rows per group per partition. The heap aggregate
  * sorts nothing anywhere: admission is O(log k) per row against the
  * heap root, partial aggregation forwards ONE array row per group per
  * partition, and the final order falls out of the k-element heap.
  * At 100 TB the map-side full sort of the fact table is the cost that
  * matters; `TopKRewriteSpec` asserts the rewritten plan contains no
  * Sort operator at all and shuffles fewer records than the
  * group-limited window plan.
  *
  * Semantics preserved exactly: the heap orders by the window's FULL
  * ORDER BY (all keys, direction and null ordering); row_number ties
  * beyond that are nondeterministic in the window form too. Matches
  * conservatively: single row_number window expression, non-empty
  * ORDER BY, orderable key types, a constant integer upper bound on
  * the rank, k ≤ maxK. Any residual predicates stay as a Filter above
  * the rewrite (rn is still produced, same exprId, so downstream
  * references resolve unchanged).
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private val MaxK = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(we: WindowExpression, _)), ps, os, child, _))
        if isRowNumber(we) && os.nonEmpty &&
          os.forall(o => RowOrdering.isOrderable(o.child.dataType)) =>
      val rn = alias.toAttribute
      val conjuncts = splitConjuncts(cond)
      val bounds = conjuncts.flatMap(upperBound(rn, _))
      if (bounds.isEmpty) f
      else {
        val k = bounds.min
        if (k <= 0 || k > MaxK) f
        else {
          // keep every conjunct that is not a pure droppable bound
          val residual = conjuncts.filter(c => !upperBoundExact(rn, c))
          // When this rule runs AFTER Spark's InferWindowGroupLimit
          // (e.g. injected via experimental.extraOptimizations, a late
          // optimizer batch), the Window's child is already wrapped in a
          // WindowGroupLimit for the same spec. The heap aggregate needs
          // no sorted pre-limit — keeping the node would re-introduce the
          // per-partition Sort the rewrite exists to delete — so strip it
          // when it provably keeps at least the k rows we retain.
          val aggChild = child match {
            case WindowGroupLimit(ps2, os2, _: RowNumber, limit, gc)
                if limit >= k && ps2.length == ps.length &&
                  ps2.zip(ps).forall { case (a, b) => a.semanticEquals(b) } &&
                  os2.length == os.length &&
                  os2.zip(os).forall { case (a, b) => a.semanticEquals(b) } =>
              gc
            case _ => child
          }
          val payloadType = StructType(aggChild.output.map(a =>
            org.apache.spark.sql.types.StructField(a.name, a.dataType,
              a.nullable, a.metadata)))
          val payload = CreateStruct(aggChild.output)
          val agg = RowTopK(k.toInt, os.map(_.child),
            os.map(_.direction == Ascending),
            os.map(_.nullOrdering == NullsFirst), payload)
          val aggAlias = Alias(agg.toAggregateExpression(), "__topk")()
          val aggNode = Aggregate(ps, Seq(aggAlias), aggChild)
          val posAttr = AttributeReference("__pos", IntegerType,
            nullable = false)()
          val rowAttr = AttributeReference("__row", payloadType,
            nullable = false)()
          val gen = Generate(PosExplode(aggAlias.toAttribute),
            unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
            generatorOutput = Seq(posAttr, rowAttr), child = aggNode)
          // restore the original attributes (same exprIds) + the rank
          val restored = aggChild.output.zipWithIndex.map { case (a, i) =>
            Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          }
          val rnOut = Alias(Add(posAttr, Literal(1)), alias.name)(
            exprId = rn.exprId)
          val proj = Project(restored :+ rnOut, gen)
          residual.reduceOption(And).map(Filter(_, proj)).getOrElse(proj)
        }
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def isRowNumber(we: WindowExpression): Boolean = we match {
    case WindowExpression(RowNumber(),
        WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))) =>
      true
    case _ => false
  }

  /** Constant upper bound this conjunct puts on the rank. Long-valued:
    * `rn < Int.MinValue` must yield Int.MinValue-1 (an always-false
    * bound the caller rejects via k <= 0), not wrap to Int.MaxValue.
    */
  private def upperBound(rn: Attribute, e: Expression): Option[Long] = e match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rn) => Some(v.toLong)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rn) => Some(v.toLong - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(v.toLong)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(v.toLong - 1)
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rn) => Some(v.toLong)
    case EqualTo(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(v.toLong)
    case _ => None
  }

  /** true when the conjunct is fully subsumed by keeping ranks 1..k
    * (so it can be dropped rather than re-checked above the rewrite) */
  private def upperBoundExact(rn: Attribute, e: Expression): Boolean = e match {
    case LessThanOrEqual(a: Attribute, Literal(_: Int, IntegerType)) =>
      a.semanticEquals(rn)
    case LessThan(a: Attribute, Literal(_: Int, IntegerType)) =>
      a.semanticEquals(rn)
    case GreaterThanOrEqual(Literal(_: Int, IntegerType), a: Attribute) =>
      a.semanticEquals(rn)
    case GreaterThan(Literal(_: Int, IntegerType), a: Attribute) =>
      a.semanticEquals(rn)
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) =>
      a.semanticEquals(rn) && v == 1
    case EqualTo(Literal(v: Int, IntegerType), a: Attribute) =>
      a.semanticEquals(rn) && v == 1
    // row_number is never null: IsNotNull(rn) is vacuous, drop it
    case IsNotNull(a: Attribute) => a.semanticEquals(rn)
    case _ => false
  }
}

/** Session extensions entry point:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  * Installs the top-k rewrite and the planner of [[Spread]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TopKRewrite)
    ext.injectPlannerStrategy(_ => SpreadStrategy)
  }
}
