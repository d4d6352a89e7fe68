package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters in Spark 4
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Lives in the
  * org.apache.spark.sql package purely for access; no Spark internals are
  * modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` (package-private): the type of an entry in
    * `ExpectsInputTypes.inputTypes` — a `DataType` or a type family such
    * as `DecimalType` or a `TypeCollection`.
    */
  type InputType = types.AbstractDataType
  /** An input that accepts any one of `ts`. */
  def oneOf(ts: InputType*): InputType = types.TypeCollection(ts: _*)

  /** The given one-row/one-column frame as a scalar-subquery expression —
    * the shape Spark's own runtime-filter injection uses: the subquery
    * plan executes ONCE and its value is bound into the outer plan as a
    * per-task constant (a codegen reference object, not a per-row column
    * read). Carrying a large value (e.g. a bloom bitset) as a joined
    * column instead costs one defensive array copy per probed row.
    */
  def scalarSubquery(df: Dataset[_]): Expression =
    catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed)

  /** `df` with its analyzed plan wrapped by `wrap` — the way to put a
    * logical node of graft's own into a DataFrame's plan.
    */
  def wrapPlan(df: DataFrame)(wrap: catalyst.plans.logical.LogicalPlan =>
      catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      wrap(df.queryExecution.analyzed))
}
