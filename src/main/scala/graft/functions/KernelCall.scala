package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.GraftSqlBridge.InputType
import org.apache.spark.sql.types.DataType

/** A static kernel bound as a Catalyst expression: `owner.fn(args…)`.
  *
  * Analysis sees this node and checks every argument against its
  * declared type the `ExpectsInputTypes` way — a STRING where BINARY is
  * declared fails analysis instead of being cast. Before planning, the
  * optimizer replaces it by Spark's `StaticInvoke`, which calls the
  * kernel from generated code (`Owner.fn(a, b)` through the Scala
  * object's static forwarder, inside whole-stage codegen) and
  * reflectively when interpreted. A NULL argument gives NULL without
  * calling the kernel; a kernel that can itself return null declares
  * `returnNullable`. Scalar parameters are [[KernelCall.param]] arguments.
  *
  * Kernels that close over a driver-side constant which is not a SQL
  * literal (a `long[][]` codebook, a TDE key that must not print in
  * plan strings) keep a hand-written expression instead.
  */
case class KernelCall(
    name: String,
    owner: Class[_],
    fn: String,
    override val dataType: DataType,
    returnNullable: Boolean,
    inputTypes: Seq[InputType],
    children: Seq[Expression])
  extends Expression with RuntimeReplaceable with ExpectsInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(owner, dataType, fn, children, propagateNull = true,
      returnNullable = returnNullable)

  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"

  override protected def withNewChildrenInternal(
      nc: IndexedSeq[Expression]): KernelCall = copy(children = nc)
}

object KernelCall {

  /** `owner.fn` applied to `args`, each paired with the type it must
    * have; `name` is the function's SQL and Column name.
    */
  def bind(name: String, owner: AnyRef, fn: String, dataType: DataType,
      returnNullable: Boolean = false)(args: (Column, InputType)*): Column =
    GraftSqlBridge.column(KernelCall(name, owner.getClass, fn, dataType,
      returnNullable, args.map(_._2), args.map(a => GraftSqlBridge.expression(a._1))))

  /** A scalar parameter of a kernel: a catalyst `Literal` argument, so a
    * SQL function builder gets a resolved expression too.
    */
  def param(v: Any): Column = GraftSqlBridge.column(Literal(v))
}
