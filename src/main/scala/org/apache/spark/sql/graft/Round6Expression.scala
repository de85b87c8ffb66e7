package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** rz6(x) → x rounded half away from zero to 6 decimal places: the
  * [[graft.util.Round6]] law as one Catalyst node, so its argument is
  * evaluated ONCE. Written as a Column formula the law names its argument
  * twice (sign and magnitude), and nested uses multiply: rz6 of an
  * expression holding rz6 doubles the inner tree each level, and inside
  * interpreted higher-order lambdas no subexpression elimination folds
  * the copies back. */
case class Rz6(child: Expression)
    extends UnaryExpression with GeoExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "rz6"
  override protected def nullSafeEval(v: Any): Any =
    graft.util.Round6.rz6d(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.util.Round6.rz6d($v)")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}
