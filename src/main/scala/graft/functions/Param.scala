package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A double that enters a plan as a PARAMETER, not a literal: fitted
  * coefficients, (X'X)^-1 entries, variances, budgets — any value that
  * changes from one request to the next.
  *
  * Spark writes a `Literal` double into the generated Java source, so a
  * plan whose only difference is a fitted value in its last digit
  * compiles a brand-new class, and those classes crowd one another out
  * of the 100-entry codegen cache. This expression reads its value from
  * the generated class's reference array instead (the
  * [[BucketIndexExpr]] idiom), so the source — and the compiled class —
  * is the same for every value.
  *
  * Not foldable, so the optimizer keeps it as a leaf; the arithmetic
  * around it runs at execution time exactly as it would have been
  * folded (the same IEEE operations in the same order). `hashCode`
  * ignores the value: subexpression elimination orders its generated
  * methods by expression hash, and a value-dependent hash would reorder
  * them per request. `equals` still compares the value, so two
  * parameters with different values never merge. */
case class ParamExpr(value: Double) extends LeafExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "param"
  override def sql: String = s"param($value)"
  override def toString: String = s"param($value)"
  override def hashCode: Int = ParamExpr.Hash

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value),
      "java.lang.Double")
    ev.copy(isNull = FalseLiteral,
      code = code"final double ${ev.value} = $ref.doubleValue();")
  }
}

object ParamExpr {
  private val Hash = "graft.functions.ParamExpr".hashCode
}

object Param {
  /** Double column whose value is `v`, kept out of the generated code. */
  def apply(v: Double): Column = GraftSqlBridge.column(ParamExpr(v))
}
