package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Per-(bucket, sub) offset of [[graft.core.Windows.exclusivePrefixSum]]:
  * a binary search of the packed `(bucket, sub)` key in a frozen sorted
  * key array, returning the matching offset, or 0.0 for an absent key
  * or a null input.
  *
  * A `when` chain over the same table has one branch per key, so its
  * length and its literals — both data-derived — change the generated
  * source from one request to the next. Here both arrays are reference
  * objects of the generated class (the [[BucketIndexExpr]] idiom) and
  * the source is fixed. The hash ignores the arrays, for the reason
  * [[ParamExpr]] gives. */
case class KeyedOffsetExpr(left: Expression, right: Expression,
    keys: Array[Long], offsets: Array[Double]) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "keyed_offset"
  override def hashCode: Int = (prettyName, left, right).hashCode

  override def eval(input: InternalRow): Any = {
    val b = left.eval(input)
    val s = right.eval(input)
    if (b == null || s == null) 0.0
    else KeyedOffsetExpr.lookup(keys, offsets,
      b.asInstanceOf[Int], s.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ks = ctx.addReferenceObj("keys", keys, "long[]")
    val os = ctx.addReferenceObj("offsets", offsets, "double[]")
    val b = left.genCode(ctx)
    val s = right.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${b.code}
      ${s.code}
      final double ${ev.value} = (${b.isNull} || ${s.isNull}) ? 0.0 :
        graft.functions.KeyedOffsetExpr.lookup($ks, $os, ${b.value}, ${s.value});
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): KeyedOffsetExpr =
    copy(left = newLeft, right = newRight)
}

object KeyedOffsetExpr {
  def key(bucket: Int, sub: Int): Long =
    (bucket.toLong << 32) | (sub.toLong & 0xFFFFFFFFL)

  def lookup(keys: Array[Long], offsets: Array[Double], bucket: Int,
      sub: Int): Double = {
    val i = java.util.Arrays.binarySearch(keys, key(bucket, sub))
    if (i >= 0) offsets(i) else 0.0
  }
}

object KeyedOffset {
  /** Offset column for the int columns `bucket` and `sub` against the
    * table `offsets`. */
  def apply(bucket: Column, sub: Column,
      offsets: Seq[((Int, Int), Double)]): Column = {
    val sorted = offsets.map { case ((b, s), o) =>
      KeyedOffsetExpr.key(b, s) -> o }.sortBy(_._1)
    GraftSqlBridge.column(KeyedOffsetExpr(
      GraftSqlBridge.expression(bucket), GraftSqlBridge.expression(sub),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray))
  }
}
