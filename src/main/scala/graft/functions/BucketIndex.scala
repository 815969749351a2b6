package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Interleaved point/range bucket id for a double against a FROZEN
  * sorted boundary array, via binary search — the bucketing kernel of
  * `core/Windows` (value-bucketed prefix sums and rank picks).
  *
  * Semantics (boundaries b_0 < ... < b_{k-1}):
  * v strictly between b_{j-1} and b_j -> 2j (range bucket);
  * v == b_j -> 2j + 1 (point bucket). Monotone in v; with no
  * boundaries every value is in bucket 0. `approxQuantile` boundaries
  * are actual data values, so when the probe collapses (tie-dense or
  * near-constant keys) the mass sits ON the surviving boundaries: point
  * buckets capture exactly those heavy tie runs, and every range bucket
  * is bounded by the probe spacing (more mass between two adjacent
  * distinct boundaries would have yielded another distinct boundary).
  *
  * The when-chain formulation (`sum_i CASE WHEN v > b_i ...`) is O(k)
  * comparisons per row and, at the shuffle-partition boundary counts the
  * helpers use (31+ boundaries, two CASE branches each), compiles to a
  * method large enough to trip codegen/JIT limits — the round-11
  * interleaving doubled it and measurably fell off the compiled path.
  * This expression is O(log k) with a fixed, tiny method body: one
  * `Arrays.binarySearch` against a per-query static array. The hash
  * ignores the boundaries, for the reason [[ParamExpr]] gives. Keyed
  * tables over the buckets (offsets, wanted ranks) go through
  * [[SortedLookupExpr]], which replaced their when-chains the same way. */
case class BucketIndexExpr(child: Expression, boundaries: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bucket_index"
  override def hashCode: Int = (prettyName, child).hashCode

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a double input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    BucketIndexExpr.index(boundaries, input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("boundaries", boundaries, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.BucketIndexExpr.index($arr, $v)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BucketIndexExpr = copy(child = newChild)
}

object BucketIndexExpr {
  /** Interleaved point/range index (see class doc). Java binarySearch
    * returns the match index i (-> 2i + 1) or -(insertion + 1)
    * (-> 2 * insertion). NaN sorts above all values (Java double
    * ordering) and lands in the top range bucket, after every number,
    * which is where SQL's ascending order puts it too. So the rank-pick
    * ranks NaN last, as Spark's `percentile` does, and a NaN prefix-sum
    * key sums after every number. */
  def index(boundaries: Array[Double], v0: Double): Int = {
    // -0.0 + 0.0 == +0.0 (IEEE), everything else unchanged: binarySearch
    // orders -0.0 < 0.0, but SQL treats the zeros as equal, so an
    // unnormalized zero would fall out of its point bucket (callers
    // normalize the boundary array the same way)
    val v = v0 + 0.0d
    val i = java.util.Arrays.binarySearch(boundaries, v)
    if (i >= 0) 2 * i + 1 else 2 * (-i - 1)
  }

  /** Boundary-array hygiene for [[index]]: +0.0-normalize (boxed
    * `.distinct` keeps -0.0 and 0.0 as separate values), dedupe, sort. */
  def normalize(boundaries: Array[Double]): Array[Double] =
    boundaries.map(_ + 0.0d).distinct.sorted
}

object BucketIndex {
  /** Interleaved point/range bucket id of `v` against sorted, distinct
    * `boundaries` (empty boundaries -> constant bucket 0). */
  def apply(v: Column, boundaries: Array[Double]): Column =
    GraftSqlBridge.column(BucketIndexExpr(
      GraftSqlBridge.expression(v.cast("double")), boundaries))
}
