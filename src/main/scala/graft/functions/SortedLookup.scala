package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** A frozen driver-side table as a column: the double stored under the
  * key the `children` form, or `absent` (SQL NULL when None) for a key
  * the table lacks or a null key part. Every keyed lookup of the engine
  * goes through it: the (bucket, sub) offsets of
  * `Windows.exclusivePrefixSum`, the group ids, (group, bucket) offsets
  * and wanted (group, rank) set of the grouped rank-pick, and Rif's
  * per-group scalars.
  *
  * A `when` chain over the same table has one branch per entry, so its
  * length and its literals, both data-derived, change the generated
  * source from one request to the next, and past a few dozen entries it
  * outgrows the compiled path. Here the key columns are sorted,
  * column-wise reference arrays of the generated class (the
  * [[BucketIndexExpr]] idiom), one `long[]` per numeric key column and
  * one `UTF8String[]` per string key column, found by binary search: the
  * source depends only on the key column kinds, and a lookup is
  * O(log n) with no allocation at any table size. The hash ignores the
  * tables, for the reason [[ParamExpr]] gives. */
case class SortedLookupExpr(children: Seq[Expression], keys: Array[AnyRef],
    values: Array[Double], absent: Option[Double]) extends Expression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = absent.isEmpty
  override def prettyName: String = "sorted_lookup"
  override def hashCode: Int = (prettyName, children).hashCode
  // the absent value rides at the end of the value array
  private lazy val table = values :+ absent.getOrElse(Double.NaN)

  override def eval(input: InternalRow): Any = {
    val nums = new Array[Long](keys.length)
    val strs = new Array[UTF8String](keys.length)
    val complete = children.indices.forall(j => children(j).eval(input) match {
      case null => false
      case s: UTF8String => strs(j) = s; true
      case n => nums(j) = n.asInstanceOf[Long]; true
    })
    val i = if (complete) SortedLookupExpr.rowOf(keys, values.length, nums, strs) else -1
    if (i < 0 && absent.isEmpty) null else table(if (i < 0) values.length else i)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ks = ctx.addReferenceObj("keys", keys, "Object[]")
    val vs = ctx.addReferenceObj("values", table, "double[]")
    val nums = ctx.addMutableState("long[]", "nums",
      v => s"$v = new long[${keys.length}];")
    val strs = ctx.addMutableState("UTF8String[]", "strs",
      v => s"$v = new UTF8String[${keys.length}];")
    val kids = children.map(_.genCode(ctx))
    val fill = kids.zip(keys).zipWithIndex.map {
      case ((k, _: Array[UTF8String]), j) => s"$strs[$j] = ${k.value};"
      case ((k, _), j) => s"$nums[$j] = ${k.value};"
    }
    val i = ctx.freshName("row")
    ev.copy(code = code"""
      ${kids.map(_.code).reduce(_ + _)}
      int $i = -1;
      if (!(${kids.map(_.isNull.toString).mkString(" || ")})) {
        ${fill.mkString("\n")}
        $i = graft.functions.SortedLookupExpr.rowOf($ks, $vs.length - 1,
          $nums, $strs);
      }
      boolean ${ev.isNull} = ${absent.isEmpty} && $i < 0;
      double ${ev.value} = $vs[$i < 0 ? $vs.length - 1 : $i];
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SortedLookupExpr =
    copy(children = newChildren)
}

object SortedLookupExpr {
  /** Row of the `n`-row table `keys` (sorted, distinct, column-wise)
    * whose key equals (`nums`, `strs`) column by column, or -1. */
  def rowOf(keys: Array[AnyRef], n: Int, nums: Array[Long],
      strs: Array[UTF8String]): Int = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      var c = 0
      var j = 0
      while (c == 0 && j < keys.length) {
        c = keys(j) match {
          case a: Array[UTF8String] => a(mid).binaryCompare(strs(j))
          case a: Array[Long] => java.lang.Long.compare(a(mid), nums(j))
        }
        j += 1
      }
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
    }
    -1
  }
}

object SortedLookup {
  /** Lookup column over `table`, whose distinct keys hold one String,
    * Int or Long per column of `keys`; numeric key columns are cast to
    * long and string ones (and every column of an empty table) to
    * string. A missing key or a null key part gives `absent` (null when
    * None). */
  def apply(keys: Seq[Column], table: Iterable[(Seq[Any], Double)],
      absent: Option[Double]): Column = {
    val rows = table.toArray.map { case (k, v) => k.map {
      case s: String => UTF8String.fromString(s)
      case n => Long.box(n.asInstanceOf[Number].longValue)
    } -> v }.sortWith { case ((a, _), (b, _)) => a.zip(b).map {
      case (x: UTF8String, y: UTF8String) => x.binaryCompare(y)
      case (x, y) => x.asInstanceOf[java.lang.Long].compareTo(y.asInstanceOf[java.lang.Long])
    }.find(_ != 0).exists(_ < 0) }
    val cols: Array[AnyRef] = keys.indices.toArray.map(j =>
      rows.headOption.map(_._1(j)) match {
        case Some(_: java.lang.Long) => rows.map(_._1(j).asInstanceOf[Long])
        case _ => rows.map(_._1(j).asInstanceOf[UTF8String])
      })
    val kids = keys.zip(cols).map { case (c, a) => GraftSqlBridge.expression(
      c.cast(if (a.isInstanceOf[Array[UTF8String]]) "string" else "long")) }
    GraftSqlBridge.column(SortedLookupExpr(kids, cols, rows.map(_._2), absent))
  }
}
