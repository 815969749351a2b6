package graft

import graft.functions.{CenteredDot, DotProduct, Param, ParamExpr, SortedLookup, SortedLookupExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Unit coverage for the native array kernels (DotProductExpr /
  * CenteredDotExpr) — value equivalence with the higher-order-function
  * formulations they replaced, float widening, and null semantics — and
  * for the parameter leaves (ParamExpr, SortedLookupExpr). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct matches the zip_with/aggregate formulation bit-for-bit") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(-7.5, 2.25, 9.125)),
      (Array.empty[Double], Array.empty[Double])
    ).toDF("a", "b")
    val rows = df.select(
      DotProduct(col("a"), col("b")).as("fused"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), _ + _).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("DotProduct widens float arrays in-loop") {
    val df = Seq((Array(1.5f, 2.5f), Array(2.0, 4.0))).toDF("f", "d")
    val got = df.select(DotProduct(col("f"), col("d"))).head().getDouble(0)
    assert(got == 1.5f.toDouble * 2.0 + 2.5f.toDouble * 4.0)
  }

  test("DotProduct propagates null arrays and null elements") {
    val df = Seq(
      (Some(Seq[java.lang.Double](1.0, 2.0)), None: Option[Seq[java.lang.Double]]),
      (Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](3.0, 4.0)))
    ).toDF("a", "b")
    val rows = df.select(DotProduct(col("a"), col("b"))).collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("mismatched array lengths yield null (zip_with pad semantics)") {
    // zip_with pads the shorter side with nulls, so the higher-order
    // chains these kernels replaced returned null for dimension-
    // mismatched embeddings — a prefix dot would silently mask corrupt
    // data. Interpreted AND codegen paths must agree.
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0)),
      (Array(1.0), Array.empty[Double])
    ).toDF("a", "b")
    val fused = df.select(
      DotProduct(col("a"), col("b")).as("d"),
      CenteredDot(col("a"), col("b"), col("a")).as("c"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), _ + _).as("hof")).collect()
    fused.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
      assert(r.isNullAt(2), "zip_with reference semantics changed?")
    }
    // interpreted path (eval): same verdict
    import graft.functions.DotProductExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val lit2 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0)),
      ArrayType(DoubleType))
    val lit3 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayType(DoubleType))
    assert(DotProductExpr(lit2, lit3).eval(null) == null)
    assert(DotProductExpr(lit2, lit2).eval(null) == 5.0)
  }

  test("CenteredDot equals the centered zip_with chain bit-for-bit") {
    val mu = Array(0.5, -1.5, 2.0)
    val q = Array(0.25, 4.0, -3.5)
    val df = Seq(Array(1.0, 2.0, 3.0), Array(-0.125, 0.0, 7.75)).toDF("x")
    val muC = array(mu.map(lit): _*)
    val qC = array(q.map(lit): _*)
    val rows = df.select(
      CenteredDot(col("x"), muC, qC).as("fused"),
      aggregate(zip_with(zip_with(col("x"), muC, (x, m) => x - m), qC,
        (c, w) => c * w), lit(0.0), _ + _).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("Param: codegen equals eval, the optimizer keeps it, the hash ignores the value") {
    val vs = Seq(0.1, -1234.5678e-3, Double.MaxValue, -0.0, Double.NaN)
    vs.foreach { v =>
      // GenerateUnsafeProjection compiles or throws: no interpreted fallback
      val gen = GenerateUnsafeProjection.generate(Seq(ParamExpr(v)))
        .apply(InternalRow.empty).getDouble(0)
      val interp = ParamExpr(v).eval(null).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(gen) ==
        java.lang.Double.doubleToRawLongBits(interp))
      assert(java.lang.Double.doubleToRawLongBits(interp) ==
        java.lang.Double.doubleToRawLongBits(v))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Tuple1(3.0), Tuple1(-0.5)), 2)).toDF("x")
    val q = df.select((Param(0.1) * lit(3.0) + col("x") * Param(0.7)).as("y"))
    val opt = q.queryExecution.optimizedPlan
    assert(opt.expressions.exists(_.exists(_.isInstanceOf[ParamExpr])), opt.toString)
    assert(!opt.expressions.exists(_.exists {
      case l: Literal => l.value == 0.1 * 3.0
      case _ => false
    }), s"the optimizer folded a parameter: $opt")
    assert(q.collect().map(_.getDouble(0)).toSeq ==
      Seq(0.1 * 3.0 + 3.0 * 0.7, 0.1 * 3.0 + -0.5 * 0.7))
    assert(ParamExpr(1.0).hashCode == ParamExpr(2.0).hashCode)
    assert(ParamExpr(1.0).semanticHash() == ParamExpr(2.0).semanticHash())
    assert(ParamExpr(1.0) != ParamExpr(2.0))
    assert(!ParamExpr(1.0).semanticEquals(ParamExpr(2.0)))
  }

  test("SortedLookup: codegen equals eval; absent key or null input gives 0") {
    val table = Seq((0, 0) -> 0.0, (1, 0) -> 2.5, (1, 3) -> 7.25, (4, -1) -> -1.5)
    val e = org.apache.spark.sql.GraftSqlBridge
      .expression(SortedLookup(Seq(col("b"), col("s")),
        table.map { case ((b, s), o) => Seq(b, s) -> o }, Some(0.0)))
      .asInstanceOf[SortedLookupExpr]
    val bound = e.withNewChildren(Seq(0, 1).map(i =>
      Cast(BoundReference(i, IntegerType, nullable = true), LongType)))
      .asInstanceOf[SortedLookupExpr]
    val proj = GenerateUnsafeProjection.generate(Seq(bound))
    val cases = table.map { case ((b, s), o) => (Option(b), Option(s), o) } ++
      Seq((Some(1), Some(1), 0.0), (Some(9), Some(0), 0.0),
        (None, Some(0), 0.0), (Some(1), None, 0.0))
    cases.foreach { case (b, s, want) =>
      val row = InternalRow(b.map(Int.box).orNull, s.map(Int.box).orNull)
      assert(proj.apply(row).getDouble(0) == want, s"codegen ($b, $s)")
      assert(bound.eval(row) == want, s"eval ($b, $s)")
    }
    assert(e.hashCode == e.copy(values = Array(9.0, 9.0, 9.0, 9.0)).hashCode)
  }

  test("SortedLookup: string and long keys; absent None gives null") {
    // repartitioned, so the projection is not folded into a LocalRelation
    val df = Seq((0, "b", 2L), (1, "a", 1L), (2, "b", 1L), (3, "c", 1L),
      (4, null, 1L), (5, "\u00e9", 3L)).toDF("id", "g", "r").repartition(2)
    val look = SortedLookup(Seq(col("g"), col("r")), Seq(Seq("a", 1L) -> 10.0,
      Seq("b", 2) -> 20.0, Seq("\u00e9", 3L) -> 30.0, Seq("b", 9L) -> 90.0), None)
    val want = Seq(Some(20.0), Some(10.0), None, None, None, Some(30.0))
    // whole-stage codegen and interpreted evaluation agree
    for ((wholeStage, mode) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("id"), look).collect().sortBy(_.getInt(0))
          .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
        assert(got == want, mode)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("the kernels stay inside whole-stage codegen (no ScalaUDF)") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val plan = df.select(DotProduct(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.toLowerCase.contains("dot_product"), plan)
  }
}
