package graft

import graft.core._
import graft.decompose.{Dfl, Oaxaca, OaxacaConfig, RefCoefficients, RifDecomposer}
import graft.estimators.Ols
import graft.prep.Prep

/** Error taxonomy (SURVEY §2.7): the engine raises the same trigger
  * points as the reference's OaxacaError/AkmError enums. */
class ErrorSpec extends SparkSpec {
  import spark.implicits._

  test("negative weights raise InvalidWeights (ols.rs:60-66)") {
    val df = Prep.withIntercept(Seq((1.0, 1.0, -1.0), (2.0, 2.0, 1.0),
      (3.0, 3.0, 1.0)).toDF("y", "x", "w"))
    assertThrows[InvalidWeights] {
      Ols.fit(df, "y", Seq(Prep.InterceptCol, "x"), Some("w"))
    }
  }

  test("n <= k raises InsufficientData (ols.rs:146-210)") {
    val df = Prep.withIntercept(Seq((1.0, 1.0), (2.0, 2.0)).toDF("y", "x"))
    assertThrows[InsufficientData] {
      Ols.fit(df, "y", Seq(Prep.InterceptCol, "x"))
    }
  }

  test("perfectly collinear design raises SingularMatrix") {
    val df = Prep.withIntercept(
      (1 to 10).map(i => (i.toDouble, i.toDouble, 2.0 * i)).toDF("y", "x1", "x2"))
    assertThrows[SingularMatrix] {
      Ols.fit(df, "y", Seq(Prep.InterceptCol, "x1", "x2"))
    }
  }

  test("single group level raises InvalidGroupVariable (builder.rs:61-103)") {
    val df = Seq((1.0, "A", 1.0), (2.0, "A", 2.0)).toDF("y", "g", "x")
    assertThrows[InvalidGroupVariable] {
      Oaxaca.run(df, OaxacaConfig("y", "g", "A", predictors = Seq("x"),
        bootstrapReps = 0))
    }
  }

  test("DFL with a group whose outcomes are all null raises InvalidGroupVariable") {
    val df = Seq((Option(1.0), "A", 1.0), (Option(2.0), "A", 2.0),
      (Option(3.0), "A", 3.0), (Option.empty[Double], "B", 1.0),
      (Option.empty[Double], "B", 2.0), (Option.empty[Double], "B", 3.0))
      .toDF("y", "g", "x")
    assertThrows[InvalidGroupVariable] {
      Dfl.run(df, "y", "g", "A", Seq("x"))
    }
  }

  test("unknown reference level raises InvalidGroupVariable") {
    val df = Seq((1.0, "A", 1.0), (2.0, "B", 2.0)).toDF("y", "g", "x")
    assertThrows[InvalidGroupVariable] {
      Oaxaca.run(df, OaxacaConfig("y", "g", "Z", predictors = Seq("x"),
        bootstrapReps = 0))
    }
  }

  test("Heckman selection with pooled reference coefficients raises InvalidArgument") {
    val df = (1 to 20).map(i => (i.toDouble, if (i % 2 == 0) "A" else "B",
      (i % 5).toDouble, (i % 3).toDouble, if (i % 4 == 0) 0.0 else 1.0))
      .toDF("y", "g", "x", "z", "s")
    assertThrows[InvalidArgument] {
      Oaxaca.run(df, OaxacaConfig("y", "g", "B", predictors = Seq("x"),
        refCoefficients = RefCoefficients.Pooled, bootstrapReps = 0,
        selectionOutcome = Some("s"), selectionPredictors = Seq("z")))
    }
  }

  // a non-numeric outcome makes the RIF transform and the Silverman pass
  // fail on their own cast; the missing reference level must still win
  private def badOutcomeNoRef = (1 to 20).map(i =>
    (s"n/a-$i", if (i % 2 == 0) "A" else "B", (i % 5).toDouble)).toDF("y", "g", "x")

  test("RIF quantile decomposition raises InvalidGroupVariable for a missing reference level") {
    assertThrows[InvalidGroupVariable] {
      RifDecomposer.decomposeQuantile(badOutcomeNoRef,
        OaxacaConfig("y", "g", "Z", predictors = Seq("x"), bootstrapReps = 0), 0.5)
    }
  }

  test("DFL raises InvalidGroupVariable for a missing reference level") {
    assertThrows[InvalidGroupVariable] {
      Dfl.run(badOutcomeNoRef, "y", "g", "Z", Seq("x"))
    }
  }

  test("strict cast rejects non-numeric continuous columns (engine/analysis.rs:14-35)") {
    val df = Seq(("1.5", "abc"), ("2.0", "3.0")).toDF("ok", "bad")
    // numeric-looking strings cast cleanly
    val casted = Prep.strictCast(df, Seq("ok"))
    assert(casted.schema("ok").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val e = intercept[InvalidArgument] { Prep.strictCast(df, Seq("ok", "bad")) }
    assert(e.getMessage.contains(
      "contains non-numeric data but was selected as a continuous variable"))
  }

  test("null model values in a Gram pass fail loudly, not as silent 0.0") {
    val df = Prep.withIntercept(Seq(
      (Option(1.0), 1.0), (Option.empty[Double], 2.0), (Option(3.0), 3.0),
      (Option(4.0), 4.0)).toDF("y", "x"))
    val ex = intercept[Throwable] {
      Gram.compute(df, "y", Seq(Prep.InterceptCol, "x"))
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t =>
      t.getMessage != null && t.getMessage.contains("null model value")),
      s"unexpected failure: $ex")
  }

  test("AKM non-convergence raises ConvergenceFailed (akm.rs)") {
    val df = Seq(("w1", "f1", 1.0, 1.0), ("w2", "f1", 2.0, 5.0),
      ("w1", "f2", 3.0, 2.0), ("w2", "f2", 4.0, 9.0)).toDF("worker", "firm", "x", "y")
    assertThrows[ConvergenceFailed] {
      graft.estimators.Akm.run(df, "y", "worker", "firm", Seq("x"),
        tolerance = 1e-15, maxIters = 1)
    }
  }

  test("AKM connected-set iteration exhaustion raises ConvergenceFailed") {
    // AKM's connected set runs on Cluster's kernel; a 5-node chain needs
    // more than one star round, so a one-round cap must raise the
    // declared error on the distributed route
    val df = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    assertThrows[ConvergenceFailed] {
      graft.ext.Cluster.connectedComponents(df, maxRounds = 1,
        driverEdgeCap = 0L)
    }
  }

  test("withRowId is content-derived: stable across repartitioning") {
    val df = Seq((1.0, "a"), (2.0, "b"), (2.0, "b"), (3.0, "c"))
      .toDF("x", "s")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Prep.withRowId(d).select("__row_id__").collect()
        .map(_.getString(0)).sorted.toSeq
    val base = ids(df)
    assert(base.distinct.size == 4) // duplicates get distinct ordinals
    assert(ids(df.repartition(7)) == base)
    assert(ids(df.coalesce(1)) == base)
  }
}
