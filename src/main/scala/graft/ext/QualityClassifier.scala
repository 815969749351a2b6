package graft.ext

import graft.estimators.Logit
import graft.functions.Param
import graft.prep.Prep
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based corpus quality filtering — the reference-vs-rest
  * classifier design (GPT-3 / CCNet): fit a logistic regression that
  * distinguishes a REFERENCE slice of the corpus from the rest using
  * cheap content features, score every document with the fitted
  * probability, and keep the documents that look most like the
  * reference.
  *
  * This is deliberately the SAME estimator stack the analytics side
  * uses: the fit is [[graft.estimators.Logit]] (one distributed Gram
  * pass per IRLS iteration), and the features are plain codegen
  * expressions ([[TextAnalysis.qualityCols]] and friends) — so the
  * whole filter is a handful of corpus scans, no UDFs, and inherits
  * Logit's pinned-iteration oracle story (`maxIter` + `tol = 0.0`
  * makes the entire pipeline closed-form algebra).
  */
object QualityClassifier {

  /** Fit P(reference | features) and append the fitted probability as
    * `scoreCol`. `label` must evaluate to 1.0 on reference documents
    * and 0.0 elsewhere; `features` are appended as the design (an
    * intercept is added). Returns (scored frame, fitted coefficients
    * in `intercept +: features` order, converged). */
  def score(df: DataFrame, label: Column, features: Seq[(String, Column)],
      scoreCol: String = "__quality_p__", maxIter: Int = 100,
      tol: Double = 1e-6): (DataFrame, Seq[Double], Boolean) = {
    require(features.nonEmpty, "need at least one feature")
    val withF = features.foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c.cast("double"))
    }
    val design = Prep.withIntercept(
      withF.withColumn("__qc_label__", label.cast("double")))
    val xCols = Prep.InterceptCol +: features.map(_._1)
    val fit = Logit.fit(design, "__qc_label__", xCols,
      maxIter = maxIter, tol = tol)
    val scored = design.withColumn(scoreCol, fit.probCol(xCols))
      .drop(Prep.InterceptCol, "__qc_label__")
    (scored, fit.beta.toArray.toSeq, fit.converged)
  }

  /** [[score]] + the data-derived keep rule: keep documents whose
    * score (rounded to 6 decimals) is at or above the corpus mean of
    * the rounded scores (also rounded). Both sides of the comparison
    * live on the 1e-6 grid, so membership is exact across engines and
    * partitionings — the same rounding-stable-membership contract as
    * [[Sampling.topKByScore]]. Appends boolean `keepCol`. */
  def scoreAndFilter(df: DataFrame, label: Column,
      features: Seq[(String, Column)], scoreCol: String = "__quality_p__",
      keepCol: String = "__quality_keep__", maxIter: Int = 100,
      tol: Double = 1e-6): (DataFrame, Seq[Double], Boolean) = {
    val (scored, beta, conv) = score(df, label, features, scoreCol,
      maxIter, tol)
    val p6 = round(col(scoreCol), 6)
    val meanScore = scored.agg(round(avg(p6), 6)).head().getDouble(0)
    (scored.withColumn(keepCol, p6 >= Param(meanScore)), beta, conv)
  }
}
