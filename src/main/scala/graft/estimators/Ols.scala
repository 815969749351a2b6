package graft.estimators

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core._
import graft.functions.Param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OLS / WLS fit: beta = (X'WX)^-1 X'Wy via Cholesky, sigma^2 =
  * weighted SSE / (n - k), vcov = sigma^2 (X'WX)^-1.
  *
  * Same estimator as `oaxaca_blinder/src/math/ols.rs:44-144`, but the
  * N-row matrix never materializes: the Gram system is accumulated
  * distributed ([[graft.core.Gram]]) and only the k×k solve runs on the
  * driver.
  */
final case class OlsFit(
    names: Seq[String],
    beta: DenseVector[Double],
    sigma2: Double,
    vcov: DenseMatrix[Double],
    n: Long,
    sw: Double,
    gram: GramResult) {

  def coef(name: String): Double = beta(names.indexOf(name))

  def stdErrors: DenseVector[Double] =
    DenseVector.tabulate(beta.length)(i => math.sqrt(math.max(vcov(i, i), 0.0)))

  /** R^2 computed from the aggregated sufficient statistics. */
  def r2: Double = {
    val sse = math.max(sigma2 * (n - names.size), 0.0)
    val tss = gram.swyy - gram.swy * gram.swy / gram.sw
    if (tss <= 0.0) 1.0 else 1.0 - sse / tss
  }
}

object Ols {

  def fromGram(g: GramResult, names: Seq[String]): OlsFit = {
    if (g.minW < 0.0)
      throw InvalidWeights("Negative weights are not allowed")
    if (g.n <= g.k)
      throw InsufficientData(
        s"Need more observations (${g.n}) than predictors (${g.k})")
    val beta = LinAlg.cholSolve(g.xtx, g.xty)
    // weighted SSE = y'Wy - 2 b'X'Wy + b'X'WX b  (one-pass identity)
    val sse = math.max(
      g.swyy - 2.0 * (beta dot g.xty) + (beta dot (g.xtx * beta)), 0.0)
    val dof = (g.n - g.k).toDouble
    val sigma2 = sse / dof
    val vcov = LinAlg.symInverse(g.xtx) * sigma2
    OlsFit(names, beta, sigma2, vcov, g.n, g.sw, g)
  }

  def fit(df: DataFrame, yCol: String, xCols: Seq[String],
      wCol: Option[String] = None): OlsFit =
    fromGram(Gram.compute(df, yCol, xCols, wCol), xCols)

  /** Fitted-value column x'beta — pure codegen arithmetic, no UDF; the
    * coefficients enter as [[graft.functions.Param]]s. */
  def predictionCol(xCols: Seq[String], beta: DenseVector[Double]): Column =
    xCols.zipWithIndex
      .map { case (c, i) => col(c).cast("double") * Param(beta(i)) }
      .reduce(_ + _)

  /** Residual column y - x'beta. */
  def residualCol(yCol: String, xCols: Seq[String],
      beta: DenseVector[Double]): Column =
    col(yCol).cast("double") - predictionCol(xCols, beta)
}
