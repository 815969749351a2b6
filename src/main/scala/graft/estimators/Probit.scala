package graft.estimators

import breeze.linalg.{norm, DenseMatrix, DenseVector}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probit via Fisher scoring (`oaxaca_blinder/src/math/probit.rs:25-172`):
  * score weights lambda = phi/Phi (y=1) or -phi/(1-Phi) (y=0) with Phi
  * clamped to [1e-10, 1-1e-10], expected-information weights
  * w = phi^2 / (Phi (1-Phi)), 1e-9 diagonal ridge, Cholesky with LU
  * fallback. Each scoring iteration is ONE distributed Gram pass via the
  * working response z = Xb + lambda/w; vcov is the inverse of the final
  * ridged information matrix.
  */
final case class ProbitFit(
    names: Seq[String],
    beta: DenseVector[Double],
    vcov: DenseMatrix[Double],
    converged: Boolean,
    iterations: Int) {

  def xbCol(xCols: Seq[String]): Column = Ols.predictionCol(xCols, beta)
}

object Probit {

  private val Ridge = 1e-9

  /** Fisher-scoring working response at linear index `z`: out(0) =
    * z + lambda/w0, out(1) = w0 * wBase. Written in the association order
    * of the Column expressions it mirrors (pdf as exp((z*z)*-0.5), cdf via
    * the same commons-math3 erf the codegen'd graft_erf calls). */
  private def working(y: Double, wBase: Double, z: Double,
      out: Array[Double]): Unit = {
    val phi = NormalDist.pdfColOrder(z)
    val bigPhi = math.min(math.max(NormalDist.cdf(z), 1e-10), 1.0 - 1e-10)
    val lambda = if (y > 0.5) phi / bigPhi else -phi / (1.0 - bigPhi)
    val w0 = (phi * phi) / (bigPhi * (1.0 - bigPhi))
    out(0) = z + (if (w0 > 0.0) lambda / w0 else 0.0)
    out(1) = w0 * wBase
  }

  /** One ridged scoring step: (X'WX + rI) b' = X'Wz + r b (identical
    * to the reference's ridged Newton step), by Cholesky with an LU
    * fallback. */
  private def solve(g: GramResult, beta: DenseVector[Double]): DenseVector[Double] = {
    val rhs = g.xty + (beta * Ridge)
    try LinAlg.ridgeSolve(g.xtx, rhs, Ridge)
    catch {
      case _: SingularMatrix =>
        try ridged(g) \ rhs
        catch {
          case e: Exception => throw SingularMatrix(
            "Failed to solve Hessian system in Probit: " + e.getMessage)
        }
    }
  }

  private def ridged(g: GramResult): DenseMatrix[Double] = {
    val aa = g.xtx.copy
    var i = 0
    while (i < g.k) { aa(i, i) += Ridge; i += 1 }
    aa
  }

  /** One probit per (lane, base-weight system): each Fisher-scoring
    * iteration is ONE multi-system pass, so bootstrap-replicate fits
    * advance together per data pass instead of one IRLS loop per
    * replicate. Fixed-plan iterations (see IrlsDesign): one z/w Column
    * pair per system per iteration would be, with hundreds of bootstrap
    * replicates, a giant new plan + codegen compile every scan. */
  private def newton(df: DataFrame, targetCol: String, xCols: Seq[String],
      wCols: Seq[Column], laneOf: Column, nLanes: Int, maxIter: Int,
      tol: Double): Irls.Fit =
    Irls.newton(df, targetCol, xCols, wCols,
      Array.fill(nLanes, wCols.size)(DenseVector.zeros[Double](xCols.size)),
      maxIter, laneOf)((y, wBase, z, _, out) => working(y, wBase, z, out)) {
      (_, g, beta) =>
        val nb = solve(g, beta)
        (nb, norm(nb - beta) < tol)
    }

  /** Batched probit, returns [lane][system] (beta, converged); a slot
    * whose solve fails is frozen and reported unconverged. */
  def fitManyGrouped(df: DataFrame, targetCol: String, xCols: Seq[String],
      baseWCols: Seq[String], laneOf: Column,
      nLanes: Int, maxIter: Int = 100,
      tol: Double = 1e-6): Array[Array[(DenseVector[Double], Boolean)]] =
    newton(df, targetCol, xCols, baseWCols.map(col), laneOf, nLanes,
      maxIter, tol).slots.map(_.map(s => (s.beta, s.done)))

  /** `targetCol` numeric 0/1; `xCols` should include the intercept.
    * `wCol` multiplies the information weights (bootstrap resampling /
    * WLS probit; the reference's unweighted probit is wCol = None). */
  def fit(df: DataFrame, targetCol: String, xCols: Seq[String],
      maxIter: Int = 100, tol: Double = 1e-6,
      wCol: Option[String] = None): ProbitFit = {
    val fit = newton(df, targetCol, xCols,
      Seq(wCol.map(col).getOrElse(lit(1.0))), lit(0), 1, maxIter, tol)
    val slot = fit.slots(0)(0)
    slot.error.foreach(throw _)
    ProbitFit(xCols, slot.beta, LinAlg.symInverse(ridged(slot.gram)),
      slot.done, fit.iterations)
  }
}
