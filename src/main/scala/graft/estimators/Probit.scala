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

  /** Batched probit: one fit per (lane, base-weight system), where each
    * Fisher-scoring iteration is ONE multi-system Gram scan — the
    * bootstrap-replicate fits advance together per data pass instead of
    * one IRLS loop per replicate. Returns [lane][system]
    * (beta, converged); a slot that hits a singular solve is frozen and
    * reported unconverged. */
  def fitManyGrouped(df: DataFrame, targetCol: String, xCols: Seq[String],
      baseWCols: Seq[String], laneOf: Column,
      nLanes: Int, maxIter: Int = 100,
      tol: Double = 1e-6): Array[Array[(DenseVector[Double], Boolean)]] = {
    val k = xCols.size
    val nSys = baseWCols.size
    val betas = Array.fill(nLanes, nSys)(DenseVector.zeros[Double](k))
    val converged = Array.fill(nLanes, nSys)(false)
    val failed = Array.fill(nLanes, nSys)(false)
    // fixed-plan iterations (see IrlsDesign): one z/w Column pair PER
    // SYSTEM per iteration would be, with hundreds of bootstrap
    // replicates, a giant new plan + codegen compile every scan
    val design = new IrlsDesign(df, targetCol, xCols, baseWCols.map(col),
      laneOf, nLanes)
    try {
      var iter = 0
      var allDone = false
      while (iter < maxIter && !allDone) {
        iter += 1
        // only systems with at least one unconverged lane pay for work
        val active = (0 until nSys).filter(s =>
          (0 until nLanes).exists(l => !converged(l)(s) && !failed(l)(s)))
        val activeBetas = active.map(s =>
          Array.tabulate(nLanes)(l => betas(l)(s).toArray)).toArray
        val grams = design.gramMulti(activeBetas, active.toArray) {
          (y, wBase, z, _, out) => working(y, wBase, z, out)
        }
        allDone = true
        for (l <- 0 until nLanes; (s, si) <- active.zipWithIndex
             if !converged(l)(s) && !failed(l)(s)) {
          val g = grams(l)(si)
          try {
            val rhs = g.xty + (betas(l)(s) * Ridge)
            val nb = LinAlg.ridgeSolve(g.xtx, rhs, Ridge)
            val step = nb - betas(l)(s)
            betas(l)(s) = nb
            if (norm(step) < tol) converged(l)(s) = true else allDone = false
          } catch {
            case _: SingularMatrix => failed(l)(s) = true
          }
        }
      }
      Array.tabulate(nLanes)(l => Array.tabulate(nSys)(s =>
        (betas(l)(s), converged(l)(s) && !failed(l)(s))))
    } finally design.unpersist()
  }

  /** `targetCol` numeric 0/1; `xCols` should include the intercept.
    * `wCol` multiplies the information weights (bootstrap resampling /
    * WLS probit; the reference's unweighted probit is wCol = None). */
  def fit(df: DataFrame, targetCol: String, xCols: Seq[String],
      maxIter: Int = 100, tol: Double = 1e-6,
      wCol: Option[String] = None): ProbitFit = {
    val k = xCols.size
    // fixed-plan iterations (see IrlsDesign)
    val design = new IrlsDesign(df, targetCol, xCols,
      Seq(wCol.map(col).getOrElse(lit(1.0))))
    try {
      var beta = DenseVector.zeros[Double](k)
      var converged = false
      var iters = 0
      var lastGram: GramResult = null
      while (iters < maxIter && !converged) {
        iters += 1
        val g = design.gram(beta.toArray)(working)
        lastGram = g
        // (X'WX + rI) b' = X'Wz + r b  (identical to the reference's
        // ridged Newton step, see scaladoc)
        val rhs = g.xty + (beta * Ridge)
        val newBeta =
          try LinAlg.ridgeSolve(g.xtx, rhs, Ridge)
          catch {
            case _: SingularMatrix =>
              val aa = g.xtx.copy
              var i = 0
              while (i < k) { aa(i, i) += Ridge; i += 1 }
              try aa \ rhs
              catch {
                case e: Exception => throw SingularMatrix(
                  "Failed to solve Hessian system in Probit: " + e.getMessage)
              }
          }
        val step = newBeta - beta
        beta = newBeta
        if (norm(step) < tol) converged = true
      }
      val info = lastGram.xtx.copy
      var i = 0
      while (i < k) { info(i, i) += Ridge; i += 1 }
      ProbitFit(xCols, beta, LinAlg.symInverse(info), converged, iters)
    } finally {
      design.unpersist()
    }
  }
}
