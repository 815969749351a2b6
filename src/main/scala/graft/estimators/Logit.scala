package graft.estimators

import breeze.linalg.{norm, DenseVector}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Logistic regression via Newton/IRLS
  * (`oaxaca_blinder/src/math/logit.rs:31-118`).
  *
  * Each Newton iteration is ONE distributed Gram pass: with working
  * response z = X b + (y - p)/w and weight w = p(1-p), the Newton update
  * b' = b + (X'WX)^-1 X'(y - p) equals the WLS solve
  * b' = (X'WX)^-1 X'Wz — so [[graft.core.Gram]] is the whole per-iteration
  * compute and only k-vectors hit the driver. Probabilities are clamped
  * to [1e-10, 1 - 1e-10] exactly as in the reference.
  */
final case class LogitFit(
    names: Seq[String],
    beta: DenseVector[Double],
    converged: Boolean,
    iterations: Int) {

  def xbCol(xCols: Seq[String]): Column = Ols.predictionCol(xCols, beta)

  /** Predicted probability column (clamped sigmoid). */
  def probCol(xCols: Seq[String]): Column = {
    val p = lit(1.0) / (lit(1.0) + exp(-xbCol(xCols)))
    least(greatest(p, lit(1e-10)), lit(1.0 - 1e-10))
  }
}

object Logit {

  /** `targetCol` must be numeric 0/1; xCols should include the intercept
    * column.
    *
    * Each iteration is one [[IrlsDesign.gram]] closure over the cached
    * primitive design — no per-iteration Catalyst planning (the beta
    * literals would make every iteration's plan new; see [[IrlsDesign]]).
    * The scalar working-response arithmetic below is written in the
    * association order of the equivalent z/w Column expressions, so fits
    * equal the per-iteration [[Gram.compute]] route bit for bit. */
  def fit(df: DataFrame, targetCol: String, xCols: Seq[String],
      maxIter: Int = 100, tol: Double = 1e-6,
      wCol: Option[String] = None): LogitFit = {
    val k = xCols.size
    val design = new IrlsDesign(df, targetCol, xCols,
      Seq(wCol.map(col).getOrElse(lit(1.0))))
    try {
      var beta = DenseVector.zeros[Double](k)
      var converged = false
      var iters = 0
      while (iters < maxIter && !converged) {
        iters += 1
        // z = xb + (y - p)/w0, w = w0 * base weight (WLS-style logit)
        val g = design.gram(beta.toArray) { (y, wBase, xb, out) =>
          val p0 = 1.0 / (1.0 + math.exp(-xb))
          val p = math.min(math.max(p0, 1e-10), 1.0 - 1e-10)
          val w0 = p * (1.0 - p)
          out(0) = xb + (y - p) / w0
          out(1) = w0 * wBase
        }
        val newBeta =
          try LinAlg.cholSolve(g.xtx, g.xty)
          catch {
            case e: SingularMatrix => throw SingularMatrix(
              "Failed to solve Information Matrix in Logit. Perfect separation? " + e.getMessage)
          }
        val step = newBeta - beta
        beta = newBeta
        if (norm(step) < tol) converged = true
      }
      LogitFit(xCols, beta, converged, iters)
    } finally {
      design.unpersist()
    }
  }
}
