package graft.estimators

import breeze.linalg.{norm, DenseMatrix, DenseVector}
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Quantile regression (E5). The reference solves the pinball-loss LP
  * with an interior-point solver on one machine
  * (`oaxaca_blinder/src/math/quantile_regression.rs:22-129`); an LP has
  * no distributed analog, so this engine uses iteratively reweighted
  * least squares on the smoothed pinball loss — each iteration is one
  * Gram pass (distributed path) or one k x k solve (driver path used by
  * Machado-Mata's hundreds of per-tau fits), converging to the LP
  * solution as the smoothing epsilon shrinks.
  */
object QuantileReg {

  private val Eps = 1e-6
  private val Tol = 1e-8
  private val MaxIter = 100

  /** Driver-side IRLS on materialized arrays (rows x k). */
  def fitLocal(x: Array[Array[Double]], y: Array[Double], tau: Double)
      : DenseVector[Double] = {
    val n = y.length
    val k = x(0).length
    require(tau > 0.0 && tau < 1.0, "Tau must be between 0 and 1.")
    if (n <= k) throw InsufficientData(s"QR needs n > k (n=$n, k=$k)")

    def wlsSolve(w: Array[Double]): DenseVector[Double] = {
      val xtx = DenseMatrix.zeros[Double](k, k)
      val xty = DenseVector.zeros[Double](k)
      var i = 0
      while (i < n) {
        val wi = w(i)
        val xi = x(i)
        var a = 0
        while (a < k) {
          val wxa = wi * xi(a)
          var b = a
          while (b < k) { xtx(a, b) += wxa * xi(b); b += 1 }
          xty(a) += wxa * y(i)
          a += 1
        }
        i += 1
      }
      var a = 0
      while (a < k) {
        var b = a + 1
        while (b < k) { xtx(b, a) = xtx(a, b); b += 1 }
        a += 1
      }
      LinAlg.ridgeSolve(xtx, xty, 1e-10 * (breeze.linalg.trace(xtx) / k + 1.0))
    }

    var beta = wlsSolve(Array.fill(n)(1.0)) // OLS start
    var iter = 0
    var done = false
    while (iter < MaxIter && !done) {
      iter += 1
      val w = new Array[Double](n)
      var i = 0
      while (i < n) {
        var r = y(i)
        val xi = x(i)
        var a = 0
        while (a < k) { r -= xi(a) * beta(a); a += 1 }
        val c = if (r > 0) tau else 1.0 - tau
        w(i) = c / math.max(math.abs(r), Eps)
        i += 1
      }
      val nb = wlsSolve(w)
      if (norm(nb - beta) < Tol * math.max(1.0, norm(beta))) done = true
      beta = nb
    }
    beta
  }

  /** Distributed IRLS: one Gram pass per iteration; the 100 TB path for
    * a single-tau fit. */
  def fit(df: DataFrame, yCol: String, xCols: Seq[String], tau: Double,
      maxIter: Int = 50, tol: Double = 1e-8,
      objRtol: Double = 1e-5): DenseVector[Double] =
    fitMany(df, yCol, xCols, Seq(tau), maxIter, tol, objRtol = objRtol).head

  /** Several taus over ONE cached projection of the data, batched through
    * the multi-system Gram kernel: every IRLS iteration is ONE scan that
    * advances ALL still-unconverged taus (each tau contributes its own
    * reweighting column as a system), the same batching
    * [[Probit.fitManyGrouped]] uses for bootstrap replicates. A tau that
    * converges is frozen and stops paying for weight columns, so the scan
    * count is max-iterations-over-taus instead of the sum.
    *
    * TWO stopping criteria, whichever fires first:
    *  - coefficient step: `norm(nb - beta) < tol * max(1, norm(beta))`
    *    (RELATIVE — betas live on the data's scale, where an absolute
    *    test would sit below per-scan floating-point churn). Fires on
    *    well-identified fits, where IRLS contracts geometrically.
    *  - objective stagnation: the weighted SSR at the current beta —
    *    free from the scan's own Gram lane (swyy, xty, xtx) — IS the
    *    pinball loss up to the Eps smoothing; when one scan improves it
    *    by less than `objRtol` relative, further scans are polishing a
    *    direction the loss is insensitive to (a statistically
    *    unidentified coefficient slide — observed on weakly-identified
    *    slopes, where beta steps chatter at ~1e-3 relative forever while
    *    40 scans move the loss by under 3e-4 total). MM iterations
    *    decrease this objective monotonically, so stagnation is a sound
    *    stop. `objRtol = 0.0` disables the test (pinned-iteration
    *    oracles).
    *
    * `warmStart = false` skips the subsample warm start and begins from
    * the closed-form OLS solution — with a pinned `maxIter`/`tol = 0.0`
    * this makes the whole fit deterministic closed-form algebra (the
    * q_quantreg_newton3 oracle); production callers keep the default. */
  def fitMany(df: DataFrame, yCol: String, xCols: Seq[String],
      taus: Seq[Double], maxIter: Int = 50,
      tol: Double = 1e-8, warmStart: Boolean = true,
      objRtol: Double = 1e-5): Seq[DenseVector[Double]] = {
    taus.foreach(t => require(t > 0.0 && t < 1.0, "Tau must be between 0 and 1."))
    val proj = df.select((col(yCol).cast("double").as(yCol) +:
      xCols.map(c => col(c).cast("double").as(c))): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val k = xCols.size
      // Warm start: driver-side IRLS per tau on a deterministic
      // hash-ordered subsample (partition-independent — the same device
      // as MachadoMata's row cap). The distributed loop below then only
      // needs a handful of refinement scans instead of ~25-30 from an
      // OLS start; the converged fixed point is unchanged (the IRLS
      // limit does not depend on the starting beta), so goldens and the
      // dist==local spec are unaffected. Constant driver cost at any SF.
      val warmN = 20000
      val hash = xxhash64((yCol +: xCols).map(col): _*)
      val sampleRows =
        if (warmStart)
          proj.orderBy(hash).limit(warmN)
            .select((col(yCol) +: xCols.map(col)): _*).collect()
        else Array.empty[org.apache.spark.sql.Row]
      val nT = taus.size
      val betas: Array[DenseVector[Double]] =
        if (sampleRows.length > k + 1) {
          val ys = sampleRows.map(_.getDouble(0))
          val xs = sampleRows.map(r => Array.tabulate(k)(i => r.getDouble(i + 1)))
          taus.map(t => fitLocal(xs, ys, t)).toArray
        } else {
          val g = Gram.compute(proj, yCol, xCols)
          Array.fill(nT)(LinAlg.solveLeastSquares(g.xtx, g.xty))
        }
      val prevObj = Array.fill(nT)(Double.NaN)
      val tauArr = taus.toArray
      // fixed-plan iterations (see IrlsDesign): the per-tau reweighting
      // runs as a closure over the cached design instead of fresh
      // weight-column plans per iteration; w = c / max(|y - xb|, Eps)
      // keeps the association order of the equivalent Column expression
      val fit = Irls.newton(proj, yCol, xCols, Seq(lit(1.0)), Array(betas),
          maxIter) { (y, _, xb, s, out) =>
        val r = y - xb
        val c = if (r > 0.0) tauArr(s) else 1.0 - tauArr(s)
        out(0) = y
        out(1) = c / math.max(math.abs(r), Eps)
      } { (i, g, b) =>
        // weighted SSR at the beta the weights were built from:
        // sum w*r^2 with w = c/max(|r|, Eps) == sum c*|r| wherever
        // |r| >= Eps — the pinball objective, free from this scan
        val obj = g.swyy - 2.0 * (b dot g.xty) + (b dot (g.xtx * b))
        val stalled = objRtol > 0.0 && !prevObj(i).isNaN &&
          prevObj(i) - obj < objRtol * math.abs(prevObj(i))
        prevObj(i) = obj
        val nb = LinAlg.ridgeSolve(g.xtx, g.xty,
          1e-10 * (breeze.linalg.trace(g.xtx) / k + 1.0))
        (nb, stalled || norm(nb - b) < tol * math.max(1.0, norm(b)))
      }
      fit.slots(0).toSeq.map { slot => slot.error.foreach(throw _); slot.beta }
    } finally { proj.unpersist() }
  }
}
