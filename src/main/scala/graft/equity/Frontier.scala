package graft.equity

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core._
import graft.prep.Prep
import org.apache.spark.sql.functions._

/** G4 `calculate_efficient_frontier_inner`
  * (`engine/src/analysis.rs:871-1153`): significance of the group dummy
  * in the pooled OLS [intercept, groupDummy, X...] as greedy-ordered
  * payments are applied under a budget sweep 0..max in `steps` steps.
  *
  * Distributed design: X'X / X'y / y'y come from the same two-lane Gram
  * pass as everything else; the sweep itself never re-touches the full
  * data — ONE pass over the (small) payment set accumulates, for every
  * budget step, the sparse update to X'y and y'y, and each step is then
  * k-dimensional driver math (the scalable version of the reference's
  * precomputed projector trick, `analysis.rs:1022-1027`).
  */
final case class FrontierPoint(
    budget: Double,
    tStatistic: Double,
    pValue: Double,
    isSignificant: Boolean)

object Frontier {

  /** `paymentScale`: optionally quantize payment amounts to this many
    * decimals before ordering/allocating — makes the greedy order stable
    * across engines/runs when near-tied gaps exist (used by the oracle
    * harness; None reproduces the reference bit-for-bit in-engine). */
  def compute(df: org.apache.spark.sql.DataFrame, cfg: EquityConfig,
      idCol: String, maxBudget: Option[Double] = None,
      steps: Int = 50, paymentScale: Option[Int] = None): Seq[FrontierPoint] = {
    // ONE prepare + Gram pass feeds the greedy allocation AND the pooled
    // frontier design (previously optimize re-ran both internally).
    val (p, lanes) = Equity.prepareAndGram(df, cfg)
    val dummied = p.dummied
    val xCols = p.xCols

    // payments = greedy full-need allocation (budget = 0 -> auto).
    // wantPrefixBoundaries: the sums pass's percentile lane doubles as
    // the boundary probe for the sweep's OWN prefix sum below (the
    // payment amounts are the eligible diffs — at most rounded — so the
    // -diff quantiles are a monotone, hence valid, bucketing of the
    // -adjustment key; boundaries only balance buckets).
    val opt = Equity.optimizePrepared(dummied, xCols, p.names, p.split, lanes,
      cfg.copy(budget = 0.0, strategy = AllocationStrategy.Greedy), idCol,
      wantPrefixBoundaries = true)
    val totalNeed = opt.metrics.requiredBudget
    val maxB = maxBudget.getOrElse(totalNeed * 1.1)
    val safeMax = if (maxB < 1e-9) 1000.0 else maxB
    val stepSize = safeMax / steps.toDouble

    // pooled design [intercept, dummy(target=1), predictors...]
    val ga = lanes(0)(0) // target (dummy = 1)
    val gb = lanes(1)(0) // reference (dummy = 0)
    val k = ga.k + 1     // + dummy
    val xtx = DenseMatrix.zeros[Double](k, k)
    val xty0 = DenseVector.zeros[Double](k)
    // order: 0 = intercept (base col 0), 1 = dummy, 2.. = base cols 1..
    def baseIdx(i: Int): Int = if (i == 0) 0 else i - 1
    for (i <- 0 until k; j <- 0 until k) {
      xtx(i, j) =
        if (i == 1 && j == 1) ga.sw
        else if (i == 1) ga.xtx(0, baseIdx(j))
        else if (j == 1) ga.xtx(0, baseIdx(i))
        else ga.xtx(baseIdx(i), baseIdx(j)) + gb.xtx(baseIdx(i), baseIdx(j))
    }
    for (i <- 0 until k)
      xty0(i) =
        if (i == 1) ga.swy
        else ga.xty(baseIdx(i)) + gb.xty(baseIdx(i))
    val yy0 = ga.swyy + gb.swyy
    val n = (ga.n + gb.n).toDouble
    val covInv =
      try LinAlg.symInverse(xtx)
      catch { case _: SingularMatrix => throw SingularMatrix("Singular matrix in Pooled OLS") }

    // payment rows: (gap, exclusive prefix in desc-gap order, y, x...)
    val payAmount = paymentScale match {
      case Some(sc) => round(col("adjustment"), sc)
      case None => col("adjustment")
    }
    // The payment set feeds exactly ONE broadcast build (the join
    // below), so it is not persisted: the pre-r16 persist + count paid
    // a whole extra execution of the allocation plan plus a cache write
    // just to hand the broadcast a cached copy.
    val payments = opt.adjustmentsUnsorted
      .filter(col("adjustment") > 0.0)
      .select(col(idCol), payAmount.as("adjustment"))
    // narrow + persist: the prefix-sum machinery executes this frame
    // twice (bucket totals, the sweep aggregate's window input; the
    // boundary probe now rides the optimizer's sums lane) — cache the
    // joined projection once instead of re-running the broadcast join
    // (and through it the allocation) per consumer. The first action on
    // it executes the allocation exactly once, inside the broadcast
    // build.
    val g = col(cfg.group).cast("string")
    val dummyCol = when(g =!= lit(cfg.reference), 1.0).otherwise(0.0)
    val joined = dummied.join(broadcast(payments), Seq(idCol), "inner")
      .select((col(idCol) +: col("adjustment").cast("double").as("adjustment") +:
        col(cfg.outcome).cast("double").as("__y__") +: dummyCol.as("__dummy__") +:
        xCols.tail.map(c => col(c).cast("double").as(c))): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val prefixed = Windows.exclusivePrefixSum(joined,
      col("adjustment"), ascending = false, Seq(col(idCol)),
      col("adjustment"), "__prefix__",
      boundariesOverride = opt.prefixBoundaries)
    val proj = prefixed.select(
      (col("adjustment") +: col("__prefix__").cast("double") +:
        col("__y__") +: lit(1.0) +: col("__dummy__") +:
        xCols.tail.map(col)): _*)

    // one pass: per step, sum(pay * x_j) and sum(2 y pay + pay^2).
    // queryExecution.toRdd, not .rdd: the external-Row route pays a full
    // InternalRow -> Row deserialization per row (the r15 Kde lesson);
    // the UnsafeRow accessors read the same doubles with zero copying.
    // Fields are consumed immediately, never stored, so row-buffer reuse
    // is safe; null model values fail loudly as everywhere else.
    val stride = k + 1
    val zero = new Array[Double](steps * stride)
    val acc = graft.core.Jobs.treeReduce(proj.queryExecution.toRdd,
      "equity: frontier sweep")(zero)(
      seqOp = (buf, row) => {
        if (row.anyNull)
          throw graft.core.InvalidArgument(
            "Frontier sweep read a null model value; drop null rows first")
        val gap = row.getDouble(0)
        val prefix = row.getDouble(1)
        val y = row.getDouble(2)
        val x = new Array[Double](k)
        var i = 0
        while (i < k) { x(i) = row.getDouble(3 + i); i += 1 }
        var t = 0
        while (t < steps) {
          val b = (t + 1) * stepSize
          val pay = math.min(gap, math.max(0.0, b - prefix))
          if (pay > 0.0) {
            val base = t * stride
            var j = 0
            while (j < k) { buf(base + j) += pay * x(j); j += 1 }
            buf(base + k) += 2.0 * y * pay + pay * pay
          }
          t += 1
        }
        buf
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

    def statAt(xty: DenseVector[Double], yy: Double): (Double, Double, Boolean) = {
      val beta = covInv * xty
      val dof = n - k
      if (dof <= 0.0) return (0.0, 1.0, false)
      val rss = math.max(yy - 2.0 * (beta dot xty) + (beta dot (xtx * beta)), 0.0)
      val sigma2 = rss / dof
      val se = math.sqrt(sigma2 * covInv(1, 1))
      val t = if (se > 0.0) beta(1) / se else 0.0
      val p = 2.0 * NormalDist.cdf(-math.abs(t))
      (t, p, p < 0.05)
    }

    (0 to steps).map { t =>
      val budget = t * stepSize
      val (xty, yy) =
        if (t == 0) (xty0, yy0)
        else {
          val base = (t - 1) * stride
          val d = DenseVector.tabulate(k)(j => acc(base + j))
          (xty0 + d, yy0 + acc(base + k))
        }
      val (ts, p, sig) = statAt(xty, yy)
      FrontierPoint(budget, ts, p, sig)
    }
    } finally { joined.unpersist(blocking = false) }
  }
}
