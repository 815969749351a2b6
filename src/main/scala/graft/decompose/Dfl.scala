package graft.decompose

import graft.core._
import graft.estimators.{Kde, Logit}
import graft.functions.Param
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DiNardo–Fortin–Lemieux reweighting (D14,
  * `oaxaca_blinder/src/dfl.rs:34-195`): pooled logit of P(groupA | x),
  * counterfactual weight psi(x) = (p/(1-p)) * (P(B)/P(A)) with p clamped
  * to [1e-4, 0.9999] for group-B rows, then Gaussian KDEs of the outcome
  * on a 100-point grid: group A, group B, and reweighted group B
  * (counterfactual, using group B's Silverman bandwidth).
  */
final case class DflResult(
    grid: Array[Double],
    densityA: Array[Double],
    densityB: Array[Double],
    densityBCounterfactual: Array[Double],
    logitConverged: Boolean)

object Dfl {

  val GridSize = 100

  /** `logitMaxIter`/`logitTol` pin the reweighting logit's iteration
    * count (tol = 0.0 forces exactly maxIter iterations) — the oracle
    * query q_dfl_newton3 uses 3 pinned iterations so the whole pipeline
    * is closed-form; production callers keep the convergence defaults.
    * A NaN outcome propagates into the outcome range, the bandwidths and
    * the densities; a group whose outcomes are all null raises
    * [[InvalidGroupVariable]]. */
  def run(df0: DataFrame, outcome: String, group: String, reference: String,
      predictors: Seq[String], logitMaxIter: Int = 100,
      logitTol: Double = 1e-6): DflResult = {
    // string predictors are dummy-expanded drop-first (sorted levels),
    // numeric predictors cast to double (`dfl.rs:76-105`)
    val stringPreds = predictors.filter(p =>
      df0.schema(p).dataType == org.apache.spark.sql.types.StringType)
    val numericPreds = predictors.filterNot(stringPreds.contains)
    val (designed, xCols, _) = Prep.design(df0, numericPreds, stringPreds)
    // ONE narrow projection (outcome, group, design), NOT persisted
    // (r15): the four consumers (silverman stats, grouped rank-pick,
    // IRLS design build — which persists its own compact RDD — and
    // the KDE grid pass) each re-run a narrow column-pruned
    // parquet scan + cheap dummy/intercept projections; the
    // MEMORY_AND_DISK write of the row-format copy sat on the critical
    // path and cost more than the three extra scans it saved, at bench
    // scale and at 100 TB alike (same bytes re-read either way, minus
    // the write).
    val df = designed.select((outcome +: group +: xCols).distinct.map(col): _*)
    val g = col(group).cast("string")
    val y = col(outcome).cast("double")

    // The pipeline has three INDEPENDENT front tracks (guide §2.6 —
    // overlap independent jobs; every job here is a near-serial
    // single-partition scan at test scale, so overlap buys real wall
    // time and costs nothing at cluster scale), run by nested par2s:
    //   T1: level discovery (its own tiny distinct, the pre-r14 shape;
    //      Spark's binary collation == the UTF-8 byte order the fused
    //      path sorted by) gating the logit fit, which then runs
    //      concurrently with T2's rank-pick. T1 validates the group,
    //      so it is par2's first argument: a missing reference level
    //      raises InvalidGroupVariable whatever the other tracks raise;
    //   T2: the fused grouped Silverman stats pass + the grouped IQR
    //      rank-pick;
    //   T3: materialize the KDE input's fan-out exchange into a cache —
    //      the exchange input (outcome, group, design) depends on
    //      NOTHING the logit fit produces (the density weight lanes are
    //      computed above it), so the shuffle write no longer sits on
    //      the critical path; the grid pass reads the cached 64
    //      partitions (identical contents — round-robin from the same
    //      source layout — so every FP sum is unchanged).
    val fanned0 = Jobs.fanOut(df)
    val fanOutHappened = fanned0 ne df
    val fanned =
      if (fanOutHappened)
        fanned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else fanned0
    try {
      val ((levelA, fit), ((bws, extras), _)) = Jobs.par2(
        {
          val levels = Prep.groupLevels(df, group)
          if (!levels.contains(reference))
            throw InvalidGroupVariable(s"Reference level '$reference' not found")
          val levelA = levels.filter(_ != reference).headOption.getOrElse(
            throw InvalidGroupVariable("Need two group levels for DFL"))
          val target = when(g === lit(levelA), 1.0).otherwise(0.0)
          val withTarget = df.withColumn("__dfl_target__", target)
          (levelA, Logit.fit(withTarget, "__dfl_target__", xCols,
            maxIter = logitMaxIter, tol = logitTol))
        },
        Jobs.par2(
          // group counts, outcome range AND both groups' Silverman
          // stats in ONE grouped pass + ONE grouped rank-pick
          Kde.silvermanGrouped(df, outcome, g,
            extraAggs = Seq(count(lit(1)), min(y), max(y))),
          if (fanOutHappened)
            Jobs.labeled(df.sparkSession, "dfl: kde fan-out materialization") {
              fanned.count()
            }
          else 0L))
      val nA = extras(levelA)(0).asInstanceOf[Long].toDouble
      val nB = extras(reference)(0).asInstanceOf[Long].toDouble
      val ratioMarginal = nB / nA
      // global outcome range = fold of the per-group ranges (every row
      // belongs to exactly one group key, null level included)
      val mins = extras.values.map(_(1)).collect { case d: java.lang.Double => d.doubleValue }
      val maxs = extras.values.map(_(2)).collect { case d: java.lang.Double => d.doubleValue }
      val minVal = mins.min
      val maxVal = maxs.max
      val step = (maxVal - minVal) / GridSize.toDouble
      val grid = Array.tabulate(GridSize)(i => minVal + i * step)

      val p = least(greatest(fit.probCol(xCols), lit(1e-4)), lit(0.9999))

      // silvermanGrouped omits a group with no non-null outcome
      val (bwA, bwB) = (bws.get(levelA), bws.get(reference)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => throw InvalidGroupVariable("One group has no data")
      }

      // all three densities in ONE scan: per-density weight columns
      // that are 0 outside the density's subset. The weight lanes
      // evaluate ABOVE the (already materialized) fan-out, so the grid
      // pass is the only work left on the critical path here.
      val isA = g === lit(levelA)
      val isB = g === lit(reference)
      val psi = (p / (lit(1.0) - p)) * Param(ratioMarginal)
      val dens = Kde.onGridMulti(fanned, outcome,
        Seq(when(isA, 1.0).otherwise(0.0),
          when(isB, 1.0).otherwise(0.0),
          when(isB, psi).otherwise(0.0)),
        grid, Seq(bwA, bwB, bwB))

      DflResult(
        grid = grid,
        densityA = dens(0),
        densityB = dens(1),
        densityBCounterfactual = dens(2),
        logitConverged = fit.converged)
    } finally {
      if (fanOutHappened) { fanned.unpersist(blocking = false); () }
    }
  }
}
