package graft.decompose

import graft.core.Windows
import graft.functions.Param
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Budget optimizer ("cheapest fix", D15 —
  * `oaxaca_blinder/src/types.rs:98-156`): given a budget and a target
  * gap, raise the most-underpaid group-B members (most negative model
  * residual first) up to residual zero until the effective budget
  * (min(budget, (gap - target) * n_B)) is exhausted.
  *
  * Distributed as: filter(residual < 0) -> scale-safe global exclusive
  * prefix sum over the residual ordering -> per-row clamp. No
  * collect of candidate rows to the driver.
  */
object BudgetOptimizer {

  /** `dfB` must carry `residualCol`; `tieBreak` columns make the ordering
    * total (the reference's sort is by residual only, ties in input
    * order — any deterministic tie-break preserves its semantics). */
  def optimize(dfB: DataFrame, residualCol: String, tieBreak: Seq[Column],
      totalGap: Double, nB: Long, budget: Double, targetGap: Double): DataFrame = {
    val res = col(residualCol)
    val base = dfB.filter(res < 0.0)
    if (totalGap <= targetGap)
      return base.filter(lit(false)).withColumn("adjustment", lit(0.0))
    val effective = math.min(budget, (totalGap - targetGap) * nB.toDouble)
    Windows.exclusivePrefixSum(base, res, ascending = true, tieBreak, -res,
        "__spent_before__")
      .withColumn("adjustment",
        greatest(lit(0.0), least(-res, Param(effective) - col("__spent_before__"))))
      .filter(col("adjustment") > 1e-9)
      .drop("__spent_before__")
  }
}
