package graft.decompose

import graft.estimators.Rif
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RIF-regression quantile decomposition (D11,
  * `oaxaca_blinder/src/builder.rs:711-757`): clean, split, RIF-transform
  * the outcome within each group, recombine, then run the standard mean
  * decomposition on the transformed outcome with the same configuration.
  */
object RifDecomposer {

  def decomposeQuantile(df: DataFrame, cfg: OaxacaConfig, tau: Double)
      : OaxacaResults = {
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++
      cfg.categorical ++ cfg.weights.toSeq
    val cleaned = Prep.clean(df, modelCols.distinct)
    // the >= 2-levels / reference-exists validation is its own distinct
    // job, independent of the RIF passes — overlap them (guide §2.6).
    // It is the FIRST argument, so an invalid group raises
    // InvalidGroupVariable even when the transform fails on it too.
    val (transformed, _) = graft.core.Jobs.par2(
      Prep.splitGroups(cleaned, cfg.group, cfg.reference),
      Rif.transformPerGroup(cleaned, cfg.outcome, cfg.group, tau))._2
    val replaced = transformed
      .withColumn(cfg.outcome, col("__rif__"))
      .drop("__rif__")
    Oaxaca.run(replaced, cfg)
  }
}
