package graft.decompose

import graft.core._
import graft.estimators.QuantileReg
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._
import scala.util.Try

/** Machado–Mata simulation quantile decomposition (D12,
  * `oaxaca_blinder/src/quantile_decomposition.rs:173-446`):
  * draw `simulations` taus ~ U(0.01, 0.99); fit a quantile regression
  * per tau per group (>= 50% successes required); simulate
  * y_AA = x_A b_A(tau_i), y_BB = x_B b_B(tau_i), y_AB = x_A b_B(tau_i)
  * with random row draws; per target quantile q (lower-bound empirical
  * index): gap = q_AA - q_BB, characteristics = q_AB - q_BB,
  * coefficients = q_AA - q_AB; bootstrap the whole pass.
  *
  * The per-tau LP fits are inherently in-memory (the reference runs them
  * under rayon); this engine collects each group's design ONCE — above
  * `maxRowsPerGroup` it first takes a seeded hash-ordered uniform
  * subsample (deterministic, partition-layout independent) — and runs the
  * seeded per-tau IRLS fits on a parallel collection — the distributed
  * single-tau path is [[graft.estimators.QuantileReg.fit]].
  */
final case class MmEffects(gap: Double, characteristics: Double, coefficients: Double)

final case class MmConfig(
    outcome: String,
    group: String,
    reference: String,
    predictors: Seq[String] = Nil,
    categorical: Seq[String] = Nil,
    quantiles: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9),
    simulations: Int = 200,
    bootstrapReps: Int = 20,
    seed: Long = 42L,
    maxRowsPerGroup: Int = 2000000)

final case class MmResults(
    effects: Map[String, Map[String, ComponentResult]], // key "q50" -> component -> stats
    quantiles: Seq[Double],
    nA: Int,
    nB: Int)

object MachadoMata {

  def run(df: DataFrame, cfg: MmConfig): MmResults = {
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++ cfg.categorical
    val cleaned0 = df.select(modelCols.distinct.map(col): _*)
    val cleaned = Prep.clean(cleaned0, modelCols.distinct)
    val (dummied, xCols, _) =
      Prep.design(cleaned, cfg.predictors, cfg.categorical)
    val split = Prep.splitGroups(dummied, cfg.group, cfg.reference)

    def collectGroup(g: DataFrame): (Array[Array[Double]], Array[Double]) = {
      val base = g.select((col(cfg.outcome).cast("double") +:
        xCols.map(c => col(c).cast("double"))): _*)
      val n = base.count()
      val capped =
        if (n <= cfg.maxRowsPerGroup) base
        else
          // deterministic uniform subsample above the cap: take the
          // maxRowsPerGroup smallest values of a seeded content hash — a
          // distributed top-K (TakeOrdered), equivalent to a seeded
          // simple random sample, rather than limit()'s "whatever rows
          // arrive first", which silently biases toward early partitions
          base.orderBy(xxhash64((base.columns.map(col) :+ lit(cfg.seed)): _*))
            .limit(cfg.maxRowsPerGroup)
      val rows = capped.collect()
      val x = rows.map(r => Array.tabulate(xCols.size)(i => r.getDouble(i + 1)))
      val y = rows.map(_.getDouble(0))
      (x, y)
    }
    val ((xA, yA), (xB, yB)) = Jobs.labeled(df.sparkSession, "mm: group rows") {
      (collectGroup(split.dfA), collectGroup(split.dfB))
    }
    if (xA.length < 2 || xB.length < 2)
      throw InvalidGroupVariable("One group has insufficient data")

    def singlePass(xa: Array[Array[Double]], ya: Array[Double],
        xb: Array[Array[Double]], yb: Array[Double],
        passSeed: Long): Map[String, MmEffects] = {
      val r = new scala.util.Random(passSeed)
      val taus = Array.fill(cfg.simulations)(0.01 + r.nextDouble() * 0.98)
      def fits(x: Array[Array[Double]], y: Array[Double]) = taus.toSeq.par
        .map(t => Try(QuantileReg.fitLocal(x, y, t)).toOption).seq
        .flatten.map(b => b.toArray: IndexedSeq[Double]).toIndexedSeq
      val betasA = fits(xa, ya)
      val betasB = fits(xb, yb)
      if (betasA.size < cfg.simulations / 2 || betasB.size < cfg.simulations / 2)
        throw ConvergenceFailed(
          "Failed to estimate a sufficient number of quantile regressions.")
      val nSims = math.min(betasA.size, betasB.size)
      val yAA = new Array[Double](nSims)
      val yBB = new Array[Double](nSims)
      val yAB = new Array[Double](nSims)
      var i = 0
      while (i < nSims) {
        val ra = xa(r.nextInt(xa.length))
        val rb = xb(r.nextInt(xb.length))
        var aa = 0.0; var bb = 0.0; var ab = 0.0
        var j = 0
        while (j < ra.length) {
          aa += ra(j) * betasA(i)(j)
          ab += ra(j) * betasB(i)(j)
          bb += rb(j) * betasB(i)(j)
          j += 1
        }
        yAA(i) = aa; yBB(i) = bb; yAB(i) = ab
        i += 1
      }
      cfg.quantiles.map { tau =>
        val qAA = empiricalQuantile(yAA.clone(), tau)
        val qBB = empiricalQuantile(yBB.clone(), tau)
        val qAB = empiricalQuantile(yAB.clone(), tau)
        s"q${(tau * 100).toInt}" ->
          MmEffects(qAA - qBB, qAB - qBB, qAA - qAB)
      }.toMap
    }

    val point = singlePass(xA, yA, xB, yB, cfg.seed)
    val reps = (1 to cfg.bootstrapReps).flatMap { rep =>
      val r = new scala.util.Random(cfg.seed + rep)
      def resample(x: Array[Array[Double]], y: Array[Double]) = {
        val idx = Array.fill(y.length)(r.nextInt(y.length))
        (idx.map(x), idx.map(y))
      }
      val (xa, ya) = resample(xA, yA)
      val (xb, yb) = resample(xB, yB)
      Try(singlePass(xa, ya, xb, yb, cfg.seed ^ (rep.toLong << 17))).toOption
    }

    val effects = point.map { case (key, pt) =>
      def comp(name: String, v: Double, extract: MmEffects => Double) = {
        val vals = reps.flatMap(_.get(key)).map(extract)
        val (se, p, (lo, hi)) = Bootstrap.stats(vals)
        name -> ComponentResult(name, v, se,
          if (math.abs(se) > 1e-9) v / se else 0.0, p, lo, hi)
      }
      key -> Map(
        comp("gap", pt.gap, _.gap),
        comp("characteristics", pt.characteristics, _.characteristics),
        comp("coefficients", pt.coefficients, _.coefficients))
    }
    MmResults(effects, cfg.quantiles, xA.length, xB.length)
  }

  /** Lower-bound empirical quantile: sort, index floor(n*q), capped
    * (`quantile_decomposition.rs:164-171`). */
  def empiricalQuantile(data: Array[Double], q: Double): Double = {
    if (data.isEmpty) return 0.0
    java.util.Arrays.sort(data)
    val idx = (data.length * q).toInt
    data(math.min(idx, data.length - 1))
  }
}
