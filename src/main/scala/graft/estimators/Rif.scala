package graft.estimators

import graft.functions.SortedLookup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recentered Influence Function transform for a quantile
  * (`oaxaca_blinder/src/math/rif.rs:14-88`):
  * RIF(y; q_tau) = q_tau + (tau - 1{y <= q_tau}) / f_hat(q_tau),
  * with q_tau the R type-7 sample quantile and f_hat a one-point Gaussian
  * KDE with the rif.rs Silverman bandwidth (IQR via ceil-index selection,
  * 1e-8 density floor).
  */
object Rif {

  /** Per-group scalar inputs of the transform. `countLeQ` (rows with
    * y <= q_tau) rides the density pass for free and makes the group
    * RIF mean closed-form: mean(RIF) = q + (tau - countLeQ/n) / f —
    * consumers that only need the mean skip a whole extra scan.
    *
    * `density` is the FLOORED estimate (>= 1e-8, see transformPerGroup's
    * density pass), so the closed form is only valid where the transform
    * actually applied it: for n < 2 the transform passes y through
    * unchanged, so the group mean of the output is the single value
    * itself (= qTau when n == 1; qTau is the 0.0 fallback when n == 0,
    * where the mean is vacuous anyway). */
  final case class GroupRif(level: String, n: Long, qTau: Double,
      bandwidth: Double, density: Double, countLeQ: Long) {
    def meanRif(tau: Double): Double =
      if (n < 2) qTau
      else qTau + (tau - countLeQ.toDouble / n.toDouble) / density
  }

  /** Compute RIF of `outcome` separately within each level of
    * `groupCol`, appending it as `outCol`: one
    * `Windows.groupedOrderStats` call (per-group stats and the order
    * statistics of ALL levels) and one one-point density pass, each
    * fully distributed over a narrow two-column projection the scan
    * prunes to. Only per-group scalars reach the driver. Groups with
    * n < 2 pass y through; n == 0 (all-null outcome) reports qTau 0.0,
    * bandwidth 1.0 and the floored density. Rows with a null group
    * pass y through and get no [[GroupRif]]. A NaN outcome propagates:
    * it ranks last in its group's order statistics, so its group's
    * moments, and possibly its q_tau and bandwidth, are NaN. */
  def transformPerGroup(df: DataFrame, outcome: String, groupCol: String,
      tau: Double, outCol: String = "__rif__"): (DataFrame, Seq[GroupRif]) = {
    val y = col(outcome).cast("double")
    val g = col(groupCol).cast("string")

    // every pass below needs only (group, y) — a narrow projection the
    // scan prunes to two columns. NOT persisted (r16 A/B: warm q_rif
    // 1.6 -> 1.4 s): the MEMORY_AND_DISK write of the row-format copy
    // sat on the first pass's critical path and cost more than the
    // three extra pruned columnar scans it saved; the same bytes are
    // re-read either way, minus the write. Callers with an expensive
    // upstream (not a bare table scan) can persist before calling.
    val narrow = df.select(g.as("__g__"), y.as("__y__"))
    // IQR uses the rif.rs ceil-index convention:
    // q75 = sorted[max(ceil(0.75 n), 1) - 1] (0-based), same for q25.
    // q_tau is the type-7 interpolation between the two bracketing
    // order statistics at pos = tau*(n-1) — same arithmetic as Spark's
    // `percentile` ((hi-pos)*v_lo + (pos-lo)*v_hi). For n == 1 every
    // index is 0.
    def rifIdx(n: Long, p: Double): Long = {
      val i = math.ceil(p * n).toLong
      math.min(if (i == 0) 0 else i - 1, n - 1) // 0-based
    }
    def tauPos(n: Long): Double = (n - 1).toDouble * tau
    val picked = graft.core.Windows.groupedOrderStats(narrow, col("__g__"),
        col("__y__"), Seq(stddev_samp(col("__y__"))),
        "rif: grouped moments") { n =>
      val pos = tauPos(n)
      Set(rifIdx(n, 0.25), rifIdx(n, 0.75), math.floor(pos).toLong,
        math.ceil(pos).toLong)
    }.filter(_._1 != null)
    // per level: (n, q_tau, bandwidth)
    val stats = picked.map { case (lvl, s) =>
      val pos = tauPos(s.n)
      val (lo, hi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      val q =
        if (s.n < 1) 0.0
        else if (lo == hi) s.at(lo)
        else (hi - pos) * s.at(lo) + (pos - lo) * s.at(hi)
      val bw =
        if (s.n < 2) 1.0
        else {
          val std = Option(s.lanes.head).fold(0.0)(_.asInstanceOf[Double])
          val iqr = s.at(rifIdx(s.n, 0.75)) - s.at(rifIdx(s.n, 0.25))
          val minSpread0 = if (iqr > 1e-8) math.min(std, iqr / 1.34) else std
          val minSpread = if (minSpread0 < 1e-8) 1.0 else minSpread0
          0.9 * minSpread * math.pow(s.n.toDouble, -0.2)
        }
      lvl -> (s.n, q, bw)
    }

    // one-point density at q_tau per group, with a count(y <= q) lane
    // riding along — it makes the group RIF mean closed-form on the
    // driver (see [[GroupRif.meanRif]])
    val qOfN = SortedLookup(Seq(col("__g__")),
      stats.map { case (l, (_, q, _)) => Seq(l) -> q }, None)
    val hOfN = SortedLookup(Seq(col("__g__")),
      stats.map { case (l, (_, _, h)) => Seq(l) -> h }, None)
    val densityRows = graft.core.Jobs.labeled(df.sparkSession,
      "rif: one-point density") {
      narrow
        .select(col("__g__").as("g"),
          Kde.gaussianCol((qOfN - col("__y__")) / hOfN).as("k"),
          when(col("__y__") <= qOfN, 1L).otherwise(0L).as("le"))
        .groupBy(col("g")).agg(sum(col("k")).as("sk"), sum(col("le")).as("nle"))
        .collect()
    }.filter(!_.isNullAt(0))
    val densities = densityRows.map { r =>
      val lvl = r.getString(0)
      val (n, _, h) = stats(lvl)
      val d = if (n == 0) 0.0 else r.getDouble(1) / (n.toDouble * h)
      lvl -> math.max(d, 1e-8)
    }.toMap
    val countsLe = densityRows.map(r => r.getString(0) -> r.getLong(2)).toMap

    // n < 2: reference returns the series unchanged, so those groups
    // (and the null group) get no q_tau and pass y through
    val qOf = SortedLookup(Seq(g),
      stats.collect { case (l, (n, q, _)) if n >= 2 => Seq(l) -> q }, None)
    val fOf = SortedLookup(Seq(g),
      densities.map { case (l, f) => Seq(l) -> f }, None)
    val rif = when(qOf.isNull, y).otherwise(
      qOf + (lit(tau) - when(y <= qOf, 1.0).otherwise(0.0)) / fOf)

    val info = stats.toSeq.sortBy(_._1).map { case (l, (n, q, h)) =>
      GroupRif(l, n, q, h, densities(l),
        countsLe.getOrElse(l, 0L))
    }
    (df.withColumn(outCol, rif), info)
  }
}
