package graft.estimators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gaussian kernel density estimation + Silverman bandwidth
  * (`oaxaca_blinder/src/math/kde.rs:20-59`).
  *
  * The grid evaluation is ONE `Jobs.treeReduce` pass accumulating all grid
  * sums per partition (no 100x explode, no collect of data). Weights are
  * normalized to 1 as in the reference.
  */
object Kde {

  private val InvSqrt2Pi = 1.0 / math.sqrt(2.0 * math.Pi)

  /** Density at each grid point: f(g) = sum_i w_i K((g - x_i)/h) / h,
    * with w normalized to sum 1 (uniform 1/n when wCol is None). */
  def onGrid(df: DataFrame, valueCol: String, wCol: Option[String],
      grid: Array[Double], bandwidth: Double): Array[Double] = {
    val w = wCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    onGridMulti(df, valueCol, Seq(w), grid, Seq(bandwidth)).head
  }

  /** Multi-density variant: several weight columns (0 = row not in that
    * density) each with their own bandwidth, accumulated in ONE scan —
    * e.g. DFL's three densities (group A, group B, reweighted B) share
    * one pass over the prepared frame instead of three. */
  def onGridMulti(df: DataFrame, valueCol: String, wCols: Seq[Column],
      grid: Array[Double], bandwidths: Seq[Double]): Array[Array[Double]] = {
    require(wCols.size == bandwidths.size, "one bandwidth per weight column")
    val nL = wCols.size
    val proj = df.select(
      (col(valueCol).cast("double") +: wCols.map(_.cast("double"))): _*)
    val m = grid.length
    val stride = m + 1 // grid sums ++ sum(w), per density
    val zero = new Array[Double](stride * nL)
    val bw = bandwidths.toArray
    // lanes sharing a bandwidth share the kernel value: the exp() per
    // (row, grid point) is computed once per DISTINCT bandwidth, not
    // once per lane — DFL's density-B and counterfactual lanes use the
    // same Silverman bandwidth, so this removes a third of the grid
    // pass's exp() calls
    val bwGroups: Array[(Double, Array[Int])] =
      bw.zipWithIndex.groupBy(_._1).iterator
        .map { case (h, arr) => (h, arr.map(_._2)) }.toArray.sortBy(_._2.head)
    // queryExecution.toRdd, not .rdd: the external-Row route pays a
    // full InternalRow -> Row deserialization per row (it was ~half the
    // grid pass at bench scale); the UnsafeRow accessors below read the
    // same doubles with zero copying. Fields are consumed immediately,
    // never stored, so row-buffer reuse is safe. Null model values threw
    // from the external route (Row.getDouble NPE); keep failing fast.
    val acc = graft.core.Jobs.treeReduce(proj.queryExecution.toRdd,
      s"kde: ${nL}-lane grid pass")(zero)(
      seqOp = (buf, row) => {
        if (row.anyNull)
          throw graft.core.InvalidArgument(
            "KDE read a null value; drop null rows first")
        val x = row.getDouble(0)
        var g = 0
        while (g < bwGroups.length) {
          val h = bwGroups(g)._1
          val lanes = bwGroups(g)._2
          var any = false
          var j = 0
          while (j < lanes.length) {
            if (row.getDouble(1 + lanes(j)) != 0.0) any = true
            j += 1
          }
          if (any) {
            var i = 0
            while (i < m) {
              val u = (grid(i) - x) / h
              // only the exp() is shared across lanes; the accumulated
              // term stays left-associated (wv * InvSqrt2Pi) * e — the
              // exact FP association of the original per-lane loop, so
              // sharing the kernel can never flip a rounded oracle value
              val e = math.exp(-0.5 * u * u)
              j = 0
              while (j < lanes.length) {
                val l = lanes(j)
                val wv = row.getDouble(1 + l)
                if (wv != 0.0) buf(l * stride + i) += wv * InvSqrt2Pi * e
                j += 1
              }
              i += 1
            }
            j = 0
            while (j < lanes.length) {
              val l = lanes(j)
              val wv = row.getDouble(1 + l)
              if (wv != 0.0) buf(l * stride + m) += wv
              j += 1
            }
          }
          g += 1
        }
        buf
      },
      combOp = (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    Array.tabulate(nL) { l =>
      val base = l * stride
      val sw = acc(base + m)
      grid.indices.map(i => acc(base + i) / sw / bw(l)).toArray
    }
  }

  /** Per-group Silverman bandwidths with the kde.rs index convention:
    * q1 = sorted[floor(0.25 n)], q3 = sorted[floor(0.75 n)] (0-based),
    * h = 0.9 min(sd, (q3 - q1) / 1.34) n^-0.2. ALL groups share ONE
    * grouped stats pass and ONE grouped rank-pick
    * (`Windows.groupedOrderStats`). `extraAggs` lanes ride the stats
    * pass for free (the DFL caller folds its group counts and the
    * global outcome range in, erasing its own separate pass). Returns
    * (group → bandwidth, group → extra lane values); groups with no
    * non-null value and the null group are omitted from the bandwidth
    * map but still carry their extras. A NaN value propagates: its
    * group's variance, and so its bandwidth, is NaN. */
  def silvermanGrouped(df: DataFrame, valueCol: String, group: Column,
      extraAggs: Seq[Column] = Nil)
      : (Map[String, Double], Map[String, Seq[Any]]) = {
    val v = col(valueCol).cast("double")
    def quartileIdx(n: Long): (Long, Long) =
      ((n * 0.25).toLong, (n * 0.75).toLong)
    val stats = graft.core.Windows.groupedOrderStats(df, group, v,
        var_samp(v) +: extraAggs, "silverman: grouped stats") { n =>
      val (i1, i3) = quartileIdx(n)
      Set(i1, i3)
    }
    val bws = stats.collect { case (g, s) if g != null && s.n > 0 =>
      val std = math.sqrt(Option(s.lanes.head).fold(0.0)(_.asInstanceOf[Double]))
      val (i1, i3) = quartileIdx(s.n)
      val a = math.min(std, (s.at(i3) - s.at(i1)) / 1.34)
      g -> 0.9 * a * math.pow(s.n.toDouble, -0.2)
    }
    (bws, stats.map { case (g, s) => g -> s.lanes.tail })
  }

  def gaussianCol(u: Column): Column =
    lit(InvSqrt2Pi) * exp(u * u * lit(-0.5))
}
