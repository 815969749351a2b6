package graft.core

import graft.functions.{BucketIndex, SortedLookup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global ordered prefix sums.
  *
  * A plain `Window.orderBy(...)` with no partition key collapses to ONE
  * task in Spark — fine at test scale, fatal at 100 TB. This helper
  * computes the same exclusive running sum by bucketing on the VALUE of
  * the ordering key (boundaries from one approxQuantile pass, frozen
  * into the plan), then per-bucket windows plus a bucket-count-sized offset
  * table. Because the bucket of a row is a pure function of its key —
  * not of partition ids or range-sampling seeds — re-executions of the
  * returned plan are always self-consistent and deterministic.
  */
object Windows {

  /** Upper bound on the (group, bucket) metadata tuples
    * [[valuesAtRanksGrouped]] may collect to the driver — ~2M tuples is
    * ~100 MB of boxed driver state, far above any decomposition workload
    * (2-3 groups) and low enough that a runaway group-dense caller fails
    * fast instead of OOMing the driver mid-collect. */
  private[graft] val MaxDriverGroupBucketTuples: Long = 2000000L

  /** The bucketed front half of [[exclusivePrefixSum]] — split out so
    * specs can assert the effective (bucket, sub) split on tie-dense
    * keys, not just the plan shape. */
  private[graft] def prefixBucketed(df: DataFrame, keyCol: Column,
      ascending: Boolean, tieBreaks: Seq[Column], value: Column,
      boundariesOverride: Option[Array[Double]] = None): DataFrame = {
    val buckets = df.sparkSession.sessionState.conf.numShufflePartitions
    // monotone bucket id (negated key for descending order so bucket
    // order == global order)
    val signedKey = if (ascending) keyCol.cast("double")
      else -keyCol.cast("double")
    val keyed = df.withColumn("__pfx_key__", signedKey)
    val probes = probeFractions(buckets)
    // boundariesOverride: callers that already run an aggregate over the
    // same rows can ride the boundary probe on it as a percentile_approx
    // lane (see Equity.optimizePrepared) and pass the result here — one
    // job fewer, and ANY monotone boundary set is correct (buckets only
    // set parallelism; the prefix order is (key, ties) either way).
    // Boundaries in the SIGNED key space, pre-normalized by the caller.
    val boundaries = boundariesOverride.getOrElse {
      if (probes.isEmpty) Array.empty[Double]
      else graft.functions.BucketIndexExpr.normalize(
        keyed.stat.approxQuantile("__pfx_key__", probes, 0.001))
    }
    // null keys -> bucket 0, matching the old when-fold (whose null
    // comparisons all evaluated false); callers order/filter null keys
    // upstream
    val bucket =
      coalesce(BucketIndex(col("__pfx_key__"), boundaries), lit(0))
    // sub-split point buckets when the key probe collapsed: distinct
    // boundaries < min(8, buckets/4) means ONE tied value may hold an
    // O(n) share of the rows
    val collapsed = probes.nonEmpty &&
      boundaries.length < math.min(8, math.max(buckets / 4, 2))
    val tieBoundaries: Array[Double] =
      if (!collapsed || tieBreaks.isEmpty) Array.empty
      else {
        // a non-numeric tie-break casts to all-null -> no usable probe;
        // fall back to unsplit point buckets (correct, just coarser)
        val t = keyed.withColumn("__pfx_tie__",
          tieBreaks.head.cast("double"))
        scala.util.Try(
          graft.functions.BucketIndexExpr.normalize(
            t.stat.approxQuantile("__pfx_tie__", probes, 0.001)
              .filterNot(_.isNaN))
        ).getOrElse(Array.empty)
      }
    val sub =
      if (tieBoundaries.isEmpty) lit(0)
      else when(bucket % 2 === 1, // point buckets only; ranges keep 0
        // null tie-breaks -> sub 0: asc ordering puts nulls first, and
        // sub 0 is the first sub, so the global order stays consistent
        coalesce(graft.functions.BucketIndex(
          tieBreaks.head.cast("double"), tieBoundaries), lit(0)))
        .otherwise(lit(0))
    keyed.withColumn("__bucket__", bucket)
      .withColumn("__sub__", sub)
      .withColumn("__val__", value)
  }

  /** Adds `outCol` = sum of `value` over all rows strictly before the
    * current row in the global ordering (exclusive prefix sum).
    *
    * Tie-dense keys (e.g. a uniform adjustment amount, an outcome
    * dominated by one value) collapse the boundary probe's distinct set,
    * which would funnel ALL tied rows into one bucket = one window task
    * at scale — exactly the failure this machinery exists to prevent.
    * The point/range bucket split isolates each heavy tied value in its
    * own (odd) bucket, and point buckets are then SUB-bucketed on
    * quantile boundaries of the first tie-break: within a point bucket
    * the key is constant, and the sub id is monotone in the tie-break,
    * so ordering by (bucket, sub, key, ties) IS the global (key, ties)
    * order and every prefix stays bit-identical — no tie run ever sorts
    * in a single task. The tie probe is only paid when the key probe
    * actually collapsed (and skipped when no tie-break is castable).
    *
    * @param keyCol    numeric primary ordering column
    * @param ascending ordering direction of keyCol
    * @param tieBreaks extra columns making the ordering total
    */
  def exclusivePrefixSum(df: DataFrame, keyCol: Column, ascending: Boolean,
      tieBreaks: Seq[Column], value: Column, outCol: String,
      boundariesOverride: Option[Array[Double]] = None): DataFrame = {
    val ordering = (if (ascending) keyCol.asc else keyCol.desc) +:
      tieBreaks.map(_.asc)
    val bucketed = prefixBucketed(df, keyCol, ascending, tieBreaks, value,
      boundariesOverride)
    val local = Window.partitionBy(col("__bucket__"), col("__sub__"))
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = bucketed.withColumn("__local_prefix__",
      coalesce(sum(col("__val__")).over(local), lit(0.0)))
    // (bucket, sub) totals: <= ~3 * numBuckets rows; deterministic
    // (value-derived), so re-executions stay self-consistent
    val totals = Jobs.labeled(df.sparkSession, "prefix-sum: bucket totals") {
      bucketed.groupBy(col("__bucket__"), col("__sub__"))
        .agg(sum(col("__val__")).as("__tot__"))
        .collect()
    }.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    var acc = 0.0
    val offsets = totals.keys.toSeq.sorted.map { k =>
      val off = acc
      acc += totals(k)
      k -> off
    }
    val offCol = SortedLookup(Seq(col("__bucket__"), col("__sub__")),
      offsets.map { case ((b, s), off) => Seq(b, s) -> off }, Some(0.0))
    withLocal.withColumn(outCol, col("__local_prefix__") + offCol)
      .drop("__pfx_key__", "__bucket__", "__sub__", "__val__",
        "__local_prefix__")
  }

  /** The `n - 1` probe fractions `i / n` that split a value range into
    * `n` buckets: the quantile probe of every bucket-boundary sketch. */
  private def probeFractions(n: Int): Array[Double] =
    (1 until n).map(_.toDouble / n).toArray

  /** The bucket-boundary sketch as an aggregate lane: a
    * `percentile_approx` of `v` at the `n - 1` probe fractions, at the
    * given accuracy (a typed null array when `n <= 1`). Boundaries only
    * balance buckets, so any accuracy gives the same results. */
  private[graft] def boundaryLane(v: Column, n: Int, accuracy: Int): Column =
    if (n <= 1) lit(null).cast("array<double>")
    else percentile_approx(v, array(probeFractions(n).toSeq.map(lit): _*),
      lit(accuracy))

  /** One group's result of [[groupedOrderStats]]: the non-null value
    * count, the caller's lanes in argument order, and the values at the
    * requested 0-based ranks. */
  private[graft] final case class OrderStats(n: Long, lanes: Seq[Any],
      at: Map[Long, Double])

  /** The engine's one grouped order-statistics front end: ONE labeled
    * grouped stats pass (per-group non-null count of `value` and the
    * caller's `lanes`) and ONE [[valuesAtRanksGrouped]] for the ranks
    * `ranksOf(n)` of every group. Lanes may reference any column of
    * `df`. The null group key and groups with n == 0 carry their lanes
    * but get no ranks. A NaN value counts in n and ranks last.
    *
    * The stats pass stays a codegen hash aggregate and the rank-pick
    * sizes and runs its own boundary probe. Folding the probe into the
    * stats pass as a per-group [[boundaryLane]] saves the probe jobs but
    * moves the pass onto the object-hash path, and its one-bucket-per-
    * shuffle-partition boundaries leave the window sorting most of the
    * rows when several ranks are asked: measured at sf0.1 on 4 cores
    * with 4 shuffle partitions (Bench min channel, medians of 5
    * alternating pairs), the lane lost on q_quantile_t7 (1.88 -> 1.98 s)
    * and q_mm_newton3 (2.93 -> 4.10 s), each in 4 of 5 pairs. */
  private[graft] def groupedOrderStats(df: DataFrame, group: Column,
      value: Column, lanes: Seq[Column], label: String)(
      ranksOf: Long => Set[Long]): Map[String, OrderStats] = {
    val spark = df.sparkSession
    val base = df.withColumn("__g__", group.cast("string"))
      .withColumn("__v__", value.cast("double"))
    val aggs = count(col("__v__")) +:
      lanes.zipWithIndex.map { case (c, i) => c.as(s"__l${i}__") }
    val rows = Jobs.labeled(spark, label) {
      base.groupBy(col("__g__")).agg(aggs.head, aggs.tail: _*).collect()
    }
    val wanted = rows.collect {
      case r if !r.isNullAt(0) && r.getLong(1) > 0 =>
        r.getString(0) -> ranksOf(r.getLong(1))
    }.toMap
    val picked = Jobs.labeled(spark, label) {
      valuesAtRanksGrouped(base, col("__g__"), col("__v__"), wanted)
    }
    rows.map { r =>
      val g = if (r.isNullAt(0)) null else r.getString(0)
      g -> OrderStats(r.getLong(1), lanes.indices.map(i => r.get(2 + i)),
        picked.getOrElse(g, Map.empty))
    }.toMap
  }

  /** Per-group R type-7 (linearly interpolated) sample quantiles at the
    * given taus, plus caller-supplied per-group aggregate lanes, WITHOUT
    * the exact `percentile` aggregate — that aggregate buffers every
    * value of a group inside one task, which dies at 100 TB. The
    * bracketing order statistics of every (group, tau) come from
    * [[groupedOrderStats]], then driver interpolation
    * `(hi-pos)*vLo + (pos-lo)*vHi` — identical arithmetic to Spark's
    * `percentile` and DuckDB's `quantile_cont`. Returns per group:
    * (non-null value count, tau -> quantile, the extra aggregate values
    * in argument order). Groups with n == 0 and the null group are
    * omitted; n == 1 reports the single value at every tau. NaN
    * propagates as in Spark's `percentile`: it ranks last, so it is the
    * quantile at tau 1 and at any tau that interpolates towards it. */
  def quantilesType7Grouped(df: DataFrame, group: Column, value: Column,
      taus: Seq[Double], extraAggs: Seq[Column] = Nil)
      : Map[String, (Long, Map[Double, Double], Seq[Any])] = {
    require(taus.nonEmpty && taus.forall(t => t >= 0.0 && t <= 1.0),
      "taus must be within [0, 1]")
    val stats = groupedOrderStats(df, group, value, extraAggs,
        "rank-pick: type-7 stats") { n =>
      taus.flatMap { t =>
        val pos = (n - 1).toDouble * t
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }.toSet
    }
    stats.collect { case (g, s) if g != null && s.n >= 1 =>
      val qs = taus.map { t =>
        val pos = (s.n - 1).toDouble * t
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val vLo = s.at(lo)
        t -> (if (lo == hi) vLo else (hi - pos) * vLo + (pos - lo) * s.at(hi))
      }.toMap
      g -> (s.n, qs, s.lanes)
    }
  }

  /** Per-GROUP values at 0-based within-group sort ranks, for every
    * group in ONE set of passes (quantile probe, per-(group, bucket)
    * counts, pruned per-(group, bucket) window) instead of the three
    * passes a per-group loop would cost per group. Bucket boundaries
    * come from one LOW-PRECISION quantile probe over ALL groups — the
    * boundaries only balance bucket sizes, never touch the result, so
    * neither per-group boundaries nor tight probe accuracy is needed.
    * Only the (group, bucket) pairs whose rank range actually contains
    * a requested rank reach the sort: for k requested ranks the window
    * sorts at most k buckets' worth of rows (~k/buckets of the data),
    * not the whole frame. The window partitions by (group, bucket), so
    * no group's rows ever collapse into one task.
    *
    * One route, at any group or rank count: every table the pick needs
    * (group -> id, (group, bucket) -> rank offset, the wanted
    * (group, rank) set) enters the plan as one [[SortedLookup]], so the
    * generated code is the same for every request, and an absent key
    * (null) filters the row out. Rows with a null group or a null value
    * never rank; NaN ranks last, as in Spark's `percentile`: the bucket
    * index puts it in the top range bucket and the window's ascending
    * order puts it after every number.
    *
    * DRIVER-MEMORY CONTRACT: the per-(group, bucket) count metadata is
    * collected to the driver, O(|ranksByGroup| x 2*buckets) tuples (the
    * input is filtered to the REQUESTED groups first, so the frame's own
    * group cardinality never matters). Callers already hold a
    * driver-side map per requested group, so the collect adds a small
    * constant factor. [[MaxDriverGroupBucketTuples]] guards the driver:
    * past it the call switches to [[valuesAtRanksGroupedDense]], which
    * keeps the offset metadata distributed end to end (the returned
    * result map is O(requested ranks) either way — that size is the
    * caller's own ask). `maxDriverTuples` exists so specs can force the
    * dense route at any size. */
  private[graft] def valuesAtRanksGrouped(df: DataFrame, group: Column,
      value: Column, ranksByGroup: Map[String, Set[Long]],
      maxDriverTuples: Long = MaxDriverGroupBucketTuples)
      : Map[String, Map[Long, Double]] = {
    val want = ranksByGroup.collect {
      case (g, rs) if g != null && rs.nonEmpty => g -> rs.map(math.max(_, 0L))
    }
    if (want.isEmpty) return Map.empty
    val spark = df.sparkSession
    // group id = index into the requested groups, sorted
    val groups = want.keys.toIndexedSeq.sorted
    // Bucket count scales with the REQUESTED rank count, not just the
    // shuffle-partition count: each wanted rank keeps at most one range
    // bucket (~n/buckets rows) alive through the final window sort, so
    // at `buckets = 2 * partitions` a 10-rank ask on one group sorts
    // ~10/64 of the whole frame (sf10 receipt: the window job is 4.8 s
    // of q_quantile_t7's 8.6 s; the probe is 0.6 s). 16 buckets per
    // wanted rank caps the kept fraction at ~1/16 regardless of rank
    // count, while the 1024 ceiling bounds probe size and the driver's
    // (group, bucket) metadata. Boundaries remain purely a load-balance
    // choice — the rank-pick is exact at ANY bucketing, so results are
    // bit-identical across bucket counts.
    val totalWanted = want.valuesIterator.map(_.size).sum
    val nBuckets = math.min(1024L,
      math.max(spark.sessionState.conf.numShufflePartitions.toLong,
        16L * totalWanted))
    val gid = SortedLookup(Seq(group.cast("string")),
      groups.indices.map(i => Seq(groups(i)) -> i.toDouble), None)
    val vals = df.select(gid.cast("int").as("__gid__"),
        value.cast("double").as("__v__"))
      .filter(col("__gid__").isNotNull && col("__v__").isNotNull)
    val boundaries = graft.functions.BucketIndexExpr.normalize(
      Jobs.labeled(spark, "rank-pick: boundary probe") {
        vals.stat.approxQuantile("__v__", probeFractions(nBuckets.toInt), 0.01)
      })
    val bucketed = vals.withColumn("__bucket__",
      BucketIndex(col("__v__"), boundaries))
    val picked =
      if (want.size * 2L * nBuckets > maxDriverTuples)
        valuesAtRanksGroupedDense(bucketed, boundaries, groups.map(want))
      else {
        // per-(group, bucket) counts: <= groups * buckets rows,
        // deterministic (value-derived buckets), so re-executions stay
        // self-consistent
        val counts = Jobs.labeled(spark, "rank-pick: per-(group,bucket) counts") {
          bucketed.groupBy(col("__gid__"), col("__bucket__")).count().collect()
        }.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
        // each wanted rank's (group, bucket) and that bucket's first rank
        val hits = counts.groupBy(_._1._1).toSeq.flatMap { case (g, cs) =>
          var acc = 0L
          cs.sortBy(_._1._2).flatMap { case ((_, b), n) =>
            acc += n
            want(groups(g)).filter(r => r >= acc - n && r < acc)
              .map(r => (g, b, acc - n, r))
          }
        }
        // a rank in a POINT bucket needs no sort — every row there holds
        // the boundary value. Only thin RANGE buckets (bounded by the
        // probe spacing) reach the window, so a (near-)constant value
        // column, which collapses the probe's distinct set, cannot funnel
        // its rows into one single-task sort.
        val (points, ranges) = hits.partition(_._2 % 2 == 1)
        val local = Window.partitionBy(col("__gid__"), col("__bucket__"))
          .orderBy(col("__v__").asc)
        // the offset table holds only the (group, bucket) pairs with a
        // wanted rank: every other row is pruned before the sort
        val offset = SortedLookup(Seq(col("__gid__"), col("__bucket__")),
          ranges.map(h => Seq(h._1, h._2) -> h._3.toDouble).distinct, None)
        val wanted = SortedLookup(Seq(col("__gid__"), col("__rk__")),
          ranges.map(h => Seq(h._1, h._4) -> 0.0), None)
        val windowed = if (ranges.isEmpty) Array.empty[(Int, Long, Double)]
          else Jobs.labeled(spark, "rank-pick: windowed pick") {
            bucketed.withColumn("__off__", offset)
              .filter(col("__off__").isNotNull)
              .withColumn("__rk__",
                (row_number().over(local) + col("__off__") - 1).cast("long"))
              .filter(wanted.isNotNull)
              .select(col("__gid__"), col("__rk__"), col("__v__")).collect()
          }.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        points.map(h => (h._1, h._4, boundaries((h._2 - 1) / 2))) ++ windowed
      }
    picked.groupBy(_._1).map { case (g, hs) =>
      groups(g) -> hs.map(h => h._2 -> h._3).toMap
    }
  }

  /** Group-dense rank-pick, the driver-memory guard of
    * [[valuesAtRanksGrouped]]: the same bucketed algorithm over the same
    * (group id, value) rows with every piece of per-(group, bucket)
    * metadata kept DISTRIBUTED — cumulative offsets via a per-group
    * window over the (group, bucket) count table (at most 2 * buckets
    * rows per group, so no skew), rank-to-bucket location via an
    * equi-join on the group plus the offset-range predicate, point
    * buckets resolved from the boundary values, and range buckets by a
    * per-(group, bucket) `row_number` window on the semi-joined rows.
    * Only the RESULT (one row per requested rank — the size of the
    * caller's own input map) is ever collected. Its jobs carry
    * `rank-pick:` labels. The two frames it reads twice are cached and
    * released before it returns (not local checkpoints: a task of a
    * stage AQE cancels can still be reading after the result is in, and
    * a released checkpoint fails it where a released cache recomputes). */
  private def valuesAtRanksGroupedDense(bucketed0: DataFrame,
      boundaries: Array[Double], want: IndexedSeq[Set[Long]])
      : Seq[(Int, Long, Double)] = {
    val spark = bucketed0.sparkSession
    import spark.implicits._
    val bucketed = bucketed0.persist()
    val wOff = Window.partitionBy(col("__gid__")).orderBy(col("__bucket__"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy(col("__gid__"), col("__bucket__")).count()
      .withColumn("__off__", coalesce(sum(col("count")).over(wOff), lit(0L)))
    val ranksDf = spark.sparkContext.parallelize(
        want.indices.flatMap(g => want(g).map(r => (g, r))),
        math.max(1, spark.sparkContext.defaultParallelism))
      .toDF("__gid__", "__r__")
    // each rank falls in exactly one bucket's [off, off + n) span;
    // ranks past the group's total row count simply never match (the
    // same omission semantics as the driver route)
    val located = ranksDf.join(offs, Seq("__gid__"))
      .filter(col("__r__") >= col("__off__") &&
        col("__r__") < col("__off__") + col("count"))
      .select(col("__gid__"), col("__r__"), col("__bucket__"), col("__off__"))
      .persist()
    val pointValue = SortedLookup(Seq(col("__bucket__")),
      boundaries.indices.map(i => Seq(2 * i + 1) -> boundaries(i)), None)
    val pointRows = located.filter(col("__bucket__") % 2 === 1)
      .select(col("__gid__"), col("__r__"), pointValue.as("__v__"))
    val targets = located.filter(col("__bucket__") % 2 === 0)
      .select(col("__gid__"), col("__bucket__"), col("__r__"),
        (col("__r__") - col("__off__")).as("__lr__"))
    val keep = targets.select(col("__gid__"), col("__bucket__")).distinct()
    val local = Window.partitionBy(col("__gid__"), col("__bucket__"))
      .orderBy(col("__v__").asc)
    val rangeRows = bucketed
      .join(keep, Seq("__gid__", "__bucket__"), "left_semi")
      .withColumn("__lr__", row_number().over(local).cast("long") - lit(1L))
      .join(targets, Seq("__gid__", "__bucket__", "__lr__"))
      .select(col("__gid__"), col("__r__"), col("__v__"))
    try {
      Jobs.labeled(spark, "rank-pick: dense pick") {
        pointRows.unionByName(rangeRows).collect()
      }.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    } finally Seq(bucketed, located).foreach(_.unpersist(blocking = false))
  }
}
