package graft.core

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sufficient statistics of a weighted least-squares problem:
  * X'WX, X'Wy, sum(w), sum(w*y), sum(w*y^2), n, min(w).
  *
  * This is the engine's one scalable compute kernel: every estimator the
  * reference implements as an in-memory matrix factorization
  * (`oaxaca_blinder/src/math/ols.rs:44-144`, `logit.rs:51-70`,
  * `probit.rs:82-112`) reduces to one pass of this aggregation. The
  * partial-merge is matrix addition, so it merges up `Jobs.treeReduce`
  * linearly at any data size, and only k-dimensional objects ever reach
  * the driver.
  */
final case class GramResult(
    k: Int,
    xtx: DenseMatrix[Double],
    xty: DenseVector[Double],
    sw: Double,
    swy: Double,
    swyy: Double,
    n: Long,
    minW: Double) {

  /** Weighted column means of X, assuming column 0 is the intercept. */
  def xMeans: DenseVector[Double] = {
    val m = DenseVector.zeros[Double](k)
    var j = 0
    while (j < k) { m(j) = xtx(0, j) / sw; j += 1 }
    m
  }
  def yMean: Double = swy / sw

  def plus(o: GramResult): GramResult =
    GramResult(k, xtx + o.xtx, xty + o.xty, sw + o.sw, swy + o.swy,
      swyy + o.swyy, n + o.n, math.min(minW, o.minW))
}

/** Flat mutable accumulation buffer holding `lanes * repsTotal` Gram
  * systems (lane = group index; rep 0 = real weights, reps 1..B =
  * bootstrap replicate weights).
  *
  * Layout is REPLICATE-CONTIGUOUS: `acc[(lane * stride + s) * repsTotal
  * + r]`. A row's accumulation is then `stride` SAXPY loops over the
  * replicate lane (`acc[base + r] += c * wr[r]`, contiguous, JIT
  * auto-vectorized) instead of `repsTotal` strided 28-element walks —
  * the difference is the whole cost of a 500-replicate bootstrap scan. */
final class GramBuffer(val k: Int, val lanes: Int, val repsTotal: Int)
    extends Serializable {

  // ---- lane-0 distinct-value tracking (speculative group split) ----
  // Gram.computeGroupedTracking records the distinct STRING values seen
  // on lane 0 so callers can fold group-level discovery into the Gram
  // scan itself (one job instead of distinct+collect followed by the
  // scan). The representation is tuned for the overwhelmingly common
  // case of ONE value: the first value is cached and compared per row
  // as UTF8String bytes (a short memcmp against the row buffer, no
  // per-row allocation); only mismatching values pay a decode into the
  // extras set.
  var trackFirst: String = null
  @transient private var trackFirstU8: org.apache.spark.unsafe.types.UTF8String = null
  val trackExtras = scala.collection.mutable.HashSet.empty[String]

  private def addExtra(s: String): Unit =
    if (s != trackFirst) { trackExtras += s; () }

  /** Record one lane-0 value straight off the UnsafeRow buffer. */
  def trackValue(u8: org.apache.spark.unsafe.types.UTF8String): Unit = {
    if (trackFirst == null) {
      trackFirst = u8.toString
      trackFirstU8 = org.apache.spark.unsafe.types.UTF8String.fromString(trackFirst)
    } else {
      if (trackFirstU8 == null) // rebuilt after deserialization
        trackFirstU8 = org.apache.spark.unsafe.types.UTF8String.fromString(trackFirst)
      if (!trackFirstU8.equals(u8)) addExtra(u8.toString)
    }
  }

  private def mergeTracking(o: GramBuffer): Unit = {
    if (o.trackFirst != null) {
      if (trackFirst == null) trackFirst = o.trackFirst
      else addExtra(o.trackFirst)
      o.trackExtras.foreach(addExtra)
    }
  }

  /** Distinct lane-0 values seen. */
  def trackedValues: Seq[String] =
    (Option(trackFirst).toSeq ++ trackExtras.toSeq)
  val tri = k * (k + 1) / 2
  // per system: packed upper-triangular X'WX, then X'Wy, then [sw, swy, swyy]
  val stride = tri + k + 3
  val acc = new Array[Double](lanes * repsTotal * stride)
  val nPerLane = new Array[Long](lanes)
  var minW = Double.PositiveInfinity

  def merge(o: GramBuffer): GramBuffer = {
    var i = 0
    while (i < acc.length) { acc(i) += o.acc(i); i += 1 }
    i = 0
    while (i < lanes) { nPerLane(i) += o.nPerLane(i); i += 1 }
    minW = math.min(minW, o.minW)
    mergeTracking(o)
    this
  }

  // scratch for the per-row sufficient-statistic vector (outer product,
  // x*y, 1, y, y^2) and the per-rep effective weights; safe because
  // treeAggregate applies seqOp serially per partition buffer
  private val scratch = new Array[Double](stride)
  private val wrScratch = new Array[Double](repsTotal)

  // per-row input scratch reused across rows by the seqOps — a 500-rep
  // bootstrap otherwise allocates a 4 KB multiplier array PER ROW
  // (gigabytes of garbage over a full scan)
  val xRow = new Array[Double](k)
  val repMult = new Array[Double](repsTotal)

  /** Add one observation to `lane` with per-rep weight multipliers. The
    * row's outer product is computed ONCE and scaled per replicate. */
  def add(lane: Int, y: Double, w: Double, x: Array[Double],
      repMult: Array[Double]): Unit = {
    var idx = 0
    var i = 0
    while (i < k) {
      val xi = x(i)
      var j = i
      while (j < k) { scratch(idx) = xi * x(j); idx += 1; j += 1 }
      i += 1
    }
    i = 0
    while (i < k) { scratch(tri + i) = x(i) * y; i += 1 }
    scratch(tri + k) = 1.0
    scratch(tri + k + 1) = y
    scratch(tri + k + 2) = y * y
    var r = 0
    while (r < repsTotal) { wrScratch(r) = w * repMult(r); r += 1 }
    val laneBase = lane * stride
    var s = 0
    while (s < stride) {
      val c = scratch(s)
      if (c != 0.0) {
        val base = (laneBase + s) * repsTotal
        r = 0
        while (r < repsTotal) { acc(base + r) += c * wrScratch(r); r += 1 }
      }
      s += 1
    }
    nPerLane(lane) += 1L
    if (w < minW) minW = w
  }

  /** Accumulate one observation into a single (lane, system) slot —
    * used by the multi-system pass where each system carries its own
    * response/weight (and possibly its own trailing design value in x). */
  def addOne(lane: Int, sys: Int, y: Double, w: Double,
      x: Array[Double]): Unit = {
    val laneBase = lane * stride
    def at(s: Int): Int = (laneBase + s) * repsTotal + sys
    var idx = 0
    var i = 0
    while (i < k) {
      val wxi = w * x(i)
      var j = i
      while (j < k) { acc(at(idx)) += wxi * x(j); idx += 1; j += 1 }
      acc(at(tri + i)) += wxi * y
      i += 1
    }
    acc(at(tri + k)) += w
    acc(at(tri + k + 1)) += w * y
    acc(at(tri + k + 2)) += w * y * y
    if (w < minW) minW = w
  }

  def bumpLane(lane: Int): Unit = nPerLane(lane) += 1L

  def result(lane: Int, rep: Int): GramResult = {
    val laneBase = lane * stride
    def at(s: Int): Int = (laneBase + s) * repsTotal + rep
    val m = DenseMatrix.zeros[Double](k, k)
    var idx = 0
    var i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        val v = acc(at(idx))
        m(i, j) = v; m(j, i) = v; idx += 1; j += 1
      }
      i += 1
    }
    val v = DenseVector.zeros[Double](k)
    i = 0
    while (i < k) { v(i) = acc(at(tri + i)); i += 1 }
    GramResult(k, m, v, acc(at(tri + k)), acc(at(tri + k + 1)),
      acc(at(tri + k + 2)), nPerLane(lane),
      if (minW.isPosInfinity) 0.0 else minW)
  }
}

object Gram {

  private[core] val oneRep = Array(1.0)

  /** One Gram pass over all rows: df must contain numeric columns yCol,
    * xCols (and wCol). Nulls must already be dropped (prep.Cleaner). */
  def compute(df: DataFrame, yCol: String, xCols: Seq[String],
      wCol: Option[String] = None): GramResult =
    computeGrouped(df, yCol, xCols, wCol, lit(0), 1, 0, 0L)(0)(0)

  /** Gram pass producing `nLanes * (reps + 1)` systems in ONE scan:
    * `laneOf` maps each row to a lane index (e.g. group A=0 / B=1; rows
    * mapping outside [0, nLanes) are skipped). Within each lane, rep 0
    * uses the real weights and reps 1..B multiply them by i.i.d.
    * Poisson(1) draws keyed on (seed, rep, row-content hash) — the
    * scalable equivalent of the reference's per-group with-replacement
    * resampling (`oaxaca_blinder/src/builder.rs:816-839`); the rayon
    * rep-parallelism becomes extra accumulator lanes in the same scan.
    * Returns [lane][rep].
    *
    * `seedCols`: columns to key the per-row replicate draws on; default
    * (empty) hashes the model columns (y/w/x) themselves, which keeps the
    * scan prunable but gives CONTENT-DUPLICATE rows identical draws —
    * their resampling is correlated, a documented approximation of
    * i.i.d. per-row Poisson bootstrap that slightly biases SEs when
    * exact duplicate rows are common. Pass a unique id column here to
    * recover exact per-row independence.
    */
  def computeGrouped(df: DataFrame, yCol: String, xCols: Seq[String],
      wCol: Option[String], laneOf: Column, nLanes: Int, reps: Int,
      seed: Long, repWeightCols: Seq[String] = Nil,
      seedCols: Seq[String] = Nil): Array[Array[GramResult]] =
    computeGroupedImpl(df, yCol, xCols, wCol, laneOf, nLanes, reps, seed,
      repWeightCols, seedCols, trackCol = None)._1

  /** [[computeGrouped]] that ALSO records the distinct string values of
    * `trackCol` over lane-0 rows inside the same scan — the kernel
    * behind [[graft.prep.Prep.splitGroupsWithGram]]'s one-job
    * level-discovery fold. Per-row cost on lane 0 is one UTF8String
    * byte-compare against the cached first value; lanes != 0 pay
    * nothing. */
  def computeGroupedTracking(df: DataFrame, yCol: String, xCols: Seq[String],
      wCol: Option[String], laneOf: Column, nLanes: Int, reps: Int,
      seed: Long, trackCol: Column, repWeightCols: Seq[String] = Nil,
      seedCols: Seq[String] = Nil)
      : (Array[Array[GramResult]], Seq[String]) = {
    val (grams, tracked) = computeGroupedImpl(df, yCol, xCols, wCol, laneOf,
      nLanes, reps, seed, repWeightCols, seedCols, trackCol = Some(trackCol))
    (grams, tracked.get)
  }

  private def computeGroupedImpl(df: DataFrame, yCol: String,
      xCols: Seq[String], wCol: Option[String], laneOf: Column, nLanes: Int,
      reps: Int, seed: Long, repWeightCols: Seq[String],
      seedCols: Seq[String], trackCol: Option[Column])
      : (Array[Array[GramResult]], Option[Seq[String]]) = {
    val k = xCols.size
    val w = wCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val externalReps = repWeightCols.nonEmpty
    val nReps = if (externalReps) repWeightCols.size else reps
    // Poisson replicate seeding hashes the seed columns (default: the
    // model columns y/w/x), so column pruning still reaches the scan;
    // with reps == 0 (or external replicate weights) no hash is computed.
    val rowHash =
      if (nReps == 0 || externalReps) lit(0L)
      else if (seedCols.nonEmpty) xxhash64(seedCols.map(col): _*)
      else xxhash64((col(yCol) +: wCol.map(col).toSeq ++: xCols.map(col)): _*)
    val proj0 = df.select(
      (col(yCol).cast("double") +: w +: laneOf.cast("int").as("__lane__") +:
        rowHash +:
        (xCols.map(c => col(c).cast("double")) ++
          repWeightCols.map(c => col(c).cast("double")) ++
          trackCol.map(_.cast("string").as("__track__")).toSeq)): _*)
    val trackIdx = if (trackCol.isDefined) 4 + k + repWeightCols.size else -1
    // A replicate-heavy pass does ~nReps * stride flops per row; a small
    // input (one parquet file -> one scan partition) would run all of it
    // on ONE task no matter how many cores exist, so it goes through
    // Jobs.fanOut (a fixed partition count). NOTE: caller-attached
    // replicate-weight EXPRESSIONS (repWeightCols) evaluate below this
    // exchange — a caller whose weights are expensive per-row work must
    // fan out upstream, before attaching them (see q_bootstrap8).
    val proj =
      if (nReps >= 16 || externalReps) Jobs.fanOut(proj0) else proj0
    val repsTotal = nReps + 1
    val zero = new GramBuffer(k, nLanes, repsTotal)
    // toRdd: the codegen'd UnsafeRow stream, no per-row boxing into Row
    // (safe here: seqOp reads each field once and retains nothing)
    val res = Jobs.treeReduce(proj.queryExecution.toRdd,
      s"gram: ${nLanes}-lane ${repsTotal}-rep fused scan")(zero)(
      seqOp = (buf, row) => {
        val lane = if (row.isNullAt(2)) -1 else row.getInt(2)
        if (lane >= 0 && lane < nLanes) {
          // The UnsafeRow stream reads a null double as 0.0; fail loudly
          // instead of silently corrupting the sums (anyNull is a bitset
          // word scan, ~free next to the per-row arithmetic below).
          if (row.anyNull)
            throw InvalidArgument(
              "Gram pass read a null model value; drop null rows first")
          if (trackIdx >= 0 && lane == 0)
            buf.trackValue(row.getUTF8String(trackIdx))
          val y = row.getDouble(0)
          val wv = row.getDouble(1)
          val rh = row.getLong(3)
          val x = buf.xRow
          var i = 0
          while (i < k) { x(i) = row.getDouble(4 + i); i += 1 }
          val mult =
            if (nReps == 0) oneRep
            else {
              val m = buf.repMult
              m(0) = 1.0
              if (externalReps) {
                var r = 1
                while (r < repsTotal) {
                  m(r) = row.getDouble(4 + k + (r - 1)); r += 1
                }
              } else {
                // Carter-Wegman replicate draws — q_bootstrap8's
                // external-lane trick folded into the kernel: TWO
                // SplitMix64 mixes per ROW plus one 64-bit add per
                // REPLICATE (h_r = h1 + r*h2 wrapping mod 2^64, h2
                // forced odd so the increment has full period),
                // replacing a full 3-multiply mix per (row, replicate).
                // The affine map (h1, h2) -> (h_r, h_r') is a bijection
                // for odd replicate distance (pairwise-uniform draws,
                // the same 2-universal family the external CW lanes
                // use); at 500 replicates the draw loop WAS the
                // bootstrap scan's dominant cost.
                var h = mix(rh, seed)
                val h2 = mix(rh, seed + 0x6A09E667F3BCC909L) | 1L
                var r = 1
                while (r < repsTotal) { h += h2; m(r) = poisson1(h); r += 1 }
              }
              m
            }
          buf.add(lane, y, wv, x, mult)
        }
        buf
      },
      combOp = (a, b) => a.merge(b))
    val grams = Array.tabulate(nLanes)(l =>
      Array.tabulate(repsTotal)(r => res.result(l, r)))
    (grams, trackCol.map(_ => res.trackedValues))
  }

  /** One system of a multi-system pass: its own response and weight
    * columns, optionally its own extra design column (appended LAST to
    * the shared xCols — e.g. a per-replicate inverse Mills ratio). */
  final case class MultiSystem(yCol: String, wCol: String,
      extraXCol: Option[String] = None)

  /** Multi-system Gram pass: all systems share the base design columns
    * but differ in response/weight (and optionally one trailing design
    * column). ONE scan produces `nLanes * systems.size` Gram systems —
    * the kernel behind batched iterative bootstrap (every replicate of an
    * IRLS fit advances per data pass instead of per replicate).
    * Returns [lane][system]. */
  def computeMulti(df: DataFrame, xCols: Seq[String],
      systems: Seq[MultiSystem], laneOf: Column,
      nLanes: Int): Array[Array[GramResult]] = {
    require(systems.nonEmpty)
    val hasExtra = systems.head.extraXCol.isDefined
    require(systems.forall(_.extraXCol.isDefined == hasExtra),
      "all systems must agree on having an extra design column")
    val k = xCols.size + (if (hasExtra) 1 else 0)
    val nSys = systems.size
    val sysCols = systems.flatMap(s =>
      Seq(col(s.yCol).cast("double"), col(s.wCol).cast("double")) ++
        s.extraXCol.map(col(_).cast("double")))
    val perSys = if (hasExtra) 3 else 2
    val proj0 = df.select(
      (laneOf.cast("int").as("__lane__") +:
        (xCols.map(c => col(c).cast("double")) ++ sysCols)): _*)
    // Jobs.fanOut, as in computeGrouped: many systems per row on a
    // single-file scan must not serialize onto one task
    val proj = if (nSys >= 16) Jobs.fanOut(proj0) else proj0
    val kBase = xCols.size
    val zero = new GramBuffer(k, nLanes, nSys)
    val res = Jobs.treeReduce(proj.queryExecution.toRdd,
      s"gram: ${nLanes}-lane ${nSys}-system pass")(zero)(
      seqOp = (buf, row) => {
        val lane = if (row.isNullAt(0)) -1 else row.getInt(0)
        if (lane >= 0 && lane < nLanes) {
          // same null discipline as computeGrouped: loud, not 0.0
          if (row.anyNull)
            throw InvalidArgument(
              "Gram pass read a null model value; drop null rows first")
          val x = buf.xRow
          var i = 0
          while (i < kBase) { x(i) = row.getDouble(1 + i); i += 1 }
          var s = 0
          while (s < nSys) {
            val off = 1 + kBase + s * perSys
            val y = row.getDouble(off)
            val w = row.getDouble(off + 1)
            if (hasExtra) x(k - 1) = row.getDouble(off + 2)
            if (w != 0.0) buf.addOne(lane, s, y, w, x)
            s += 1
          }
          buf.bumpLane(lane)
        }
        buf
      },
      combOp = (a, b) => a.merge(b))
    Array.tabulate(nLanes)(l => Array.tabulate(nSys)(s => res.result(l, s)))
  }

  /** SplitMix64-style counter-based mixing: deterministic per (row, rep). */
  def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // Poisson(1) cumulative thresholds, precomputed by the exact
  // recurrence the old per-draw loop ran (p_{x} = p_{x-1}/x starting at
  // e^-1), so table lookups are bit-identical to the loop while paying
  // zero divisions per draw. 64 entries matches the loop's old x < 64
  // cap; past ~30 the terms underflow double anyway.
  private val P1Cdf: Array[Double] = {
    val a = new Array[Double](64)
    var p = math.exp(-1.0)
    a(0) = p
    var x = 1
    while (x < 64) { p = p / x; a(x) = a(x - 1) + p; x += 1 }
    a
  }

  /** Poisson(1) via inverse CDF on a uniform derived from the hash.
    * Bit-identical to the historical accumulate-as-you-go loop (the
    * table is built by the same recurrence); the common case (u below
    * the first two thresholds, ~74% of draws) is 1-2 compares. */
  def poisson1(h: Long): Double = {
    val u = ((h >>> 11).toDouble) * 1.1102230246251565e-16 // 2^-53
    var x = 0
    while (x < 64 && u > P1Cdf(x)) x += 1
    x.toDouble
  }
}
