package graft.estimators

import breeze.linalg.DenseVector
import graft.core._
import graft.ext.Cluster
import graft.functions.Param
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AKM (Abowd–Kramarz–Margolis) two-way fixed effects
  * (`oaxaca_blinder/src/akm.rs`):
  * largest connected set over the worker–firm bipartite graph, FWL
  * zig-zag demeaning of y and controls, OLS on the demeaned system,
  * alternating-projection recovery of worker/firm effects with the
  * first-firm normalization, and R^2 against total y variance.
  *
  * Distributed re-expression: ALL iterative work (component labels,
  * zig-zag, FE recovery) needs only the worker-firm EDGE table — per-pair
  * counts and vector sums from one obs-table aggregation. Up to
  * [[Akm.DriverEdgeCap]] edges that table iterates on the driver (zero
  * Spark jobs per iteration; the obs table is touched by exactly three
  * passes: edge aggregation, demeaned Gram, R^2). Beyond the cap the
  * loops run distributed: per-iteration groupBy-avg + join rounds with
  * `localCheckpoint` to cut lineage — no per-node state on the driver.
  * The largest connected set comes from [[graft.ext.Cluster]] on both
  * routes: its union-find on the driver, or its star rounds.
  */
final case class AkmResult(
    beta: DenseVector[Double],
    controlNames: Seq[String],
    workerEffects: DataFrame, // (workerCol, effect)
    firmEffects: DataFrame,   // (firmCol, effect)
    r2: Double,
    nObs: Long)

object Akm {

  /** Edge tables (distinct worker-firm pairs) up to this many entries run
    * every ITERATIVE step — component labels, zig-zag demeaning, FE
    * recovery — on the driver over the collected edge table: zero Spark
    * jobs per iteration instead of 2 joins + a checkpoint each. The
    * observation table is only ever touched by three non-iterative
    * passes (edge aggregation, demeaned Gram, R^2). Larger graphs fall
    * back to the fully distributed loops. `run` takes the cap as a
    * parameter so tests can force the distributed path on small graphs. */
  val DriverEdgeCap: Long = 2000000L

  /** BYTE budget for the collected edge table — the binding constraint,
    * checked alongside [[DriverEdgeCap]]: an edge count says nothing
    * about driver heap when the worker/firm keys are long strings
    * (2M edges of 8-char ids is ~350 MB of boxed rows; of 200-char ids,
    * ~1.7 GB). The estimate prices each collected `Row` at its JVM
    * shape — two Strings (40 B header + 2 B/char), one boxed Long, one
    * boxed Double per vector lane, row + object-array overhead — using
    * exact per-key char sums from the same aggregate that counts the
    * edges (no extra pass). Graphs over EITHER limit run distributed. */
  val DriverEdgeByteBudget: Long = 256L << 20

  /** Estimated driver-heap bytes for `nEdges` collected edge rows whose
    * worker+firm keys total `sumKeyChars` characters, with `nv` vector
    * lanes (outcome + controls): fixed ~136 B/row (Row + backing array
    * + 2 String headers + boxed Long) + 16 B per boxed lane sum +
    * 2 B/char of key text. */
  private[graft] def edgeBytesEstimate(nEdges: Long, sumKeyChars: Long,
      nv: Int): Long =
    nEdges * (136L + 16L * nv) + 2L * sumKeyChars

  /** Shared observation projection for BOTH solve paths: string keys,
    * double-cast outcome and controls. Rows with a null in ANY model
    * column — worker, firm, outcome, or a control — are dropped,
    * matching the reference's clean-before-AKM (`builder.rs:760-784`,
    * applied per `akm.rs:118-127`), which removes incomplete rows rather
    * than imputing. Dropping nulls HERE is load-bearing: the Gram kernel
    * reads the codegen UnsafeRow stream, where a null double reads as
    * 0.0, so nulls must never reach it. */
  private def projectObs(df: DataFrame, outcome: String, workerCol: String,
      firmCol: String, controls: Seq[String]): DataFrame =
    df.select(
      (col(workerCol).cast("string").as("w") +:
        col(firmCol).cast("string").as("f") +:
        col(outcome).cast("double").as("__v0__") +:
        controls.zipWithIndex.map { case (c, i) =>
          col(c).cast("double").as(s"__v${i + 1}__")
        }): _*).na.drop()

  /** Rows restricted to the largest connected worker-firm component
    * (`akm.rs:114-148`); see [[componentWorkers]]. */
  def largestConnectedSet(df: DataFrame, workerCol: String,
      firmCol: String): DataFrame = {
    val w = col(workerCol).cast("string")
    val edges = df.select(w.as("w"), col(firmCol).cast("string").as("f"))
      .na.drop().distinct()
    val keep = componentWorkers(edges, DriverEdgeCap)
    df.join(keep, w === keep("w"), "left_semi")
  }

  /** The one-column frame of workers in the largest connected component
    * of the (w, f) edge table, largest by node count (workers + firms),
    * ties to the component holding the smallest node label. Each worker
    * and firm is a long node id, the rank of its "w:"/"f:" label in
    * Spark's UTF-8 string order, so a component's id (its smallest node
    * id) names its smallest label; [[Cluster.connectedComponents]] finds
    * the components by its own route under `driverEdgeCap`. */
  private def componentWorkers(edges: DataFrame,
      driverEdgeCap: Long): DataFrame =
    Jobs.labeled(edges.sparkSession, "akm: connected set") {
      // ids ascend with the sort: each partition of a global sort holds
      // the next label range, and the id is (partition, row in partition)
      val nodes = edges.select(concat(lit("w:"), col("w")).as("lab"))
        .union(edges.select(concat(lit("f:"), col("f")).as("lab")))
        .distinct().orderBy(col("lab"))
        .withColumn("id", monotonically_increasing_id()).localCheckpoint()
      def idOf(c: String, p: String) = nodes.select(col("lab").as(c), col("id").as(p))
      val pairs = edges.select(concat(lit("w:"), col("w")).as("lw"),
          concat(lit("f:"), col("f")).as("lf"))
        .join(idOf("lw", "a"), "lw").join(idOf("lf", "b"), "lf")
      val cc = Cluster.connectedComponents(pairs, "a", "b",
        driverEdgeCap = driverEdgeCap)
      val top = cc.groupBy(col("component")).count()
        .orderBy(col("count").desc, col("component")).limit(1).collect()
      if (top.isEmpty) throw InsufficientData("Empty graph")
      cc.filter(col("component") === top(0).getLong(0)).join(nodes, "id")
        .filter(col("lab").startsWith("w:")).select(expr("substring(lab, 3)").as("w"))
    }

  /** `driverEdgeCap` routes between the driver edge-table path and the
    * fully distributed loops (default [[DriverEdgeCap]]; injectable so
    * the distributed path is testable on small graphs). The distinct
    * edge table is derived ONCE and shared between the routing decision
    * and the connected-component pass. */
  def run(df: DataFrame, outcome: String, workerCol: String, firmCol: String,
      controls: Seq[String] = Nil, tolerance: Double = 1e-8,
      maxIters: Int = 1000, driverEdgeCap: Long = DriverEdgeCap): AkmResult = {
    val nv = controls.size + 1
    val obs = projectObs(df, outcome, workerCol, firmCol, controls)
    // ONE observation-table aggregation builds the edge table with
    // EVERY sufficient statistic the driver path needs: per-edge counts,
    // per-vector sums, and the upper-triangle cross-product sums. The
    // zig-zag effects are constant within a (worker, firm) edge, so the
    // demeaned Gram AND the R^2 quadratic both decompose exactly over
    // these — the driver route touches the observation table ONCE.
    // A narrow-routing-aggregation-first variant (count + key bytes,
    // wide lanes only on the confirmed driver route) was measured and
    // REVERTED in r14: the second obs pass it costs the DRIVER route —
    // the route actually taken at sf10 — ran q_akm 3.3 -> 4.5 s, while
    // the q_ij lanes it saves the distributed route are a bounded
    // per-edge constant on a map-side-combined aggregation.
    val crossIdx = for { i <- 0 until nv; j <- i until nv } yield (i, j)
    val aggCols = (count(lit(1)).as("n") +:
      (0 until nv).map(i => sum(col(s"__v${i}__")).as(s"s$i"))) ++
      crossIdx.map { case (i, j) =>
        sum(col(s"__v${i}__") * col(s"__v${j}__")).as(s"q${i}_$j")
      }
    // read twice (size aggregate, then collect or components): a cache,
    // released before `run` returns, so no persisted RDD outlives the fit
    val edgeTab = obs.groupBy(col("w"), col("f"))
      .agg(aggCols.head, aggCols.tail: _*).cache()
    val spark = df.sparkSession
    try Jobs.labeled(spark, "akm: edge table") {
      // one aggregate sizes the graph in edges AND bytes: the byte side
      // prices the driver collect at the keys' actual width, so a graph of
      // long composite keys routes distributed even under the edge cap
      val sz = edgeTab.agg(count(lit(1)),
        sum(length(col("w")) + length(col("f")))).head()
      val nEdges = sz.getLong(0)
      if (nEdges == 0) throw InsufficientData("Empty graph")
      val estBytes =
        edgeBytesEstimate(nEdges, sz.getLong(1), nv + crossIdx.size + 1)
      val why = s"edges $nEdges, cap $driverEdgeCap, est $estBytes B"
      if (nEdges <= driverEdgeCap && estBytes <= DriverEdgeByteBudget)
        Jobs.labeled(spark, s"akm: driver route ($why)") {
          runDriver(edgeTab.collect(), nv, controls, tolerance, maxIters,
            workerCol, firmCol)
        }
      else Jobs.labeled(spark, s"akm: distributed route ($why)") {
        // materialize the projected observations once: the semi-join and
        // the zig-zag/FE loops in solve() otherwise re-derive them from
        // the source per consumer
        val obsC = obs.localCheckpoint()
        val connected = obsC.join(componentWorkers(edgeTab, driverEdgeCap),
          Seq("w"), "left_semi")
        if (connected.isEmpty) throw InsufficientData("No connected set found")
        solve(connected, controls, tolerance, maxIters, workerCol, firmCol)
      }
    } finally edgeTab.unpersist()
  }

  /** Edge-table AKM (the <= [[DriverEdgeCap]] path).
    *
    * KEY IDENTITY: the zig-zag demeaning iterates are exactly
    * `v - a_t(w) - p_t(f)` where (a, p) follow the Gauss-Seidel
    * recursion a_t = mean_w(v - p_{t-1}), p_t = mean_f(v - a_t) from
    * p_0 = 0 (induction: subtracting a worker mean shifts `a`, then a
    * firm mean shifts `p`). Every quantity in that recursion — worker
    * and firm sums of each vector and of the cross-products — lives on
    * the (worker, firm) EDGE table: a_w = (S_w[v] - sum_e n_e p_f) / n_w.
    * The same holds for the FE alternating projections on the OLS
    * residual r = v0 - X beta, whose edge sums derive algebraically from
    * the already-collected vector sums (no second aggregation). So ONE
    * obs-table aggregation feeds every iteration, and the obs table is
    * touched again only by the demeaned Gram pass and the R^2 pass.
    * Convergence metrics are the distributed loops' own:
    * sum_i (delta v_i)^2 == sum_e n_e (delta a + delta p)^2 for the
    * zig-zag, unweighted sum (delta a)^2 + (delta p)^2 for FE recovery —
    * checked every iteration (the distributed loops check every 3rd). */
  private def runDriver(rawEdges: Array[org.apache.spark.sql.Row], nv: Int,
      controls: Seq[String], tol: Double,
      maxIters: Int, workerCol: String, firmCol: String): AkmResult = {
    // row layout from run()'s single aggregation:
    // (w, f, n, s0..s_{nv-1}, q_ij for 0 <= i <= j < nv in (i, j) order)
    val crossIdx = (for { i <- 0 until nv; j <- i until nv } yield (i, j))
      .zipWithIndex.toMap
    val nq = crossIdx.size
    def qPos(i: Int, j: Int): Int =
      crossIdx(if (i <= j) (i, j) else (j, i))

    // ---- largest connected component (Cluster's union-find) ----
    // node ids rank the "w:"/"f:" labels in Spark's UTF-8 order, as the
    // distributed route's do, so both break size ties to the same label
    val labels = Prep.utf8Sorted(rawEdges.flatMap(r =>
      Seq("w:" + r.getString(0), "f:" + r.getString(1))).distinct).toArray
    val idOf = labels.zipWithIndex.toMap
    val edgeIds = rawEdges.map(r =>
      (idOf("w:" + r.getString(0)).toLong, idOf("f:" + r.getString(1)).toLong))
    val compOf = Cluster.driverComponents(edgeIds).toMap
    val top = compOf.values.groupBy(identity).minBy { case (c, m) => (-m.size, c) }._1
    val kept = rawEdges.indices.collect {
      case e if compOf(edgeIds(e)._1) == top => rawEdges(e)
    }
    val wKeys = kept.map(_.getString(0)).distinct.sorted
    val fKeys = kept.map(_.getString(1)).distinct.sorted
    val wIdx = wKeys.zipWithIndex.toMap
    val fIdx = fKeys.zipWithIndex.toMap
    val nW = wKeys.length
    val nF = fKeys.length
    val nE = kept.length
    val ew = new Array[Int](nE)
    val ef = new Array[Int](nE)
    val en = new Array[Double](nE)
    val esum = Array.ofDim[Double](nE, nv)
    val eq = Array.ofDim[Double](nE, nq)
    var nObs = 0L
    var e = 0
    while (e < nE) {
      val r = kept(e)
      ew(e) = wIdx(r.getString(0))
      ef(e) = fIdx(r.getString(1))
      val n = r.getLong(2)
      en(e) = n.toDouble
      nObs += n
      var v = 0
      while (v < nv) { esum(e)(v) = r.getDouble(3 + v); v += 1 }
      var c = 0
      while (c < nq) { eq(e)(c) = r.getDouble(3 + nv + c); c += 1 }
      e += 1
    }
    val wN = new Array[Double](nW)
    val fN = new Array[Double](nF)
    val wS = Array.ofDim[Double](nW, nv)
    val fS = Array.ofDim[Double](nF, nv)
    e = 0
    while (e < nE) {
      wN(ew(e)) += en(e); fN(ef(e)) += en(e)
      var v = 0
      while (v < nv) {
        wS(ew(e))(v) += esum(e)(v); fS(ef(e))(v) += esum(e)(v); v += 1
      }
      e += 1
    }

    // ---- zig-zag demeaning of all vectors (Gauss-Seidel on edges) ----
    val a = Array.ofDim[Double](nW, nv)
    val p = Array.ofDim[Double](nF, nv)
    val aPrev = Array.ofDim[Double](nW, nv)
    val pPrev = Array.ofDim[Double](nF, nv)
    val acc = Array.ofDim[Double](math.max(nW, nF), nv)
    def clear(m: Array[Array[Double]], n: Int): Unit = {
      var i = 0
      while (i < n) { java.util.Arrays.fill(m(i), 0.0); i += 1 }
    }
    def copyInto(src: Array[Array[Double]], dst: Array[Array[Double]],
        n: Int): Unit = {
      var i = 0
      while (i < n) { System.arraycopy(src(i), 0, dst(i), 0, nv); i += 1 }
    }
    def gsIteration(): Unit = {
      // a_w = (S_w - sum_e n_e p_f) / n_w, then p_f with the NEW a
      clear(acc, nW)
      var i = 0
      while (i < nE) {
        val sums = acc(ew(i)); val pf = p(ef(i)); val n = en(i)
        var v = 0
        while (v < nv) { sums(v) += n * pf(v); v += 1 }
        i += 1
      }
      i = 0
      while (i < nW) {
        var v = 0
        while (v < nv) { a(i)(v) = (wS(i)(v) - acc(i)(v)) / wN(i); v += 1 }
        i += 1
      }
      clear(acc, nF)
      i = 0
      while (i < nE) {
        val sums = acc(ef(i)); val aw = a(ew(i)); val n = en(i)
        var v = 0
        while (v < nv) { sums(v) += n * aw(v); v += 1 }
        i += 1
      }
      i = 0
      while (i < nF) {
        var v = 0
        while (v < nv) { p(i)(v) = (fS(i)(v) - acc(i)(v)) / fN(i); v += 1 }
        i += 1
      }
    }
    var iter = 0
    var maxDiff = tol + 1.0
    val diffs = new Array[Double](nv)
    while (maxDiff > tol && iter < maxIters) {
      iter += 1
      copyInto(a, aPrev, nW); copyInto(p, pPrev, nF)
      gsIteration()
      java.util.Arrays.fill(diffs, 0.0)
      var i = 0
      while (i < nE) {
        val aw = a(ew(i)); val aw0 = aPrev(ew(i))
        val pf = p(ef(i)); val pf0 = pPrev(ef(i))
        val n = en(i)
        var v = 0
        while (v < nv) {
          val d = (aw(v) + pf(v)) - (aw0(v) + pf0(v))
          diffs(v) += n * d * d
          v += 1
        }
        i += 1
      }
      maxDiff = diffs.map(math.sqrt).max
    }
    if (iter >= maxIters)
      throw ConvergenceFailed(
        s"demean_vector failed to converge within $maxIters iterations")

    // ---- OLS on demeaned (no intercept, `akm.rs:347-367`) ----
    // The zig-zag effect A_v = a_w(v) + p_f(v) is CONSTANT within an
    // edge, so the demeaned Gram decomposes over the per-edge
    // cross-product sums collected in the one aggregation:
    //   sum_e<obs> d_i d_j = q_ij - A_j s_i - A_i s_j + n A_i A_j
    // — no second pass over the observation table.
    val beta =
      if (controls.isEmpty) DenseVector.zeros[Double](0)
      else {
        def demeanedCross(i: Int, j: Int): Double = {
          var acc = 0.0
          var t = 0
          while (t < nE) {
            val ai = a(ew(t))(i) + p(ef(t))(i)
            val aj = a(ew(t))(j) + p(ef(t))(j)
            acc += eq(t)(qPos(i, j)) - aj * esum(t)(i) - ai * esum(t)(j) +
              en(t) * ai * aj
            t += 1
          }
          acc
        }
        val k = nv - 1
        val xtx = breeze.linalg.DenseMatrix.zeros[Double](k, k)
        val xty = DenseVector.zeros[Double](k)
        var i = 1
        while (i < nv) {
          xty(i - 1) = demeanedCross(0, i)
          var j = i
          while (j < nv) {
            val v = demeanedCross(i, j)
            xtx(i - 1, j - 1) = v
            xtx(j - 1, i - 1) = v
            j += 1
          }
          i += 1
        }
        try LinAlg.cholSolve(xtx, xty)
        catch {
          case _: SingularMatrix =>
            throw ConvergenceFailed("OLS design matrix is singular")
        }
      }

    // ---- FE recovery on r = v0 - X beta (`akm.rs:530-621`) ----
    // edge sums of r derive from the vector sums already collected
    val rW = new Array[Double](nW)
    val rF = new Array[Double](nF)
    e = 0
    while (e < nE) {
      var s = esum(e)(0)
      var j = 0
      while (j < controls.size) { s -= beta(j) * esum(e)(j + 1); j += 1 }
      rW(ew(e)) += s; rF(ef(e)) += s
      e += 1
    }
    val alpha = new Array[Double](nW)
    val psi = new Array[Double](nF)
    val accW = new Array[Double](nW)
    val accF = new Array[Double](nF)
    var feIter = 0
    var feDiff = tol + 1.0
    while (feDiff > tol && feIter < maxIters) {
      feIter += 1
      java.util.Arrays.fill(accW, 0.0)
      var i = 0
      while (i < nE) { accW(ew(i)) += en(i) * psi(ef(i)); i += 1 }
      var dSum = 0.0
      i = 0
      while (i < nW) {
        val aNew = (rW(i) - accW(i)) / wN(i)
        val d = aNew - alpha(i)
        dSum += d * d
        alpha(i) = aNew
        i += 1
      }
      java.util.Arrays.fill(accF, 0.0)
      i = 0
      while (i < nE) { accF(ef(i)) += en(i) * alpha(ew(i)); i += 1 }
      i = 0
      while (i < nF) {
        val pNew = (rF(i) - accF(i)) / fN(i)
        val d = pNew - psi(i)
        dSum += d * d
        psi(i) = pNew
        i += 1
      }
      feDiff = math.sqrt(dSum)
    }
    if (feIter >= maxIters)
      throw ConvergenceFailed(
        s"recover_fe failed to converge within $maxIters iterations")

    // first-firm normalization (sorted firm ids, `akm.rs:612-620`);
    // fKeys is already sorted, so firm 0 is the reference
    val refVal = psi(0)
    var i = 0
    while (i < nF) { psi(i) -= refVal; i += 1 }
    i = 0
    while (i < nW) { alpha(i) += refVal; i += 1 }

    // ---- R^2 (per-edge algebra — no obs pass) ----
    // residual t = v0 - X beta has per-edge linear/quadratic sums
    //   T1_e = s_0 - sum_j beta_j s_j
    //   T2_e = q_00 - 2 sum_j beta_j q_0j + sum_jk beta_j beta_k q_jk
    // and the FE prediction C_e = alpha_w + psi_f is constant within
    // the edge, so rss = sum_e (T2_e - 2 C_e T1_e + n C_e^2); tss comes
    // from the same q_00 / s_0 sums.
    var rss = 0.0
    var syy = 0.0
    var sy = 0.0
    e = 0
    while (e < nE) {
      var t1 = esum(e)(0)
      var t2 = eq(e)(qPos(0, 0))
      var j = 1
      while (j < nv) {
        val bj = beta(j - 1)
        t1 -= bj * esum(e)(j)
        t2 -= 2.0 * bj * eq(e)(qPos(0, j))
        var k2 = 1
        while (k2 < nv) {
          t2 += bj * beta(k2 - 1) * eq(e)(qPos(j, k2))
          k2 += 1
        }
        j += 1
      }
      val c = alpha(ew(e)) + psi(ef(e))
      rss += t2 - 2.0 * c * t1 + en(e) * c * c
      syy += eq(e)(qPos(0, 0))
      sy += esum(e)(0)
      e += 1
    }
    val tss = syy - sy * sy / nObs
    val r2 = 1.0 - rss / tss

    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    AkmResult(beta, controls,
      wKeys.indices.map(i => (wKeys(i), alpha(i)))
        .toDF(workerCol, "effect"),
      fKeys.indices.map(i => (fKeys(i), psi(i)))
        .toDF(firmCol, "effect"),
      r2, nObs)
  }

  private def solve(connectedObs: DataFrame, controls: Seq[String],
      tol: Double, maxIters: Int, workerCol: String,
      firmCol: String): AkmResult = {
    val vecCols = "__v0__" +: controls.indices.map(i => s"__v${i + 1}__")
    val obs = connectedObs.localCheckpoint()
    val nObs = obs.count()

    // When the effect tables (one row per worker/firm) are small, force
    // broadcast so each zig-zag iteration avoids reshuffling the full
    // observation table; beyond the threshold fall back to shuffle joins.
    val nWorkers = obs.select(col("w")).distinct().count()
    val nFirms = obs.select(col("f")).distinct().count()
    val bcastLimit = 2000000L
    def maybeBroadcast(d: DataFrame, n: Long): DataFrame =
      if (n <= bcastLimit) broadcast(d) else d

    // --- zig-zag demeaning of all vectors at once (`akm.rs:452-527`) ---
    // Convergence is tested every `checkEvery` iterations (linear-rate
    // loop, so at most checkEvery-1 surplus iterations past the fixpoint)
    // — non-check iterations carry no prev columns and run no diff scan,
    // cutting the per-iteration action count by ~a third.
    val checkEvery = 3
    var cur = obs
    var iter = 0
    var maxDiff = tol + 1.0
    while (maxDiff > tol && iter < maxIters) {
      iter += 1
      val check = iter % checkEvery == 0 || iter == maxIters
      val withPrev =
        if (check) cur.select((col("w") +: col("f") +:
          (vecCols.map(col) ++ vecCols.map(c => col(c).as(s"${c}p")))): _*)
        else cur
      val keepPrev: Seq[org.apache.spark.sql.Column] =
        if (check) vecCols.map(c => col(s"${c}p")) else Nil
      val wMeans = withPrev.groupBy(col("w"))
        .agg(vecCols.map(c => avg(col(c)).as(s"${c}m")).head,
          vecCols.tail.map(c => avg(col(c)).as(s"${c}m")): _*)
      val deW = withPrev.join(maybeBroadcast(wMeans, nWorkers), "w")
        .select((col("w") +: col("f") +:
          (vecCols.map(c => (col(c) - col(s"${c}m")).as(c)) ++ keepPrev)): _*)
      val fMeans = deW.groupBy(col("f"))
        .agg(vecCols.map(c => avg(col(c)).as(s"${c}m")).head,
          vecCols.tail.map(c => avg(col(c)).as(s"${c}m")): _*)
      val deF = deW.join(maybeBroadcast(fMeans, nFirms), "f")
        .select((col("w") +: col("f") +:
          (vecCols.map(c => (col(c) - col(s"${c}m")).as(c)) ++ keepPrev)): _*)
        .localCheckpoint()
      if (check) {
        val diffs = deF.agg(
          vecCols.map(c => sum(pow(col(c) - col(s"${c}p"), 2)).as(s"${c}d")).head,
          vecCols.tail.map(c => sum(pow(col(c) - col(s"${c}p"), 2)).as(s"${c}d")): _*)
          .head()
        maxDiff = vecCols.indices.map(i => math.sqrt(diffs.getDouble(i))).max
      }
      cur = deF.select((col("w") +: col("f") +: vecCols.map(col)): _*)
    }
    if (iter >= maxIters)
      throw ConvergenceFailed(
        s"demean_vector failed to converge within $maxIters iterations")

    // --- OLS on demeaned (no intercept, `akm.rs:347-367`) ---
    val beta =
      if (controls.isEmpty) DenseVector.zeros[Double](0)
      else {
        val g = Gram.compute(cur, "__v0__", vecCols.tail)
        try LinAlg.cholSolve(g.xtx, g.xty)
        catch {
          case _: SingularMatrix =>
            throw ConvergenceFailed("OLS design matrix is singular")
        }
      }

    // --- recover fixed effects on r = y - X beta (`akm.rs:530-621`) ---
    val rCol =
      if (controls.isEmpty) col("__v0__")
      else col("__v0__") - vecCols.tail.zipWithIndex
        .map { case (c, i) => col(c) * Param(beta(i)) }.reduce(_ + _)
    val withR = obs.withColumn("__r__", rCol).localCheckpoint()

    var alpha = withR.select(col("w")).distinct()
      .withColumn("__a__", lit(0.0)).localCheckpoint()
    var psi = withR.select(col("f")).distinct()
      .withColumn("__p__", lit(0.0)).localCheckpoint()
    var feDiff = tol + 1.0
    var feIter = 0
    // same every-checkEvery convergence cadence as the zig-zag loop:
    // non-check iterations skip the old-value joins and the diff action
    while (feDiff > tol && feIter < maxIters) {
      feIter += 1
      val check = feIter % checkEvery == 0 || feIter == maxIters
      val aNew = withR.join(maybeBroadcast(psi, nFirms), "f").groupBy(col("w"))
        .agg(avg(col("__r__") - col("__p__")).as("__a2__"))
      if (check) {
        val aJ = alpha.join(aNew, "w")
          .select(col("w"), col("__a2__").as("__a__"),
            pow(col("__a2__") - col("__a__"), 2).as("__d__"))
          .localCheckpoint()
        val pNew = withR.join(maybeBroadcast(aJ.select(col("w"), col("__a__")), nWorkers), "w")
          .groupBy(col("f")).agg(avg(col("__r__") - col("__a__")).as("__p2__"))
        val pJ = psi.join(pNew, "f")
          .select(col("f"), col("__p2__").as("__p__"),
            pow(col("__p2__") - col("__p__"), 2).as("__d__"))
          .localCheckpoint()
        // one action for both step-size sums (the inputs are checkpointed)
        val dSum = aJ.select(col("__d__")).unionByName(pJ.select(col("__d__")))
          .agg(sum(col("__d__"))).head().getDouble(0)
        feDiff = math.sqrt(dSum)
        alpha = aJ.select(col("w"), col("__a__"))
        psi = pJ.select(col("f"), col("__p__"))
      } else {
        val aC = aNew.select(col("w"), col("__a2__").as("__a__"))
          .localCheckpoint()
        val pC = withR.join(maybeBroadcast(aC, nWorkers), "w")
          .groupBy(col("f")).agg(avg(col("__r__") - col("__a__")).as("__p__"))
          .localCheckpoint()
        alpha = aC
        psi = pC
      }
    }
    if (feIter >= maxIters)
      throw ConvergenceFailed(
        s"recover_fe failed to converge within $maxIters iterations")

    // first-firm normalization (sorted firm ids, `akm.rs:612-620`)
    val refVal = psi.orderBy(col("f")).limit(1).collect()(0).getDouble(1)
    val psiN = psi.withColumn("__p__", col("__p__") - lit(refVal))
    val alphaN = alpha.withColumn("__a__", col("__a__") + lit(refVal))

    // R^2
    val pred = withR.join(maybeBroadcast(alphaN, nWorkers), "w")
      .join(maybeBroadcast(psiN, nFirms), "f")
      .withColumn("__pred__",
        (if (controls.isEmpty) lit(0.0)
         else vecCols.tail.zipWithIndex
           .map { case (c, i) => col(c) * Param(beta(i)) }.reduce(_ + _)) +
          col("__a__") + col("__p__"))
    val stats = pred.agg(
      sum(pow(col("__v0__") - col("__pred__"), 2)).as("rss"),
      sum(pow(col("__v0__"), 2)).as("syy"),
      sum(col("__v0__")).as("sy"), count(lit(1)).as("n")).head()
    val rss = stats.getDouble(0)
    val tss = stats.getDouble(1) - stats.getDouble(2) * stats.getDouble(2) / stats.getLong(3)
    val r2 = 1.0 - rss / tss

    AkmResult(beta, controls,
      alphaN.select(col("w").as(workerCol), col("__a__").as("effect")),
      psiN.select(col("f").as(firmCol), col("__p__").as("effect")),
      r2, nObs)
  }
}
