package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA / whitening over an embedding column (`array<float>`), the
  * standard decorrelation step before cosine similarity, IVF cell
  * assignment, or near-dup thresholding on real embedding corpora.
  *
  * Scale shape: the d-dim mean and the d x d second-moment Gram are ONE
  * `Jobs.treeReduce` pass (d(d+1)/2 + d + 1 accumulator doubles — for
  * d = 1024 that is ~4 MB per partition, driver gets one copy); the
  * eigen-solve is driver-side power iteration on the d x d covariance
  * (trivial at any corpus size — d never grows with the data); the
  * projection / whitening transform is a pure codegen column expression
  * (zip_with + aggregate over literal component arrays), so downstream
  * consumers keep whole-stage codegen and nothing per-row ever reaches
  * the driver.
  *
  * Determinism: power iteration starts from the pinned vector
  * v0 = 1/sqrt(d) and runs a FIXED iteration count, so results are
  * reproducible bit-for-bit across partitionings and replayable as SQL
  * (the q_pca_power3 oracle re-runs the same fixpoint in DuckDB).
  */
object Embeddings {

  /** Fitted PCA basis: top-k eigenpairs of the population covariance
    * (divide by n, not n-1) of the embedding column. */
  final case class PcaModel(dim: Int, n: Long, mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double])

  /** Mean + population covariance + top-k eigenpairs by power iteration
    * with deflation (`iters` matrix-vector rounds per component, pinned
    * for determinism; 25-50 is plenty for well-separated spectra and
    * the cost is driver-side O(iters * d^2) — independent of n). */
  def fitPca(df: DataFrame, vecCol: String, k: Int,
      iters: Int = 30): PcaModel = {
    val (n, mean, cov) = meanAndCovariance(df, vecCol)
    val d = mean.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val work = cov.map(_.clone()) // deflated in place
    val comps = Array.ofDim[Array[Double]](k)
    val eigs = Array.ofDim[Double](k)
    var c = 0
    while (c < k) {
      // deflation pulls the iterate toward the next eigenpair; the
      // per-step Gram-Schmidt re-orthogonalization guarantees exact
      // mutual orthogonality even when a flat spectrum leaves the
      // iterate short of full convergence
      val (v, lambda) = powerIterate(work, iters, comps.take(c))
      comps(c) = v
      eigs(c) = lambda
      // deflate: C -= lambda * v v^T
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { work(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      c += 1
    }
    PcaModel(d, n, mean, comps, eigs)
  }

  /** (n, mean, covariance) of the embedding column in ONE pass: per
    * partition, accumulate count, per-dim sums, and the upper-triangle
    * raw products; covariance forms on the driver as
    * C_ij = sum(x_i x_j)/n - mu_i mu_j. Rows whose vector is null are
    * dropped; ragged dimensions are a hard error (corrupt input). */
  def meanAndCovariance(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val proj = df.select(transform(col(vecCol), x => x.cast("double")))
      .na.drop()
    val d = proj.select(size(col(proj.columns.head))).head().getInt(0)
    val tri = d * (d + 1) / 2
    // layout: [0] = n, [1..d] = sums, [1+d ..] = upper-triangle products
    val zero = new Array[Double](1 + d + tri)
    val acc = graft.core.Jobs.treeReduce(proj.rdd,
      "embeddings: mean/covariance pass")(zero)(
      seqOp = (buf, row) => {
        val x = row.getSeq[Double](0)
        require(x.length == d,
          s"ragged embedding: expected dim $d, got ${x.length}")
        buf(0) += 1.0
        var i = 0
        var t = 1 + d
        while (i < d) {
          val xi = x(i)
          buf(1 + i) += xi
          var j = i
          while (j < d) { buf(t) += xi * x(j); t += 1; j += 1 }
          i += 1
        }
        buf
      },
      combOp = (a, b) => {
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      })
    val n = acc(0).toLong
    require(n >= 2, s"need at least 2 vectors to fit a covariance, got $n")
    val mean = Array.tabulate(d)(i => acc(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 1 + d
    while (i < d) {
      var j = i
      while (j < d) {
        val cij = acc(t) / n - mean(i) * mean(j)
        cov(i)(j) = cij
        cov(j)(i) = cij
        t += 1
        j += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** Dominant eigenpair of a symmetric matrix by `iters` pinned power
    * iterations from v0 = 1/sqrt(d), each step Gram-Schmidt-projected
    * off `ortho`; eigenvalue is the final Rayleigh quotient v^T C v
    * (norm(v) == 1 after the last normalization). */
  private[ext] def powerIterate(m: Array[Array[Double]], iters: Int,
      ortho: Array[Array[Double]] = Array.empty): (Array[Double], Double) = {
    val d = m.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = matVec(m, v)
      ortho.foreach { q =>
        var dot = 0.0
        var i = 0
        while (i < d) { dot += w(i) * q(i); i += 1 }
        i = 0
        while (i < d) { w(i) -= dot * q(i); i += 1 }
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      // a (near-)zero image means v is in the null space — keep v, the
      // Rayleigh quotient below reports the (near-)zero eigenvalue
      if (nrm > 1e-300) { var i = 0; while (i < d) { w(i) /= nrm; i += 1 }; v = w }
      it += 1
    }
    val cv = matVec(m, v)
    var lambda = 0.0
    var i = 0
    while (i < d) { lambda += v(i) * cv(i); i += 1 }
    (v, lambda)
  }

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = m.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0
      var j = 0
      while (j < d) { s += m(i)(j) * v(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Centered projection onto component `c` as a pure column expression:
    * sum_i (x_i - mean_i) * q_i — ONE fused codegen loop
    * ([[graft.functions.CenteredDot]]); the zip_with/aggregate chain it
    * replaces allocated two intermediate arrays per (row, component).
    * Same left-to-right FP association, so values are bit-identical. */
  def projectionCol(model: PcaModel, vecCol: Column, c: Int): Column = {
    val mu = array(model.mean.map(lit): _*)
    val q = array(model.components(c).map(lit): _*)
    graft.functions.CenteredDot(vecCol, mu, q)
  }

  /** Appends top-k centered projections `outPrefix_0 .. outPrefix_{k-1}`. */
  def project(df: DataFrame, model: PcaModel, vecCol: String,
      outPrefix: String = "pc"): DataFrame =
    model.components.indices.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"${outPrefix}_$c", projectionCol(model, col(vecCol), c))
    }

  /** PCA-whitening: projections scaled to unit variance,
    * y_c = ((x - mean) . q_c) / sqrt(lambda_c + eps). */
  def whiten(df: DataFrame, model: PcaModel, vecCol: String,
      outPrefix: String = "w", eps: Double = 1e-9): DataFrame =
    model.components.indices.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"${outPrefix}_$c",
        projectionCol(model, col(vecCol), c) /
          lit(math.sqrt(model.eigenvalues(c) + eps)))
    }

  /** Johnson-Lindenstrauss sign matrix: s_{j,i} = +-1 from the engine-
    * portable 56-bit content hash of "jl:seed:j:i" (i = 0-based feature
    * index, j = 0-based output dim) — the same md5-prefix family as
    * [[TextAnalysis.hash56]], so an SQL oracle regenerates the identical
    * matrix. Data-independent: no fit pass at all. */
  def jlSignMatrix(d: Int, k: Int, seed: Long): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, d) { (j, i) =>
      val hex = md.digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex.take(14), 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Data-independent Johnson-Lindenstrauss projection to k dims:
    * y_j = (sum_i x_i * s_{j,i}) / sqrt(k). The cheap distance-
    * preserving reduction to run BEFORE the quadratic-ish similarity
    * stages (ANN cells, near-dup verify) when the ambient dimension is
    * large — pure codegen expressions over a literal sign matrix, no
    * shuffle, no fit pass, reproducible on any partitioning. */
  def jlProject(df: DataFrame, vecCol: String, k: Int, seed: Long,
      outPrefix: String = "jl"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val d = df.select(size(col(vecCol))).head().getInt(0)
    val signs = jlSignMatrix(d, k, seed)
    val scale = 1.0 / math.sqrt(k.toDouble)
    (0 until k).foldLeft(df) { (acc, j) =>
      val s = array(signs(j).map(lit): _*)
      // fused dot-product loop (float elements widen in-loop) — the
      // zip_with/aggregate chain allocated an array per (row, output dim)
      acc.withColumn(s"${outPrefix}_$j",
        graft.functions.DotProduct(col(vecCol), s) * lit(scale))
    }
  }
}
