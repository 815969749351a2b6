package graft.core

import breeze.linalg.DenseVector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-plan design cache for iteratively reweighted least squares.
  *
  * The (lane, y, base weights, x) projection is evaluated ONCE through
  * Catalyst (so pruning/pushdown still apply), converted to primitive
  * rows and persisted; each iteration is then a plain `Jobs.treeReduce`
  * closure over the cached RDD with no per-iteration planning — beta
  * literals would otherwise make every iteration's plan new.
  *
  * Invariant: [[gramMulti]] accumulates into a [[GramBuffer]] in the
  * shape of [[Gram.computeMulti]] (`addOne` + per-row `bumpLane`) over
  * the same partitions and row order, merged by the same
  * `Jobs.treeReduce`. The estimators write their working-response
  * arithmetic in the association order of the Column expressions that
  * scan would evaluate, so a fit equals the per-iteration Gram route.
  *
  * Each row carries a lane index (`laneOf`, e.g. group A=0 / B=1) and
  * one base weight per entry of `wCols`; rows whose lane is null or
  * outside [0, nLanes) are dropped at build time, exactly the rows
  * [[Gram.computeMulti]] skips. [[Irls.newton]] is its only caller. */
private[graft] final class IrlsDesign(df: DataFrame, yCol: String,
    xCols: Seq[String], wCols: Seq[Column], laneOf: Column = lit(0),
    nLanes: Int = 1) {

  val k: Int = xCols.size
  private val nW = wCols.size
  private val strideV = 2 + nW + k

  /** ONE flat row-major chunk per partition, row layout
    * [lane, y, w_0 .. w_{nW-1}, x_0 .. x_{k-1}]: exact 8 B/value with no
    * per-row object headers, and the iteration loops run over
    * contiguous memory. */
  private val rows: RDD[Array[Double]] = {
    val proj0 = df.select(
      (laneOf.cast("int").as("__lane__") +: col(yCol).cast("double") +:
        (wCols.map(_.cast("double")) ++
          xCols.map(c => col(c).cast("double")))): _*)
    // Jobs.fanOut, as in Gram.computeMulti, decided ONCE at build: a
    // replicate-heavy pass does ~nSys * stride flops per row, and a
    // single-file scan would run all of it on one task
    val proj = if (nW >= 16) Jobs.fanOut(proj0) else proj0
    val kk = k
    val nw = nW
    val nl = nLanes
    proj.queryExecution.toRdd.mapPartitions { it =>
      val ab = scala.collection.mutable.ArrayBuilder.make[Double]
      while (it.hasNext) {
        val r = it.next()
        val lane = if (r.isNullAt(0)) -1 else r.getInt(0)
        if (lane >= 0 && lane < nl) {
          if (r.anyNull)
            throw InvalidArgument(
              "IRLS design read a null model value; drop null rows first")
          ab += lane.toDouble
          var i = 0
          while (i < 1 + nw + kk) { ab += r.getDouble(1 + i); i += 1 }
        }
      }
      Iterator.single(ab.result())
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  import IrlsDesign.Buf

  /** One pass advancing the systems `sys` across all lanes (e.g. one per
    * tau, or one per bootstrap replicate): `betas(i)(lane)` is system
    * `sys(i)`'s current beta for that lane, `wIdx(sys(i))` its
    * base-weight slot, `working(y, wBase, xb, sys(i), out)` its working
    * response (out(0) = z, out(1) = w); a system with out(1) == 0 skips
    * the row. Returns [lane][i]. */
  def gramMulti(betas: Array[Array[Array[Double]]], sys: Array[Int],
      wIdx: Array[Int])(
      working: (Double, Double, Double, Int, Array[Double]) => Unit)
      : Array[Array[GramResult]] = {
    val kk = k
    val nw = nW
    val stride = strideV
    val nSys = betas.length
    val res = Jobs.treeReduce(rows, "irls: multi-system iteration pass")(
      new Buf(kk, nLanes, nSys))(
      seqOp = (buf, chunk) => {
        var off = 0
        while (off < chunk.length) {
          val lane = chunk(off).toInt
          val y = chunk(off + 1)
          System.arraycopy(chunk, off + 2 + nw, buf.gb.xRow, 0, kk)
          var s = 0
          while (s < nSys) {
            val b = betas(s)(lane)
            var xb = 0.0
            var i = 0
            while (i < kk) { xb += chunk(off + 2 + nw + i) * b(i); i += 1 }
            working(y, chunk(off + 2 + wIdx(sys(s))), xb, sys(s), buf.zw)
            if (buf.zw(1) != 0.0)
              buf.gb.addOne(lane, s, buf.zw(0), buf.zw(1), buf.gb.xRow)
            s += 1
          }
          buf.gb.bumpLane(lane)
          off += stride
        }
        buf
      },
      combOp = (x, y) => x.merge(y))
    Array.tabulate(nLanes)(l =>
      Array.tabulate(nSys)(s => res.gb.result(l, s)))
  }

  def unpersist(): Unit = { rows.unpersist(blocking = false); () }
}

object IrlsDesign {
  /** Aggregation buffer: the Gram systems plus per-row scratch (safe —
    * treeAggregate applies seqOp serially per partition buffer). A
    * top-level class so closures never capture the design (and its
    * DataFrame) itself. */
  private[core] final class Buf(kk: Int, lanes: Int, nSys: Int)
      extends Serializable {
    val gb = new GramBuffer(kk, lanes, nSys)
    val zw = new Array[Double](2)
    def merge(o: Buf): Buf = { gb.merge(o.gb); this }
  }
}

/** The engine's one IRLS Newton loop: logit, probit (one fit or a
  * lane x replicate batch) and distributed quantile regression are each
  * a working response plus a per-slot step over it. */
object Irls {

  /** One (lane, system) fit: its last beta, whether its step reported
    * convergence, the singular solve that froze it, and the Gram its
    * last step saw. */
  final case class Slot(beta: DenseVector[Double], done: Boolean,
      error: Option[SingularMatrix], gram: GramResult)

  /** Slots as [lane][system], and the number of passes run. */
  final case class Fit(slots: Array[Array[Slot]], iterations: Int)

  /** Newton/IRLS from `start` ([lane][system]) over one [[IrlsDesign]] of
    * `df`: each iteration is ONE [[IrlsDesign.gramMulti]] pass over the
    * systems with an open slot, then `step(system, gram, beta)` per open
    * slot gives the slot's next beta and whether it is done. A step that
    * throws [[SingularMatrix]] freezes its slot with that error. Stops
    * after `maxIter` passes or when no slot is open. System s takes
    * base weight `wCols(s)`; a single entry of `wCols` serves every
    * system. */
  def newton(df: DataFrame, yCol: String, xCols: Seq[String],
      wCols: Seq[Column], start: Array[Array[DenseVector[Double]]],
      maxIter: Int, laneOf: Column = lit(0))(
      working: (Double, Double, Double, Int, Array[Double]) => Unit)(
      step: (Int, GramResult, DenseVector[Double]) => (DenseVector[Double], Boolean))
      : Fit = {
    val nLanes = start.length
    val nSys = start(0).length
    val beta = start.map(_.clone)
    val done = Array.fill(nLanes, nSys)(false)
    val error = Array.fill(nLanes, nSys)(Option.empty[SingularMatrix])
    val gram = Array.ofDim[GramResult](nLanes, nSys)
    def open(l: Int, s: Int): Boolean = !done(l)(s) && error(l)(s).isEmpty
    val wIdx = Array.tabulate(nSys)(s => if (wCols.size == 1) 0 else s)
    val design = new IrlsDesign(df, yCol, xCols, wCols, laneOf, nLanes)
    try {
      var iter = 0
      var active = Array.range(0, nSys)
      while (iter < maxIter && active.nonEmpty) {
        iter += 1
        val grams = design.gramMulti(active.map(s =>
          Array.tabulate(nLanes)(l => beta(l)(s).toArray)), active, wIdx)(working)
        for (l <- 0 until nLanes; (s, i) <- active.zipWithIndex if open(l, s)) {
          gram(l)(s) = grams(l)(i)
          try {
            val (nb, d) = step(s, grams(l)(i), beta(l)(s))
            beta(l)(s) = nb
            done(l)(s) = d
          } catch { case e: SingularMatrix => error(l)(s) = Some(e) }
        }
        active = active.filter(s => (0 until nLanes).exists(open(_, s)))
      }
      Fit(Array.tabulate(nLanes, nSys)((l, s) =>
        Slot(beta(l)(s), done(l)(s), error(l)(s), gram(l)(s))), iter)
    } finally design.unpersist()
  }
}
