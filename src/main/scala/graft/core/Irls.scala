package graft.core

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
  * Invariant: every pass accumulates into a [[GramBuffer]] in the same
  * shape as the Gram scan it stands for — [[gram]] as
  * [[Gram.compute]] (`add`), [[gramMulti]] as [[Gram.computeMulti]]
  * (`addOne` + per-row `bumpLane`) — over the same partitions and row
  * order, merged by the same `Jobs.treeReduce`. The estimators write
  * their working-response arithmetic in the association order of the
  * Column expressions that scan would evaluate, so a fit equals the
  * per-iteration Gram route.
  *
  * Each row carries a lane index (`laneOf`, e.g. group A=0 / B=1) and
  * one base weight per entry of `wCols`; rows whose lane is null or
  * outside [0, nLanes) are dropped at build time, exactly the rows
  * [[Gram.computeMulti]] skips. */
final class IrlsDesign(df: DataFrame, yCol: String, xCols: Seq[String],
    wCols: Seq[Column], laneOf: Column = lit(0), nLanes: Int = 1) {

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

  /** ONE working-response Gram system at `beta` over every row (lanes
    * ignored), with base-weight slot 0: `working(y, wBase, xb, out)`
    * writes out(0) = z (response) and out(1) = w (weight); the design
    * enters the normal equations unchanged. Accumulates via
    * [[GramBuffer.add]] — the exact shape of the single-system
    * [[Gram.compute]] pass. */
  def gram(beta: Array[Double])(
      working: (Double, Double, Double, Array[Double]) => Unit): GramResult = {
    val kk = k
    val xOff = 2 + nW
    val stride = strideV
    val res = Jobs.treeReduce(rows, "irls: iteration pass")(
      new Buf(kk, 1, 1))(
      seqOp = (buf, chunk) => {
        var off = 0
        while (off < chunk.length) {
          var xb = 0.0
          var i = 0
          while (i < kk) { xb += chunk(off + xOff + i) * beta(i); i += 1 }
          working(chunk(off + 1), chunk(off + 2), xb, buf.zw)
          System.arraycopy(chunk, off + xOff, buf.gb.xRow, 0, kk)
          buf.gb.add(0, buf.zw(0), buf.zw(1), buf.gb.xRow, Gram.oneRep)
          off += stride
        }
        buf
      },
      combOp = (x, y) => x.merge(y))
    res.gb.result(0, 0)
  }

  /** One pass advancing `nSys` systems across all lanes (e.g. one per
    * tau, or one per bootstrap replicate): `betas(s)(lane)` is system
    * s's current beta for that lane, `wIdx(s)` its base-weight slot,
    * `working(y, wBase, xb, s, out)` its working response; systems with
    * out(1) == 0 skip the row. Accumulates via [[GramBuffer.addOne]] +
    * per-row `bumpLane`, the exact shape of [[Gram.computeMulti]].
    * Returns [lane][system]. */
  def gramMulti(betas: Array[Array[Array[Double]]], wIdx: Array[Int])(
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
            working(y, chunk(off + 2 + wIdx(s)), xb, s, buf.zw)
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
