package graft.core

import java.util.concurrent.{ExecutionException, FutureTask}
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** How the engine submits jobs. Job labeling (guide §1.5): multi-pass
  * operators set a description per phase so the UI / job-level
  * profilers attribute cost to the phase, not to an anonymous AQE
  * stage-materialization callsite. Descriptions are thread-local and
  * AQE's stage futures capture them, so concurrent actions from
  * different threads stay correctly labeled. Every one-pass aggregation
  * merges through [[treeReduce]]; an under-partitioned file scan fans
  * out through [[fanOut]] or [[fanOutBy]]. */
object Jobs {
  /** Labels the jobs `body` submits; the enclosing label (or none) is
    * restored afterwards, so nested phases do not clobber their parent. */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(outer)
  }

  /** The engine's one merge site: partition buffers (Gram, KDE grid,
    * sketch, covariance) merge up a depth-2 `treeAggregate` under
    * `label`. `rdd` is evaluated under the label too, since planning a
    * DataFrame's RDD runs its AQE shuffle stages. */
  def treeReduce[T, B: ClassTag](rdd: => RDD[T], label: String)(zero: B)(
      seqOp: (B, T) => B, combOp: (B, B) => B): B =
    labeled(SparkSession.active, label) {
      rdd.treeAggregate(zero)(seqOp, combOp, depth = 2)
    }

  /** Fan a FILE scan of fewer than 16 partitions out to a FIXED 64
    * ahead of HEAVY per-row work (replicate-heavy Gram and IRLS passes,
    * DFL's grid KDE, token hashing); return any other `df` itself. A
    * single parquet file scans as ONE partition, so that work would run
    * on one task; the fixed count keeps partition contents, and so every
    * floating-point sum order, identical at any thread count. A frame
    * whose `inputFiles` is empty is decided from its logical plan alone,
    * with no planning job: an in-memory source (`LocalRelation`, `range`,
    * a parallelized RDD such as the one-slice MCP payload) keeps the
    * partitioning its producer chose, which already fixes its sum order
    * and which a shuffle would only slow down on small inputs. Cheap
    * codegen Gram scans must not fan out either: at sf0.1 the shuffle
    * cost more than it saved (q_quantreg 1.4 -> 2.6 s). */
  def fanOut(df: DataFrame): DataFrame =
    if (narrowFileScan(df)) df.repartition(64) else df

  /** [[fanOut]]'s test, but hash-partitioned on `key` into 32, ahead of
    * a text operator's tokenize + explode: one id's rows land together. */
  def fanOutBy(df: DataFrame, key: String): DataFrame =
    if (narrowFileScan(df)) df.repartition(32, col(key)) else df

  private def narrowFileScan(df: DataFrame): Boolean =
    df.inputFiles.nonEmpty && df.queryExecution.toRdd.getNumPartitions < 16

  /** Run two INDEPENDENT action chains concurrently (guide §2.6 —
    * overlap independent jobs: Spark happily runs several jobs at once;
    * actions are only sequential because driver code calls them
    * sequentially). `a` runs on the caller's thread, `b` on a helper
    * thread that inherits the caller's job properties. The call always
    * waits for both sides, so no helper thread outlives it. If either
    * side fails, the failure of the first failing ARGUMENT is rethrown
    * unwrapped — put the validating side first and its declared error
    * wins over whatever the other side raised on the same bad input.
    * Only use when the two computations share no mutable state — each
    * side's own jobs, partitioning and accumulation order are
    * untouched, so results are bit-identical to running them back to
    * back. Nest calls for more than two tracks. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fb = new FutureTask[B](() => b)
    val t = new Thread(fb, "graft-par2")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    t.join()
    val va = ra.fold(e => throw e, identity)
    val vb = try fb.get() catch { case e: ExecutionException => throw e.getCause }
    (va, vb)
  }
}
