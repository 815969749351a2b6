package graft.core

import java.util.concurrent.{ExecutionException, FutureTask}
import org.apache.spark.sql.SparkSession

/** Job labeling (guide §1.5): multi-pass operators set a description per
  * phase so the UI / job-level profilers attribute cost to the phase, not
  * to an anonymous AQE stage-materialization callsite. Descriptions are
  * thread-local and AQE's stage futures capture them, so concurrent
  * actions from different threads stay correctly labeled. */
object Jobs {
  /** Labels the jobs `body` submits; the enclosing label (or none) is
    * restored afterwards, so nested phases do not clobber their parent. */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(outer)
  }

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
