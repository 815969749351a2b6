package perfbench

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Closed intervals in milliseconds, `[start, end]`. */
object Intervals {

  /** Total length covered by the union of `spans`, each first clipped to
    * `[lo, hi]`. Overlapping spans count once, so the result never
    * exceeds `hi - lo`. */
  def unionWithin(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Driver gap of a request spanning `[lo, hi]`: its wall time not
    * covered by any of `jobs`. `gap + unionWithin(jobs, lo, hi)` equals
    * `hi - lo` exactly, and the gap is never negative. */
  def gap(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionWithin(jobs, lo, hi)
}

/** One Spark job as the listener saw it. `label` is the job description
  * the job carried when it was submitted (`None` when the description
  * was unset, including jobs after a nested `Jobs.labeled` reset it). */
final class JobSpan(val jobId: Int, val start: Long, val label: Option[String],
    val request: Option[Int]) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L

  /** Layer of the module that set the label, by label prefix. */
  def layer: String = JobTrace.layerOf(label)
}

/** Listener that records every Spark job with its phase label and the
  * request it belongs to, plus the task metrics of its stages. Spans
  * stay in memory; read them after `SparkContext.stop()`, which drains
  * the listener bus. */
final class JobTrace extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty(JobTrace.DescriptionKey)))
    val req = props.flatMap(p => Option(p.getProperty(JobTrace.RequestKey)))
      .map(_.toInt)
    jobs(e.jobId) = new JobSpan(e.jobId, e.time, label, req)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSuccess) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.executorRunMs += m.executorRunTime
        j.executorCpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      }
    }
  }

  def spans: Seq[JobSpan] = synchronized(jobs.values.toSeq)
}

object JobTrace {
  val DescriptionKey = "spark.job.description"
  val RequestKey = "perfbench.request"

  /** Layer names are the engine's module names; `unlabeled` and `other`
    * collect jobs without a label or with an unknown one. */
  val Layers: Seq[String] = Seq("core.gram", "core.irls", "core.windows",
    "estimators", "decompose", "equity", "unlabeled", "other")

  def layerOf(label: Option[String]): String = label match {
    case None => "unlabeled"
    case Some(l) => l.takeWhile(_ != ':') match {
      case "gram" => "core.gram"
      case "irls" => "core.irls"
      case "rank-pick" | "prefix-sum" => "core.windows"
      case "rif" | "kde" | "silverman" => "estimators"
      case "dfl" | "heckman" => "decompose"
      case "equity" => "equity"
      case _ => "other"
    }
  }

  /** The jobs of the request with id `req` that ran in `[lo, hi]`:
    * those tagged with its id, and untagged jobs that started inside
    * its window (threads that do not inherit the client's properties). */
  def jobsOf(all: Seq[JobSpan], req: Int, lo: Long, hi: Long): Seq[JobSpan] =
    all.filter(j => j.request match {
      case Some(r) => r == req
      case None => j.start >= lo && j.start <= hi
    })

  /** Job interval for union arithmetic; a job whose end event never came
    * is taken to run until `hi`. */
  def interval(j: JobSpan, hi: Long): (Long, Long) =
    (j.start, if (j.end >= 0) j.end else hi)
}
