package graft.tools

import graft.core.Session
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler: run one harness query with a job-level timing listener.
  * Usage: runMain graft.tools.ProfileMain <queryName> <sfDir> [reps]
  * Prints one line per Spark job (duration, driver gap before it or
  * `overlap` when it started beside a running job, label and stage
  * names) so the per-phase cost of a multi-pass query is visible
  * without the UI. */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.create("graft-profile")
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    @volatile var enabled = false
    // listener events arrive on one bus thread, in order
    var running = 0
    var lastEnd = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // driver "think time": a job that starts while no job runs waited
        // since the last job ended (planning / codegen / driver algebra)
        // — the between-jobs gap that job durations alone never show. A
        // job started beside a running one (Jobs.par2) has no gap.
        val gap =
          if (running > 0) "overlap   "
          else f"gap ${if (lastEnd > 0) (j.time - lastEnd) / 1000.0 else 0.0}%6.3f"
        running += 1
        if (enabled) {
          val label = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
          val desc = label.map(_ + " | ").getOrElse("") +
            j.stageInfos.map(_.name).distinct.mkString(" | ")
          starts(j.jobId) = (j.time, gap + " | " + desc)
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        running -= 1
        lastEnd = j.time
        starts.remove(j.jobId).foreach { case (t0, desc) =>
          if (enabled) println(
            f"[job ${j.jobId}%3d] ${(j.time - t0) / 1000.0}%7.3f s  ${desc.take(240)}")
        }
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (r <- 1 to reps) {
      graft.Queries.clearSessionCaches()
      graft.QueriesExt.clearSessionCaches()
      spark.catalog.clearCache()
      enabled = r == reps // only print the warm rep
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).collect().length
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== rep $r: $name $dt%.3f s ($n rows)")
      Thread.sleep(300) // drain listener events
    }
    spark.stop()
  }
}
