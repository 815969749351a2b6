package perfbench

import java.util.Properties
import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, JobSucceeded}
import org.json4s._

/** The benchmark's own tests: its accounting must be right before its
  * figures mean anything. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // overlapping jobs, as Jobs.par2 and the DFL pool submit them
    val lo = 1000L
    val hi = 2000L
    val jobs = Seq((1100L, 1500L), (1200L, 1400L), (1450L, 1700L), (1900L, 2300L), (500L, 1050L))
    check("union counts overlapping jobs once") {
      Intervals.unionWithin(jobs, lo, hi) == (1700 - 1100) + (2000 - 1900) + (1050 - 1000)
    }
    check("gap is never negative with overlapping jobs") {
      Intervals.gap(jobs, lo, hi) >= 0 &&
        Intervals.gap(Seq((900L, 2100L), (1000L, 2000L), (1000L, 2000L)), lo, hi) == 0
    }
    check("gap + job union == wall time exactly") {
      val rnd = new scala.util.Random(7)
      (1 to 2000).forall { _ =>
        val s = rnd.nextInt(1000).toLong
        val e = s + rnd.nextInt(1000)
        val js = Seq.fill(rnd.nextInt(6)) {
          val a = rnd.nextInt(2200).toLong - 100
          (a, a + rnd.nextInt(400))
        }
        val g = Intervals.gap(js, s, e)
        g >= 0 && g + Intervals.unionWithin(js, s, e) == e - s
      }
    }

    check("jobs keep the label they carried at submission") {
      val t = new JobTrace
      def props(label: String, req: String) = {
        val p = new Properties
        if (label != null) p.setProperty(JobTrace.DescriptionKey, label)
        if (req != null) p.setProperty(JobTrace.RequestKey, req)
        p
      }
      t.onJobStart(SparkListenerJobStart(0, 10L, Nil, props("gram: 2-lane scan", "1")))
      // a nested Jobs.labeled reset the description to null on exit
      t.onJobStart(SparkListenerJobStart(1, 20L, Nil, props(null, "1")))
      t.onJobStart(SparkListenerJobStart(2, 30L, Nil, props("rank-pick: counts", null)))
      t.onJobEnd(SparkListenerJobEnd(0, 15L, JobSucceeded))
      val s = t.spans
      s.map(_.layer) == Seq("core.gram", "unlabeled", "core.windows") &&
        s.head.end == 15L &&
        JobTrace.jobsOf(s, 1, 0L, 25L).map(_.jobId) == Seq(0, 1) &&
        JobTrace.jobsOf(s, 2, 25L, 40L).map(_.jobId) == Seq(2)
    }

    check("steal is not counted as busy") {
      val c = Conditions.parseCpuLine("cpu  100 0 50 600 50 0 0 200 0 0")
      c.busy == 150 && c.idle == 650 && c.steal == 200 &&
        math.abs(c.stealShare - 0.2) < 1e-12 && math.abs(c.busyShare - 0.15) < 1e-12
    }

    check("tail percentile has ten samples above it") {
      val xs = (1 to 25).map(_.toDouble)
      Main.tail(xs) == Some((60.0, 15.0)) && Main.tail(xs.take(10)).isEmpty
    }

    check("answers match within tolerance and not beyond") {
      val e = JObject("a" -> JDouble(-5.184011223413367), "b" -> JArray(List(JInt(3))))
      Answers.diff(e, JObject("a" -> JDouble(-5.184011223413575),
          "b" -> JArray(List(JDouble(3.0))))).isEmpty &&
        Answers.diff(e, JObject("a" -> JDouble(-5.19), "b" -> JArray(List(JInt(3))))).size == 1 &&
        Answers.diff(e, JObject("a" -> JDouble(-5.184011223413367))).size == 1
    }

    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
