package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** One closed-loop benchmark run: a single client thread sends the
  * workload's requests one after another, each only after the previous
  * one answered.
  *
  * Set-up is everything from JVM start to the first timed request,
  * including one untimed warm-up pass of the whole mix (JIT, codegen and
  * first-touch costs). The timed phase then runs whole passes of the mix,
  * each in a seeded order, until the requests have taken `--seconds`.
  * Between requests, outside the timed windows, [[sweep]] drops what the
  * previous request left persisted.
  *
  * With `--trace 0` the run reports the end-to-end metrics; with
  * `--trace 1` it registers a [[JobTrace]] listener and reports the
  * per-layer metrics. The last stdout line is the result object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, fixtures: String, expected: String, out: String,
      pin: Boolean)

  /** One request as the client saw it. Times in epoch ms for the span
    * arithmetic, latency from the monotonic clock. */
  final case class Record(seq: Int, pass: Int, req: Request, startMs: Long,
      endMs: Long, latencyS: Double, problems: Seq[String], bytes: Int,
      drift: Boolean, leakedRdds: Int, leakedThreads: Int, sweepS: Double,
      answer: Option[JValue]) {
    def ok: Boolean = problems.isEmpty
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("expected"), need("out"),
      m.get("pin").contains("1"))
  }

  /** Drops everything the previous request left persisted except the
    * declared session caches, then runs one GC so the ContextCleaner
    * reaps shuffle state. The retained IVF index loses its cached cell
    * assignment to the unpersist and gets it back here. */
  def sweep(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    graft.Queries.clearSessionCaches()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    graft.QueriesExt.rematerializeIndexes()
    (System.nanoTime() - t0) / 1e9
  }

  private def graftThreads(): Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("graft-"))
  }

  /** Latest time after JVM start at which the timed phase may end. */
  val DeadlineS = 140.0

  /** Fewest timed requests in a run. With ten samples above it, the tail
    * percentile is then p60 or higher, above the median. */
  val MinSamples = 25

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None with ten samples or fewer. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val k = s.size - 11
    if (k < 0) None else Some((100.0 * (k + 1) / s.size, s(k)))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val cpu0 = Conditions.cpuTimes()
    val load0 = Conditions.loadAvg()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir") + "/spark-local")
      .config("spark.sql.warehouse.dir", System.getProperty("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val trace = if (a.trace) Some(new JobTrace) else None
    trace.foreach(sc.addSparkListener)
    val sparkUpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w = Workloads(a.workload, spark, a.fixtures, a.seed, a.expected)
    val inputsS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val rnd = new scala.util.Random(a.seed)
    val firstRaw = mutable.HashMap.empty[String, String]
    var seq = 0
    var setupS = Double.NaN
    def elapsedS(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    def runOne(req: Request, pass: Int): Record = {
      val sweepS = sweep(spark)
      if (pass == 1 && setupS.isNaN) setupS = elapsedS()
      val before = sc.getPersistentRDDs.keySet
      seq += 1
      if (a.trace) sc.setLocalProperty(JobTrace.RequestKey, seq.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = Try(req.call())
      val latencyS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (a.trace) sc.setLocalProperty(JobTrace.RequestKey, null)
      val leaked = (sc.getPersistentRDDs.keySet -- before).size
      result match {
        case Success(r) =>
          val first = firstRaw.getOrElseUpdate(req.name, r.raw)
          Record(seq, pass, req, startMs, endMs, latencyS,
            if (a.pin) Nil else w.check(req, r.answer),
            r.raw.getBytes(StandardCharsets.UTF_8).length, first != r.raw,
            leaked, graftThreads(), sweepS, Some(r.answer))
        case Failure(e) =>
          Record(seq, pass, req, startMs, endMs, latencyS, Seq(s"failed: $e"),
            0, drift = false, leaked, graftThreads(), sweepS, None)
      }
    }

    val warm = rnd.shuffle(w.requests).map(runOne(_, 0))
    if (a.pin) w.pinFile.foreach { f =>
      val obj = JObject(w.requests.toList.flatMap(r =>
        warm.find(_.req.name == r.name).flatMap(_.answer).map(x => r.name -> w.pinned(x))))
      Files.write(Paths.get(f), (JsonMethods.pretty(JsonMethods.render(obj)) + "\n")
        .getBytes(StandardCharsets.UTF_8))
    }

    // whole passes until the requests have taken `seconds`: at least two,
    // and at least MinSamples requests; none started that would end past
    // the deadline
    val minPasses = math.max(2, math.ceil(MinSamples.toDouble / w.requests.size).toInt)
    val timed = mutable.ArrayBuffer.empty[Record]
    val csvParseS = mutable.ArrayBuffer.empty[Double]
    var passes = 0
    var lastPassS = 0.0
    def more: Boolean = passes == 0 ||
      elapsedS() + lastPassS < DeadlineS &&
        (passes < minPasses || timed.map(_.latencyS).sum < a.seconds)
    while (more) {
      passes += 1
      val t0 = System.nanoTime()
      rnd.shuffle(w.requests).foreach(r => timed += runOne(r, passes))
      if (a.trace) w match {
        case e: Workloads.EquityServe =>
          val t = System.nanoTime()
          graft.api.McpServer.csvToDf(spark, e.csv)
          csvParseS += (System.nanoTime() - t) / 1e9
        case _ =>
      }
      lastPassS = (System.nanoTime() - t0) / 1e9
    }

    val peakRssMb = Conditions.procStatusMb("VmHWM")
    val load1 = Conditions.loadAvg()
    val cpu = Conditions.cpuTimes() - cpu0
    val (fixtures, fixturesDigest) = Conditions.fixtureManifest(a.fixtures, Fixtures.Tables)
    spark.stop() // drains the listener bus before the spans are read

    if (passes < minPasses) {
      System.err.println(s"perfbench: only $passes of $minPasses passes fit before " +
        s"${DeadlineS} s; no result")
      sys.exit(3)
    }
    val lat = timed.map(_.latencyS).toSeq
    val timedS = lat.sum
    val okN = timed.count(_.ok)
    val failed = timed.size - okN
    val throughput = okN / timedS
    val tl = tail(lat).get
    val warmProblems = warm.filterNot(_.ok)
    val stealFlag = cpu.stealShare > Metrics.StealBound

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("throughput_rps", throughput, "1/s"),
        ("latency_p50_s", median(lat), "s"),
        ("latency_tail_s", tl._2, "s"),
        ("peak_rss_mb", peakRssMb, "MB"),
        ("setup_s", setupS, "s"))
      else Metrics.perLayer(timed.toSeq, trace.get.spans, passes, cores,
        csvParseS.toSeq, throughput, w.requests)

    val conditions = JObject(
      "nproc" -> JInt(cores),
      "heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
      "fixtures_digest" -> JString(fixturesDigest),
      "fixtures" -> JObject(fixtures.toList.map { case (t, s, f) =>
        t -> JObject("bytes" -> JLong(s), "footer" -> JString(f)) }),
      "load_avg_start" -> JDouble(load0), "load_avg_end" -> JDouble(load1),
      "cpu_mhz" -> JDouble(Conditions.cpuMhz()),
      "steal_share" -> JDouble(cpu.stealShare),
      "busy_share_excl_steal" -> JDouble(cpu.busyShare),
      "steal_over_bound" -> JBool(stealFlag))
    val details = JObject(
      "workload" -> JString(a.workload), "seed" -> JLong(a.seed),
      "trace" -> JBool(a.trace), "passes" -> JInt(passes),
      "n" -> JInt(timed.size), "timed_s" -> JDouble(timedS),
      "latency_tail_percentile" -> JDouble(tl._1),
      "setup_phases_s" -> JObject("spark" -> JDouble(sparkUpS),
        "inputs" -> JDouble(inputsS - sparkUpS), "warm_up" -> JDouble(setupS - inputsS)),
      "error_rate" -> JDouble(failed.toDouble / timed.size),
      "problems" -> JArray((warmProblems ++ timed.filterNot(_.ok)).take(10).toList
        .map(r => JString(s"${r.req.name}: ${r.problems.take(3).mkString("; ")}"))),
      "conditions" -> conditions)
    if (stealFlag)
      System.err.println(f"perfbench: steal share ${cpu.stealShare}%.3f exceeds " +
        f"${Metrics.StealBound}%.2f; this run's figures are not comparable")

    val metricsJson = JObject(metrics.toList.map { case (n, v, u) =>
      n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) })
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val report = JObject(
      "details" -> details,
      "metrics" -> metricsJson,
      "requests" -> JArray((warm ++ timed).toList.map(r => JObject(
        "seq" -> JInt(r.seq), "pass" -> JInt(r.pass), "name" -> JString(r.req.name),
        "latency_s" -> JDouble(r.latencyS), "ok" -> JBool(r.ok),
        "bytes" -> JInt(r.bytes), "drift" -> JBool(r.drift),
        "leaked_rdds" -> JInt(r.leakedRdds), "leaked_threads" -> JInt(r.leakedThreads),
        "sweep_s" -> JDouble(r.sweepS)))))
    Files.write(Paths.get(a.out, s"report-$tag.json"),
      JsonMethods.compact(JsonMethods.render(report)).getBytes(StandardCharsets.UTF_8))
    trace.foreach(t => Files.write(Paths.get(a.out, s"spans-$tag.json"),
      JsonMethods.compact(JsonMethods.render(Metrics.spansJson(timed.toSeq, t.spans)))
        .getBytes(StandardCharsets.UTF_8)))

    val result = JObject(
      "correct" -> JBool(failed == 0 && warmProblems.isEmpty),
      "attempted" -> JInt(timed.size),
      "failed" -> JInt(failed),
      "metrics" -> metricsJson)
    println(JsonMethods.compact(JsonMethods.render(details)))
    println(JsonMethods.compact(JsonMethods.render(result)))
    Console.out.flush()
  }
}
