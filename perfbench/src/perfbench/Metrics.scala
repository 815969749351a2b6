package perfbench

import org.json4s._

/** Per-layer metrics of a traced run, from the client's request records
  * and the listener's job spans. Counts, bytes and times are per pass of
  * the workload's mix, so runs with different pass counts compare; a
  * `<module>.<request>_s` figure is the request's median latency. */
object Metrics {
  import Main.{Record, median}

  /** Steal share above which a run is flagged as not comparable: runs
    * with 2-6% steal were measured 30-50% slower on every request. */
  val StealBound = 0.02

  private def requestJobs(timed: Seq[Record], spans: Seq[JobSpan])
      : Seq[(Record, Seq[JobSpan])] =
    timed.map(r => r -> JobTrace.jobsOf(spans, r.seq, r.startMs, r.endMs))

  private def intervals(r: Record, js: Seq[JobSpan]): Seq[(Long, Long)] =
    js.map(JobTrace.interval(_, r.endMs))

  /** The requests that get a latency span metric in every workload (zero
    * where absent), so the listed workloads report the same names. */
  val SpanRequests: Seq[(String, String)] =
    Workloads.AnalystQueries ++ Workloads.Tools.map(_ -> "api")

  def perLayer(timed: Seq[Record], spans: Seq[JobSpan], passes: Int, cores: Int,
      csvParseS: Seq[Double], throughput: Double, requests: Seq[Request])
      : Seq[(String, Double, String)] = {
    val per = passes.toDouble
    val rj = requestJobs(timed, spans)
    val allJobs = rj.flatMap(_._2)
    def p50(name: String, f: Record => Double = _.latencyS): Double = {
      val xs = timed.filter(_.req.name == name).map(f)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    def gapMs(r: Record, js: Seq[JobSpan]) = Intervals.gap(intervals(r, js), r.startMs, r.endMs)
    val gaps = rj.map { case (r, js) => r -> gapMs(r, js) }.toMap

    val layers = JobTrace.Layers.flatMap { l =>
      val inLayer = rj.map { case (r, js) => r -> js.filter(_.layer == l) }
      Seq((s"$l.jobs", inLayer.map(_._2.size).sum / per, "count"),
        (s"$l.wall_s", inLayer.map { case (r, js) =>
          Intervals.unionWithin(intervals(r, js), r.startMs, r.endMs) }.sum / 1000.0 / per, "s"),
        (s"$l.executor_s", inLayer.flatMap(_._2).map(_.executorRunMs).sum / 1000.0 / per, "s"))
    }
    val named = (SpanRequests ++ requests.map(r => r.name -> r.module)).distinct
    val latencies = named.map { case (q, m) => (s"$m.${q}_s", p50(q), "s") }
    val api = timed.filter(_.req.module == "api")
    val apiRows = Seq(
      ("api.driver_s", if (api.isEmpty) 0.0 else median(api.map(gaps(_) / 1000.0)), "s"),
      ("api.csv_parse_s", if (csvParseS.isEmpty) 0.0 else median(csvParseS), "s"),
      ("api.response_bytes", api.map(_.bytes.toDouble).sum / per, "B"),
      ("api.response_drift", api.count(_.drift) / per, "count"))
    val shuffleOf = rj.map { case (r, js) => r -> js.map(_.shuffleReadRecords).sum.toDouble }.toMap
    val ext = named.collect { case (q, "ext") =>
      (s"ext.$q.shuffle_records", p50(q, shuffleOf), "count") }
    val wallMs = timed.map(r => r.endMs - r.startMs).sum
    val spark = Seq(
      ("spark.jobs", allJobs.size / per, "count"),
      ("spark.stages", allJobs.map(_.stages).sum / per, "count"),
      ("spark.tasks", allJobs.map(_.tasks).sum / per, "count"),
      ("spark.task_failures", allJobs.map(_.taskFailures).sum / per, "count"),
      ("spark.executor_run_s", allJobs.map(_.executorRunMs).sum / 1000.0 / per, "s"),
      ("spark.executor_cpu_s", allJobs.map(_.executorCpuNs).sum / 1e9 / per, "s"),
      ("spark.gc_s", allJobs.map(_.gcMs).sum / 1000.0 / per, "s"),
      ("spark.input_records", allJobs.map(_.inputRecords).sum / per, "count"),
      ("spark.shuffle_write_bytes", allJobs.map(_.shuffleWriteBytes).sum / per, "B"),
      ("spark.shuffle_read_records", allJobs.map(_.shuffleReadRecords).sum / per, "count"),
      ("spark.driver_gap_s", gaps.values.sum / 1000.0 / per, "s"),
      ("spark.busy_share",
        if (wallMs > 0) allJobs.map(_.executorRunMs).sum.toDouble / (wallMs * cores) else 0.0,
        "share"),
      ("spark.leaked_rdds", timed.map(_.leakedRdds).sum / per, "count"),
      ("spark.leaked_threads", timed.map(_.leakedThreads).maxOption.getOrElse(0).toDouble, "count"),
      ("spark.sweep_s", timed.map(_.sweepS).sum / per, "s"))
    layers ++ latencies ++ apiRows ++ ext ++ spark :+
      (("trace.throughput_rps", throughput, "1/s"))
  }

  /** Request spans with their Spark jobs as child spans. */
  def spansJson(timed: Seq[Record], spans: Seq[JobSpan]): JValue =
    JObject("requests" -> JArray(requestJobs(timed, spans).toList.map { case (r, js) =>
      val iv = intervals(r, js)
      val union = Intervals.unionWithin(iv, r.startMs, r.endMs)
      JObject(
        "seq" -> JInt(r.seq), "pass" -> JInt(r.pass), "name" -> JString(r.req.name),
        "module" -> JString(r.req.module),
        "start_ms" -> JLong(r.startMs), "end_ms" -> JLong(r.endMs),
        "wall_ms" -> JLong(r.endMs - r.startMs), "job_union_ms" -> JLong(union),
        "gap_ms" -> JLong(Intervals.gap(iv, r.startMs, r.endMs)),
        "jobs" -> JArray(js.toList.map(j => JObject(
          "job" -> JInt(j.jobId), "label" -> j.label.map(JString(_): JValue).getOrElse(JNull),
          "layer" -> JString(j.layer), "start_ms" -> JLong(j.start), "end_ms" -> JLong(j.end),
          "stages" -> JInt(j.stages), "tasks" -> JInt(j.tasks),
          "executor_run_ms" -> JLong(j.executorRunMs),
          "shuffle_read_records" -> JLong(j.shuffleReadRecords)))))
    }))
}
