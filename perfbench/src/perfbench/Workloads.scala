package perfbench

import graft.SparkEntry
import graft.api.McpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What one call returned: the normalised answer that is checked, and
  * the raw response (for the serving path, the JSON-RPC line). */
final case class Response(answer: JValue, raw: String)

/** One request of a workload: the query or tool it calls, and the engine
  * module that implements it. Its span is named `<module>.<name>_s`. */
final case class Request(name: String, module: String, call: () => Response)

/** A fixed set of requests and the way their answers are checked. */
trait Workload {
  def name: String
  def requests: IndexedSeq[Request]
  /** Problems with `answer` to `req`; empty when it is correct. */
  def check(req: Request, answer: JValue): Seq[String]
  /** File of the answers pinned for this workload and seed, if any. */
  def pinFile: Option[String]
  /** The form of `answer` that is pinned and compared. */
  def pinned(answer: JValue): JValue = answer
}

object Workloads {
  val DefaultSeed = 1L

  /** Analysis requests, by the module they exercise: Gram-scan
    * decompositions, an IRLS fit, a KDE grid pass and a Heckman selection
    * decomposition over `lineitem`, and two shuffle-bound dedup passes
    * over `documents`, so that `ext` is measured on a workload that
    * `BENCHMARK.json` lists. */
  val AnalystQueries: Seq[(String, String)] = Seq(
    "q_decomp_twofold" -> "decompose", "q_decomp_threefold" -> "decompose",
    "q_decomp_detailed" -> "decompose", "q_wls_decomp" -> "decompose",
    "q_heckman_decomp" -> "decompose",
    "q_logit" -> "estimators", "q_kde" -> "estimators",
    "q_dedup_exact" -> "ext", "q_simhash_pairs" -> "ext")

  /** Near-duplicate detection in `ext`. */
  val DedupQueries: Seq[String] = Seq("q_dedup_exact", "q_minhash_lsh",
    "q_jaccard_pairs", "q_simhash_pairs", "q_embed_neardup",
    "q_embed_neardup_ivf", "q_dedup_clusters")

  val Tools: Seq[String] = Seq("forensic_decomposition",
    "simulate_remediation", "verify_adjustments", "check_defensibility",
    "generate_efficient_frontier")

  def expectedOf(file: String): Map[String, JValue] = {
    val p = java.nio.file.Paths.get(file)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) match {
      case JObject(fs) => fs.toMap
      case _ => Map.empty
    }
  }

  private def againstPin(expected: Map[String, JValue], name: String,
      answer: JValue): Seq[String] =
    expected.get(name).map(Answers.diff(_, answer))
      .getOrElse(Seq(s"no pinned answer for $name"))

  /** Registry queries: fixed inputs, so one pinned answer holds for
    * every seed. */
  final class Queries(val name: String, spark: SparkSession, fixtures: String,
      queries: Seq[(String, String)], expectedDir: String) extends Workload {
    val requests: IndexedSeq[Request] = queries.toIndexedSeq.map { case (q, module) =>
      val fn = SparkEntry.queries(q)
      Request(q, module, () => {
        val a = Answers.ofRows(fn(spark, fixtures))
        Response(a, JsonMethods.compact(JsonMethods.render(a)))
      })
    }
    val pinFile: Option[String] = Some(s"$expectedDir/$name.json")
    private lazy val expected = expectedOf(pinFile.get)
    def check(req: Request, answer: JValue): Seq[String] =
      againstPin(expected, req.name, answer)
  }

  /** JSON-RPC `tools/call` lines handed straight to `McpServer.handle`
    * (no stdio loop, so no rate limiter): the five tools on one employee
    * table. The seed samples the table from `lineitem` and draws the
    * budget and the adjustment list. */
  final class EquityServe(spark: SparkSession, fixtures: String, seed: Long,
      expectedDir: String) extends Workload {
    val name = "equity_serve"
    val PayloadRows = 5000
    val Adjustments = 200
    val columns = Seq("l_extendedprice", "l_linestatus", "l_quantity",
      "l_discount", "l_returnflag")

    private val rows = {
      val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
      val cs = columns.map(col)
      li.select(cs: _*).orderBy((xxhash64((lit(seed) +: cs): _*) +: cs): _*)
        .limit(PayloadRows).collect()
    }
    val csv: String = (columns.mkString(",") +: rows.toSeq.map(r =>
      columns.indices.map(i => r.get(i).toString).mkString(","))).mkString("\n")
    val groupCounts: Seq[Long] =
      rows.groupBy(_.getString(1)).values.map(_.length.toLong).toSeq.sorted
    private val rnd = new scala.util.Random(seed)
    val budget: Double = math.rint((20000.0 + rnd.nextDouble() * 180000.0) * 100) / 100
    private val adjustments: JValue = JArray(
      rnd.shuffle((0 until PayloadRows).toList).take(Adjustments).sorted.map(i =>
        JObject("index" -> JLong(i.toLong),
          "value" -> JDouble(math.rint(rnd.nextDouble() * 200000) / 100))))

    private def line(id: Int, tool: String): String = {
      val base = List(
        "csv_content" -> JString(csv),
        "outcome_variable" -> JString("l_extendedprice"),
        "group_variable" -> JString("l_linestatus"),
        "reference_group" -> JString("F"),
        "predictors" -> JArray(List(JString("l_quantity"), JString("l_discount"))),
        "categorical_predictors" -> JArray(List(JString("l_returnflag"))))
      val extra = tool match {
        case "simulate_remediation" => List("budget" -> JDouble(budget))
        case "verify_adjustments" | "check_defensibility" =>
          List("adjustments" -> adjustments)
        case _ => Nil
      }
      JsonMethods.compact(JsonMethods.render(JObject(
        "jsonrpc" -> JString("2.0"), "id" -> JInt(id), "method" -> JString("tools/call"),
        "params" -> JObject("name" -> JString(tool),
          "arguments" -> JObject(base ++ extra)))))
    }

    val requests: IndexedSeq[Request] = Tools.toIndexedSeq.zipWithIndex.map { case (tool, i) =>
      val l = line(i + 1, tool)
      Request(tool, "api", () => {
        val resp = McpServer.handle(spark, l).getOrElse("")
        val parsed = JsonMethods.parse(resp)
        val err = parsed \ "error"
        if (err != JNothing)
          throw new RuntimeException(s"$tool: ${JsonMethods.compact(JsonMethods.render(err))}")
        val text = (parsed \ "result" \ "content")(0) \ "text" match {
          case JString(s) => s
          case other => throw new RuntimeException(s"$tool: no text content: $other")
        }
        Response(JsonMethods.parse(text), resp)
      })
    }

    val pinFile: Option[String] =
      if (seed == DefaultSeed) Some(s"$expectedDir/equity_serve.json") else None
    private lazy val expected = pinFile.map(expectedOf).getOrElse(Map.empty)
    override def pinned(answer: JValue): JValue = Answers.ofJson(answer)

    private def d(v: JValue): Double = Answers.num(v).getOrElse(Double.NaN)
    private def items(v: JValue): List[JValue] = v match {
      case JArray(xs) => xs
      case _ => Nil
    }
    private def sumsTo(parts: Seq[Double], total: Double, what: String): Seq[String] =
      if (Answers.close(parts.sum, total)) Nil
      else Seq(s"$what: parts sum to ${parts.sum}, total is $total")

    /** Invariants that hold for every seed. */
    private def invariants(tool: String, r: JValue): Seq[String] = tool match {
      case "forensic_decomposition" =>
        val counts = Seq(d(r \ "data_summary" \ "group_a_count"),
          d(r \ "data_summary" \ "group_b_count")).map(_.toLong)
        sumsTo(Seq(d(r \ "explained_gap"), d(r \ "unexplained_gap")),
          d(r \ "total_gap"), "explained + unexplained") ++
          (if (counts.sorted == groupCounts) Nil
          else Seq(s"group counts $counts, payload has $groupCounts"))
      case "verify_adjustments" =>
        sumsTo(Seq(d(r \ "explained_gap"), d(r \ "unexplained_gap")),
          d(r \ "total_gap"), "explained + unexplained")
      case "simulate_remediation" =>
        val adj = items(r \ "adjustments").map(a => d(a \ "adjustment"))
        (if (d(r \ "total_cost") <= budget * (1 + Answers.RelTol)) Nil
        else Seq(s"total_cost ${d(r \ "total_cost")} exceeds budget $budget")) ++
          adj.filterNot(_ >= 0).map(a => s"negative adjustment $a")
      case "check_defensibility" =>
        val adj = items(r).map(a => d(a \ "adjustment"))
        (if (adj.size == Adjustments) Nil
        else Seq(s"${adj.size} verdicts for $Adjustments adjustments")) ++
          adj.filterNot(_ >= 0).map(a => s"negative adjustment $a")
      case "generate_efficient_frontier" =>
        val b = items(r).map(p => d(p \ "budget"))
        if (b.nonEmpty && b.zip(b.drop(1)).forall { case (x, y) => y >= x }) Nil
        else Seq(s"frontier budgets not monotone: ${b.take(5)}...")
      case other => Seq(s"unknown tool $other")
    }

    def check(req: Request, answer: JValue): Seq[String] =
      invariants(req.name, answer) ++
        (if (pinFile.isEmpty) Nil else againstPin(expected, req.name, pinned(answer)))
  }

  def apply(name: String, spark: SparkSession, fixtures: String, seed: Long,
      expectedDir: String): Workload = name match {
    case "analyst" => new Queries(name, spark, fixtures, AnalystQueries, expectedDir)
    case "dedup" => new Queries(name, spark, fixtures, DedupQueries.map(_ -> "ext"), expectedDir)
    case "equity_serve" => new EquityServe(spark, fixtures, seed, expectedDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
