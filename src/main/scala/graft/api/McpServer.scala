package graft.api

import graft.core.{InvalidArgument, Jobs, Session}
import graft.decompose.RefCoefficients
import graft.equity._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S10 serving surface: a JSON-RPC 2.0 stdio server exposing the five
  * engine tools over G1-G5, mirroring the reference's MCP server
  * (`meridian-mcp/src/main.rs:534-806`): `forensic_decomposition`,
  * `simulate_remediation`, `verify_adjustments`, `check_defensibility`,
  * `generate_efficient_frontier`. Requests carry `csv_content`; results
  * come back as the MCP `{"content":[{"type":"text","text":<json>}]}`
  * envelope with the engine's field names (`engine/src/types.rs:18-149`).
  *
  * The CSV payload of a JSON-RPC call is inherently driver-local, so it
  * is parsed driver-side and parallelized with its row index attached
  * (the reference's adjustment `index`); all analytics then run through
  * the distributed engine paths. A deployment reading data from storage
  * would swap [[csvToDf]] for `spark.read.csv` + `Prep.withRowId`.
  */
object McpServer {

  private implicit val formats: Formats = DefaultFormats

  val RowId = "__row_id__"

  /** RFC-4180-style line split: quoted fields may contain commas,
    * doubled quotes escape a quote. */
  private[graft] def splitCsvLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') {
            sb.append('"'); i += 1
          } else inQ = false
        } else sb.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString.trim; sb.clear()
        case _ => sb.append(c); ()
      }
      i += 1
    }
    out += sb.toString.trim
    out.toSeq
  }

  /** Parse csv_content into a DataFrame of string columns plus the
    * 0-based row index (all numeric typing happens downstream in
    * `Equity.prepareFrame`'s strict casts, like the engine's prepare_data). */
  def csvToDf(spark: SparkSession, csv: String): DataFrame = {
    val lines = csv.split("\r?\n").filter(_.nonEmpty)
    require(lines.length >= 2, "csv_content needs a header and data rows")
    val header = splitCsvLine(lines.head)
    val rows = lines.tail.zipWithIndex.map { case (l, i) =>
      Row.fromSeq(i.toLong +: splitCsvLine(l).padTo(header.length, "").toSeq)
    }
    val schema = StructType(StructField(RowId, LongType, nullable = false) +:
      header.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema)
  }

  private def cfgOf(a: JValue): EquityConfig = EquityConfig(
    outcome = (a \ "outcome_variable").extract[String],
    group = (a \ "group_variable").extract[String],
    reference = (a \ "reference_group").extract[String],
    predictors = (a \ "predictors").extract[Seq[String]],
    categorical = (a \ "categorical_predictors").extractOrElse[Seq[String]](Nil),
    target = (a \ "target").extractOpt[String] match {
      case Some("Pooled") => OptimizationTarget.Pooled
      case _ => OptimizationTarget.Reference
    },
    rangeTarget = (a \ "range_target").extractOpt[String] match {
      case Some("LowerBound") => RangeTarget.LowerBound
      case Some("UpperBound") => RangeTarget.UpperBound
      case _ => RangeTarget.Midpoint
    },
    strategy = (a \ "strategy").extractOpt[String] match {
      case Some("Equitable") => AllocationStrategy.Equitable
      case _ => AllocationStrategy.Greedy
    },
    budget = (a \ "budget").extractOrElse[Double](0.0),
    minGapPct = (a \ "min_gap_pct").extractOrElse[Double](0.0),
    forensic = (a \ "forensic_mode").extractOrElse[Boolean](false),
    adjustBoth = (a \ "adjust_both_groups").extractOrElse[Boolean](false),
    confidence = (a \ "confidence_level").extractOrElse[Double](0.95))

  private def refCoefOf(a: JValue): RefCoefficients =
    (a \ "reference_coefficients").extractOpt[String] match {
      case Some("GroupA") => RefCoefficients.GroupA
      case Some("GroupB") => RefCoefficients.GroupB
      case Some("Weighted") => RefCoefficients.Cotton
      case _ => RefCoefficients.Pooled
    }

  private def reps(a: JValue): Int = {
    val r = (a \ "bootstrap_reps").extractOrElse[Int](100)
    if (r < 0)
      throw InvalidArgument(s"bootstrap_reps must be >= 0, got $r")
    math.min(r, 10000)
  }

  /** Rows the server collects anyway are sorted by row id here, on the
    * driver: the engine's sorted views pay a range-sampling job and a
    * shuffle for the same order. Row ids are unique longs in column 0. */
  private def collectById(df: DataFrame): List[Row] =
    df.collect().toList.sortBy(_.getLong(0))

  private def jOpt(v: Option[Double]): JValue =
    v.map(JDouble(_)).getOrElse(JNull)

  // ---- the five tools (`meridian-mcp/src/main.rs:703-795`) ----

  private def decompositionJson(r: Equity.DecompositionResult): JValue = {
    def detailed(cs: Seq[graft.decompose.ComponentResult]): JValue =
      JArray(cs.map(c => JObject(
        "name" -> JString(c.name), "estimate" -> JDouble(c.estimate),
        "std_err" -> JDouble(c.stdErr), "p_value" -> JDouble(c.pValue),
        "ci_lower" -> JDouble(c.ciLower), "ci_upper" -> JDouble(c.ciUpper))).toList)
    JObject(
      "total_gap" -> JDouble(r.totalGap),
      "explained_gap" -> JDouble(r.explainedGap),
      "unexplained_gap" -> JDouble(r.unexplainedGap),
      "interaction_gap" -> jOpt(r.interactionGap),
      "explained_percentage" -> JDouble(r.explainedPercentage),
      "unexplained_percentage" -> JDouble(r.unexplainedPercentage),
      "interaction_percentage" -> jOpt(r.interactionPercentage),
      "detailed_explained" -> detailed(r.detailedExplained),
      "detailed_unexplained" -> detailed(r.detailedUnexplained),
      "data_summary" -> JObject(
        "total_count" -> JLong(r.summary.totalCount),
        "group_a_count" -> JLong(r.summary.groupACount),
        "group_b_count" -> JLong(r.summary.groupBCount),
        "group_a_mean" -> JDouble(r.summary.groupAMean),
        "group_b_mean" -> JDouble(r.summary.groupBMean)),
      "unexplained_standard_error" -> jOpt(r.unexplainedStandardError))
  }

  private def forensicDecomposition(spark: SparkSession, a: JValue): JValue = {
    val df = csvToDf(spark, (a \ "csv_content").extract[String])
    val res = Equity.decompose(df, cfgOf(a), refCoefOf(a), reps(a),
      threeFold = (a \ "three_fold").extractOrElse[Boolean](false),
      quantile = (a \ "quantile").extractOpt[Double])
    decompositionJson(res)
  }

  private def optimizationJson(res: OptimizeResult): JValue = {
    val adjRows = collectById(res.adjustmentsUnsorted)
    JObject(
      "adjustments" -> JArray(adjRows.map { r =>
        JObject(
          "index" -> JLong(r.getLong(0)),
          "adjustment" -> JDouble(r.getAs[Double]("adjustment")),
          "current_wage" -> JDouble(r.getAs[Double]("current_wage")),
          "new_wage" -> JDouble(r.getAs[Double]("new_wage")),
          "fair_wage" -> JDouble(r.getAs[Double]("fair_wage")),
          "fair_wage_lower_bound" -> JDouble(r.getAs[Double]("fair_wage_lower_bound")),
          "fair_wage_upper_bound" -> JDouble(r.getAs[Double]("fair_wage_upper_bound")))
      }),
      "total_cost" -> JDouble(res.metrics.totalCost),
      "original_gap" -> JDouble(res.metrics.originalGap),
      "new_gap" -> JDouble(res.metrics.newGap),
      "original_unexplained_gap" -> JDouble(res.metrics.originalUnexplainedGap),
      "new_unexplained_gap" -> JDouble(res.metrics.newUnexplainedGap),
      "required_budget" -> JDouble(res.metrics.requiredBudget),
      "model_coefficients" -> JArray(res.metrics.modelCoefficients.map {
        case (n, v) => JObject("name" -> JString(n), "value" -> JDouble(v))
      }.toList))
  }

  private def simulateRemediation(spark: SparkSession, a: JValue): JValue =
    optimizationJson(Equity.optimize(
      csvToDf(spark, (a \ "csv_content").extract[String]), cfgOf(a), RowId))

  private def adjustmentItems(a: JValue): List[JValue] =
    (a \ "adjustments") match { case JArray(xs) => xs; case _ => Nil }

  private def adjustmentsDf(spark: SparkSession, a: JValue): DataFrame = {
    val items = adjustmentItems(a).map(j =>
      Row((j \ "index").extract[Long], (j \ "value").extract[Double]))
    spark.createDataFrame(spark.sparkContext.parallelize(items, 1),
      StructType(Seq(StructField(RowId, LongType, nullable = false),
        StructField("value", org.apache.spark.sql.types.DoubleType))))
  }

  /** Percentage share, JSON-safe: a zero-gap denominator yields NaN/Inf,
    * which json4s renders as a bare `NaN` token (invalid JSON on the
    * wire) — emit JNull for non-finite shares instead. */
  private[graft] def finitePct(part: Double, total: Double): JValue = {
    val v = part / total * 100.0
    if (java.lang.Double.isFinite(v)) JDouble(v) else JNull
  }

  private def verifyAdjustments(spark: SparkSession, a: JValue): JValue = {
    val df = csvToDf(spark, (a \ "csv_content").extract[String])
    val res = Equity.verifyAdjustments(df, adjustmentsDf(spark, a), RowId,
      "value", cfgOf(a), bootstrapReps = reps(a))
    val unex = res.twoFold.find(_.name == "unexplained").get
    JObject(
      "total_gap" -> JDouble(res.totalGap),
      "explained_gap" -> JDouble(
        res.twoFold.find(_.name == "explained").get.estimate),
      "unexplained_gap" -> JDouble(unex.estimate),
      "interaction_gap" -> JNull,
      "explained_percentage" -> finitePct(
        res.twoFold.find(_.name == "explained").get.estimate, res.totalGap),
      "unexplained_percentage" -> finitePct(unex.estimate, res.totalGap),
      "unexplained_standard_error" -> JDouble(unex.stdErr))
  }

  private def checkDefensibility(spark: SparkSession, a: JValue): JValue = {
    val df = csvToDf(spark, (a \ "csv_content").extract[String])
    val items = adjustmentItems(a)
    val adjDf = adjustmentsDf(spark, a)
    // long-format overrides (index, predictor, value) from the per-item maps
    val overrides = items.flatMap { j =>
      val idx = (j \ "index").extract[Long]
      (j \ "predictor_overrides").extractOpt[Map[String, String]]
        .getOrElse(Map.empty).map { case (p, v) => (idx, p, v.toDouble) }
    }
    val judged = collectById(Equity.defensibilityVerdicts(df, adjDf,
      overrides, RowId, "value", cfgOf(a)))
    JArray(judged.map { r =>
      JObject(
        "index" -> JLong(r.getLong(0)),
        "adjustment" -> JDouble(r.getAs[Double]("adjustment")),
        "current_wage" -> JDouble(r.getAs[Double]("current_wage")),
        "new_wage" -> JDouble(r.getAs[Double]("new_wage")),
        "fair_wage" -> JDouble(r.getAs[Double]("fair_wage")),
        "fair_wage_lower_bound" -> JDouble(r.getAs[Double]("fair_wage_lower_bound")),
        "fair_wage_upper_bound" -> JDouble(r.getAs[Double]("fair_wage_upper_bound")),
        "is_defensible" -> JBool(r.getAs[Boolean]("is_defensible")),
        "defensibility_message" -> JString(r.getAs[String]("defensibility_message")))
    })
  }

  private def efficientFrontier(spark: SparkSession, a: JValue): JValue = {
    val steps = (a \ "steps").extractOrElse[Int](50)
    if (steps < 1) throw InvalidArgument(s"steps must be >= 1, got $steps")
    val df = csvToDf(spark, (a \ "csv_content").extract[String])
    val pts = Frontier.compute(df, cfgOf(a), RowId,
      maxBudget = (a \ "max_budget").extractOpt[Double], steps = steps)
    JArray(pts.map(p => JObject(
      "budget" -> JDouble(p.budget),
      "t_statistic" -> JDouble(p.tStatistic),
      "p_value" -> JDouble(p.pValue),
      "is_significant" -> JBool(p.isSignificant))).toList)
  }

  private val toolList: JValue = JArray(List(
    ("forensic_decomposition", "Perform Oaxaca-Blinder pay equity decomposition."),
    ("simulate_remediation", "Simulate budget allocation to fix identified pay gaps."),
    ("verify_adjustments", "Validate a set of proposed wage adjustments by re-running the decomposition."),
    ("check_defensibility", "Audit specific adjustments for legal/statistical defensibility with predictor overrides."),
    ("generate_efficient_frontier", "Calculate the Efficient Frontier curve (Budget vs Statistical Significance.")
  ).map { case (n, d) =>
    JObject("name" -> JString(n), "description" -> JString(d),
      "inputSchema" -> JObject("type" -> JString("object")))
  })

  private def toolCall(spark: SparkSession, params: JValue): JValue = {
    val name = (params \ "name").extract[String]
    val args = params \ "arguments"
    val result = Jobs.labeled(spark, s"mcp: $name") {
      name match {
        case "forensic_decomposition" => forensicDecomposition(spark, args)
        case "simulate_remediation" => simulateRemediation(spark, args)
        case "verify_adjustments" => verifyAdjustments(spark, args)
        case "check_defensibility" => checkDefensibility(spark, args)
        case "generate_efficient_frontier" => efficientFrontier(spark, args)
        case other => throw new IllegalArgumentException(s"Unknown tool: $other")
      }
    }
    // MCP tool-result envelope: the result JSON as a text content block
    JObject("content" -> JArray(List(JObject(
      "type" -> JString("text"),
      "text" -> JString(JsonMethods.compact(JsonMethods.render(result)))))))
  }

  /** Handle one JSON-RPC request line; None for notifications. */
  def handle(spark: SparkSession, line: String): Option[String] = {
    val req =
      try JsonMethods.parse(line)
      catch {
        case _: Throwable => return Some(errorJson(JNull, -32700, "Parse error"))
      }
    val id = req \ "id"
    val isNotification = id == JNothing
    def ok(v: JValue): Option[String] =
      if (isNotification) None
      else Some(JsonMethods.compact(JsonMethods.render(JObject(
        "jsonrpc" -> JString("2.0"), "result" -> v, "id" -> id))))
    (req \ "method").extractOpt[String] match {
      case Some("initialize") => ok(JObject(
        "protocolVersion" -> JString("2024-11-05"),
        "capabilities" -> JObject("tools" -> JObject(
          "listChanged" -> JBool(false))),
        "serverInfo" -> JObject("name" -> JString("graft-mcp"),
          "version" -> JString("0.1.0"))))
      case Some("notifications/initialized") => None
      case Some("tools/list") => ok(JObject("tools" -> toolList))
      case Some("ping") => ok(JObject())
      case Some("tools/call") =>
        try ok(toolCall(spark, req \ "params"))
        catch {
          case e: Throwable =>
            if (isNotification) None
            else Some(errorJson(id, -32603, Option(e.getMessage).getOrElse(e.toString)))
        }
      case Some(m) =>
        if (isNotification) None
        else Some(errorJson(id, -32601, s"Method not found: $m"))
      case None => Some(errorJson(id, -32600, "Invalid request: no method"))
    }
  }

  private def errorJson(id: JValue, code: Int, message: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"),
      "error" -> JObject("code" -> JInt(code), "message" -> JString(message)),
      "id" -> id)))

  def main(args: Array[String]): Unit = {
    val spark = Session.create("graft-mcp")
    // stdio mode rate-limits by BLOCKING until a token frees up, like
    // the reference (`meridian-mcp/src/main.rs:193-211`, default 60/min)
    val bucket = new McpHttp.TokenBucket(
      sys.env.getOrElse("SPARK_GRAFT_MCP_RATE_PER_MIN", "60").toInt)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in, "UTF-8"))
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach { l =>
        bucket.acquireBlocking()
        handle(spark, l).foreach { resp =>
          println(resp); Console.out.flush()
        }
      }
    spark.stop()
  }
}
