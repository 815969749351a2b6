package graft

import graft.api.McpServer
import graft.equity.{Equity, EquityConfig}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-RPC wire tests for the S10 serving shim
  * (`meridian-mcp/src/main.rs:516-806`): protocol handshake, tool
  * listing, and end-to-end tool calls over a small CSV payload. */
class McpSpec extends SparkSpec {

  private implicit val formats: Formats = DefaultFormats

  private val csv =
    "wage,education,group\n" + Seq(
      "30,10,A", "32,12,A", "34,14,A", "36,16,A",
      "10,10,B", "15,10,B", "20,10,B", "12,12,B", "17,12,B", "22,12,B"
    ).mkString("\n")

  private def rpc(method: String, params: String, id: Int = 1): String =
    s"""{"jsonrpc":"2.0","method":"$method","params":$params,"id":$id}"""

  private def call(name: String, extraArgs: String = ""): JValue = {
    val args =
      s"""{"csv_content":${JsonMethods.compact(JsonMethods.render(JString(csv)))},
         |"outcome_variable":"wage","group_variable":"group",
         |"reference_group":"A","predictors":["education"],
         |"bootstrap_reps":0$extraArgs}""".stripMargin.replaceAll("\n", "")
    val resp = McpServer.handle(spark,
      rpc("tools/call", s"""{"name":"$name","arguments":$args}""")).get
    val parsed = JsonMethods.parse(resp)
    assert((parsed \ "error") == JNothing, s"error response: $resp")
    // unwrap the MCP text-content envelope
    val text = ((parsed \ "result" \ "content")(0) \ "text").extract[String]
    JsonMethods.parse(text)
  }

  test("csv line split handles quoted commas and escaped quotes") {
    assert(McpServer.splitCsvLine("""a,b,c""") == Seq("a", "b", "c"))
    assert(McpServer.splitCsvLine("""x,"a, b",z""") == Seq("x", "a, b", "z"))
    assert(McpServer.splitCsvLine("x,\"say \"\"hi\"\"\",z") ==
      Seq("x", "say \"hi\"", "z"))
    assert(McpServer.splitCsvLine("a,,c") == Seq("a", "", "c"))
  }

  test("initialize / tools/list / ping / unknown method") {
    val init = JsonMethods.parse(
      McpServer.handle(spark, rpc("initialize", "{}")).get)
    assert((init \ "result" \ "serverInfo" \ "name").extract[String] == "graft-mcp")
    // notification gets no response
    assert(McpServer.handle(spark,
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
    val tools = JsonMethods.parse(
      McpServer.handle(spark, rpc("tools/list", "{}")).get)
    val names = (tools \ "result" \ "tools" \ "name").extract[List[String]]
    assert(names == List("forensic_decomposition", "simulate_remediation",
      "verify_adjustments", "check_defensibility", "generate_efficient_frontier"))
    assert((JsonMethods.parse(McpServer.handle(spark, rpc("ping", "{}")).get)
      \ "error") == JNothing)
    val unk = JsonMethods.parse(
      McpServer.handle(spark, rpc("no/such", "{}")).get)
    assert((unk \ "error" \ "code").extract[Int] == -32601)
  }

  test("forensic_decomposition returns the engine field layout") {
    val r = call("forensic_decomposition")
    val total = (r \ "total_gap").extract[Double]
    // group B mean (16) - group A mean (33) = -17
    assert(math.abs(total - (16.0 - 33.0)) < 1e-9)
    val expl = (r \ "explained_gap").extract[Double]
    val unex = (r \ "unexplained_gap").extract[Double]
    assert(math.abs(expl + unex - total) < 1e-9)
    assert((r \ "data_summary" \ "total_count").extract[Long] == 10L)
    assert((r \ "data_summary" \ "group_a_count").extract[Long] == 4L)
  }

  test("simulate_remediation pays gaps under the budget") {
    val r = call("simulate_remediation", ""","budget":30.0""")
    assert(math.abs((r \ "total_cost").extract[Double] - 30.0) < 1e-9)
    val adjs = (r \ "adjustments") match { case JArray(xs) => xs; case _ => Nil }
    assert(adjs.nonEmpty)
    val paid = adjs.map(a => (a \ "adjustment").extract[Double]).sum
    assert(math.abs(paid - 30.0) < 1e-9)
    assert((r \ "required_budget").extract[Double] > 30.0)
  }

  test("verify_adjustments narrows the gap; defensibility judges; frontier sweeps") {
    val v = call("verify_adjustments",
      ""","adjustments":[{"index":4,"value":10.0},{"index":5,"value":10.0}]""")
    // paying group-B rows 20 total raises its mean by 20/6
    val gap = (v \ "total_gap").extract[Double]
    assert(math.abs(gap - (16.0 + 20.0 / 6.0 - 33.0)) < 1e-9)

    // group A fits wage = 20 + education EXACTLY, so sigma^2 = 0 and the
    // PI collapses to the fair wage: row 4 (wage 10, edu 10) needs +20 to
    // reach the 30 lower bound (minus the engine's 1.0 grace)
    val d = call("check_defensibility",
      ""","adjustments":[{"index":4,"value":20.0},{"index":5,"value":2.0},
        |{"index":8,"value":200.0,"predictor_overrides":{"education":"11"}}]"""
        .stripMargin.replaceAll("\n", ""))
    val items = d match { case JArray(xs) => xs; case _ => Nil }
    assert(items.size == 3)
    assert((items(0) \ "is_defensible").extract[Boolean])
    assert(!(items(1) \ "is_defensible").extract[Boolean])
    assert((items(1) \ "defensibility_message").extract[String]
      .contains("below the defensible lower bound"))
    // a +200 overshoot is far above the upper PI bound but defensibility
    // only fails BELOW the lower bound; overrides route exercised
    assert((items(2) \ "is_defensible").extract[Boolean])

    val f = call("generate_efficient_frontier", ""","steps":5""")
    val pts = f match { case JArray(xs) => xs; case _ => Nil }
    assert(pts.size == 6) // 0..steps inclusive
    val budgets = pts.map(p => (p \ "budget").extract[Double])
    assert(budgets == budgets.sorted && budgets.head == 0.0)
  }

  test("each tool returns the same bytes twice; forensic_decomposition equals Equity.decompose") {
    val rng = new scala.util.Random(17)
    val payload = ("wage,education,dept,group" +: (0 until 300).map { i =>
      val g = if (i % 3 == 0) "A" else "B"
      val edu = 8 + rng.nextInt(10)
      val wage = 12.0 + 1.3 * edu + (if (g == "A") 2.5 else 0.0) + rng.nextGaussian()
      f"$wage%.3f,$edu,d${i % 4},$g"
    }).mkString("\n")
    val base = s"""{"csv_content":${JsonMethods.compact(JsonMethods.render(JString(payload)))},""" +
      """"outcome_variable":"wage","group_variable":"group","reference_group":"A",""" +
      """"predictors":["education"],"categorical_predictors":["dept"],"bootstrap_reps":24"""
    val adjustments = ""","adjustments":[{"index":1,"value":2.0},{"index":4,"value":1.5}]"""
    def text(tool: String, extra: String): String = {
      val resp = McpServer.handle(spark, rpc("tools/call",
        s"""{"name":"$tool","arguments":$base$extra}}""")).get
      val parsed = JsonMethods.parse(resp)
      assert((parsed \ "error") == JNothing, s"$tool: $resp")
      ((parsed \ "result" \ "content")(0) \ "text").extract[String]
    }
    for ((tool, extra) <- Seq("forensic_decomposition" -> "",
        "simulate_remediation" -> ""","budget":40.0""",
        "verify_adjustments" -> adjustments, "check_defensibility" -> adjustments,
        "generate_efficient_frontier" -> ""","steps":4"""))
      assert(text(tool, extra) == text(tool, extra), s"$tool drifted between calls")
    val direct = Equity.decompose(McpServer.csvToDf(spark, payload),
      EquityConfig("wage", "group", "A", Seq("education"), categorical = Seq("dept")),
      bootstrapReps = 24)
    assert(text("forensic_decomposition", "") ==
      JsonMethods.compact(JsonMethods.render(McpServer.decompositionJson(direct))))
  }

  test("negative bootstrap_reps and steps < 1 are rejected with a clear error") {
    def error(name: String, extraArgs: String): String = {
      val args =
        s"""{"csv_content":${JsonMethods.compact(JsonMethods.render(JString(csv)))},
           |"outcome_variable":"wage","group_variable":"group",
           |"reference_group":"A","predictors":["education"]$extraArgs}"""
          .stripMargin.replaceAll("\n", "")
      val resp = JsonMethods.parse(McpServer.handle(spark,
        rpc("tools/call", s"""{"name":"$name","arguments":$args}""")).get)
      assert((resp \ "result") == JNothing, s"$name$extraArgs succeeded")
      (resp \ "error" \ "message").extract[String]
    }
    for (tool <- Seq("forensic_decomposition", "verify_adjustments"))
      assert(error(tool, ""","bootstrap_reps":-1""") ==
        "bootstrap_reps must be >= 0, got -1")
    for (steps <- Seq(0, -3))
      assert(error("generate_efficient_frontier", s""","steps":$steps""") ==
        s"steps must be >= 1, got $steps")
  }
}
