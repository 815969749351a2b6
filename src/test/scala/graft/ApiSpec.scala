package graft

import graft.api.{Export, Formula, McpServer, OaxacaBuilder}
import graft.core.InvalidGroupVariable

/** Formula grammar (`formula.rs` tests), builder API and export shapes
  * (`export_test.rs` smoke). */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  test("formula parses predictors and C()/factor() categoricals") {
    val f = Formula.parse("wage ~ education + experience + C(sector) + factor(region)")
    assert(f.outcome == "wage")
    assert(f.predictors == Seq("education", "experience"))
    assert(f.categoricalPredictors == Seq("sector", "region"))
    assertThrows[InvalidGroupVariable](Formula.parse("no tilde here"))
    assertThrows[InvalidGroupVariable](Formula.parse(" ~ x"))
    assertThrows[InvalidGroupVariable](Formula.parse("y ~ "))
  }

  private def df = Seq(
    (10.0, 12.0, "F", "A"), (12.0, 16.0, "F", "B"), (11.0, 14.0, "F", "A"),
    (13.0, 16.0, "F", "B"), (15.0, 18.0, "F", "A"), (20.0, 12.0, "M", "B"),
    (22.0, 16.0, "M", "A"), (21.0, 14.0, "M", "B"), (23.0, 16.0, "M", "A"),
    (25.0, 18.0, "M", "B")
  ).toDF("wage", "education", "gender", "sector")

  test("builder with formula reproduces the explicit-config run") {
    val viaFormula = OaxacaBuilder(df, "wage", "gender", "F")
      .formula("wage ~ education + C(sector)").bootstrapReps(0).run()
    val explicit = OaxacaBuilder(df, "wage", "gender", "F")
      .predictors("education").categoricalPredictors("sector")
      .bootstrapReps(0).run()
    assert(viaFormula.totalGap == explicit.totalGap)
    assert(viaFormula.twoFold.map(_.estimate) == explicit.twoFold.map(_.estimate))
  }

  test("export formats contain the expected sections (export_test.rs)") {
    val res = OaxacaBuilder(df, "wage", "gender", "F")
      .predictors("education").bootstrapReps(3).run()
    val json = Export.toJson(res)
    assert(json.contains("\"total_gap\""))
    assert(json.contains("\"two_fold\""))
    assert(json.contains("\"detailed_explained\""))
    // JSON must be parseable (driver-side check uses strict parsers)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(json)
    assert(math.abs(tree.get("total_gap").asDouble() - res.totalGap) < 1e-9)
    assert(tree.get("n_a").asLong() == 5L)

    val md = Export.toMarkdown(res)
    assert(md.contains("| Component |") && md.contains("| explained |"))
    val tex = Export.toLatex(res)
    assert(tex.contains("\\begin{table}") && tex.contains("Two-Fold"))
    val sum = Export.summary(res)
    assert(sum.contains("Total gap") && sum.contains("explained"))
    val html = Export.toHtml(res)
    assert(html.contains("<!DOCTYPE html>") && html.contains("Two-Fold"))
    assert(html.contains("explained"))

    // interpret()/plot() parity (python.rs:126-185)
    val text = Export.interpret(res)
    assert(text.contains("The total gap is") &&
      text.contains("explained by differences in endowments"))
    val expl = res.twoFold.find(_.name == "explained").get.estimate
    assert(text.contains(f"${expl / res.totalGap * 100.0}%.1f%%"))
    val svg = Export.toSvgBar(res)
    assert(svg.startsWith("<svg") && svg.contains("Explained") &&
      svg.contains("Unexplained") && svg.contains("<rect"))

    // zero-gap guard: interpret() must not print NaN percentages
    val zeroGap = Export.interpret(res.copy(totalGap = 0.0))
    assert(!zeroGap.contains("NaN") && zeroGap.contains("undefined"))
    // JSON-RPC percentage fields must stay valid JSON at zero gap
    import org.json4s.JsonAST.{JDouble, JNull}
    assert(McpServer.finitePct(1.0, 0.0) == JNull)
    assert(McpServer.finitePct(0.0, 0.0) == JNull)
    McpServer.finitePct(1.0, 2.0) match {
      case JDouble(v) => assert(math.abs(v - 50.0) < 1e-12)
      case other => fail(s"expected JDouble, got $other")
    }
  }

  test("CSV round-trip ingest (S1/S3) preserves the analysis") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val b = OaxacaBuilder.fromCsv(spark, dir, "wage", "gender", "F")
      .predictors("education").bootstrapReps(0)
    val res = b.run()
    assert(math.abs(res.totalGap - 10.0) < 1e-9)
  }

  test("CLI report subcommand writes the HTML report (main.rs:334-376)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/data")
    val out = s"$dir/report.html"
    graft.api.Cli.execute(Array("report",
      "--data", s"$dir/data",
      "--outcome", "wage", "--group", "gender", "--reference", "F",
      "--predictors", "education", "--categorical", "sector",
      "--bootstrap-reps", "3",
      "--output", out), spark)
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    // section assertions mirroring cli_test.rs's stdout checks, against
    // the template sections of templates/report.html
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("Oaxaca-Blinder Decomposition Report"))
    assert(html.contains("Total gap"))
    assert(html.contains("Two-Fold Decomposition"))
    assert(html.contains("Detailed (Explained)"))
    assert(html.contains("Detailed (Unexplained)"))
    assert(html.contains("explained"))
    // the categorical expands into addressable sector_B rows
    assert(html.contains("sector_B"))
  }

  test("CLI rejects a flag it does not read, naming it") {
    val e = intercept[RuntimeException](graft.api.Cli.execute(
      Array("--data", "unused.csv", "--master", "local[2]"), spark))
    assert(e.getMessage.contains("--master"))
  }

  test("CLI rejects a --quantiles list it would only partly run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_q").toString
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/data")
    val e = intercept[RuntimeException](graft.api.Cli.execute(Array(
      "--data", s"$dir/data", "--analysis-type", "quantile",
      "--outcome", "wage", "--group", "gender", "--reference", "F",
      "--predictors", "education", "--bootstrap-reps", "0",
      "--quantiles", "0.1,0.5"), spark))
    assert(e.getMessage.contains("--quantiles"))
  }
}
