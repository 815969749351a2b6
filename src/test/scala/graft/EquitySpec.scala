package graft

import graft.api.McpServer
import graft.core.Gram
import graft.decompose.{BudgetOptimizer, Oaxaca, OaxacaConfig}
import graft.equity._
import graft.estimators.Ols
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Budget optimizer goldens (`tests/optimize_budget_test.rs:1-71`, F4)
  * and the engine-layer invariants of F11
  * (`engine/src/analysis.rs:1155-1443`). */
class EquitySpec extends SparkSpec {
  import spark.implicits._

  private def f4 = Seq(
    (0L, 30.0, 10.0, "A"), (1L, 32.0, 12.0, "A"), (2L, 34.0, 14.0, "A"),
    (3L, 10.0, 10.0, "B"), (4L, 15.0, 10.0, "B"), (5L, 20.0, 10.0, "B"),
    (6L, 12.0, 12.0, "B"), (7L, 17.0, 12.0, "B"), (8L, 22.0, 12.0, "B")
  ).toDF("id", "wage", "education", "group")

  private def residualsB = {
    val df = Prep.withIntercept(f4)
    val xCols = Seq(Prep.InterceptCol, "education")
    val split = Prep.splitGroups(df, "group", "B")
    val lanes = Gram.computeGrouped(df, "wage", xCols, None,
      Prep.laneOf(split, "group"), 2, 0, 0L)
    val fitB = Ols.fromGram(lanes(1)(0), xCols)
    val gap = lanes(0)(0).yMean - lanes(1)(0).yMean
    (split.dfB.withColumn("residual",
      Ols.residualCol("wage", xCols, fitB.beta)), gap, lanes(1)(0).n)
  }

  test("budget optimizer: F4 goldens") {
    val (dfB, gap, nB) = residualsB
    assert(math.abs(gap - 16.0) < 1e-9)

    // budget 5, target 10 -> one adjustment of 5.0 on a -5 residual
    val a1 = BudgetOptimizer.optimize(dfB, "residual", Seq(col("id")),
      gap, nB, budget = 5.0, targetGap = 10.0)
      .select("residual", "adjustment").collect()
    assert(a1.length == 1)
    assert(math.abs(a1(0).getDouble(1) - 5.0) < 1e-9)
    assert(math.abs(a1(0).getDouble(0) + 5.0) < 1e-9)

    // budget 100, target 15 -> adjustments {5.0, 1.0}
    val a2 = BudgetOptimizer.optimize(dfB, "residual", Seq(col("id")),
      gap, nB, budget = 100.0, targetGap = 15.0)
      .select("adjustment").collect().map(_.getDouble(0)).sorted
    assert(a2.length == 2)
    assert(math.abs(a2(0) - 1.0) < 1e-9 && math.abs(a2(1) - 5.0) < 1e-9)

    // target already met -> empty
    val a3 = BudgetOptimizer.optimize(dfB, "residual", Seq(col("id")),
      gap, nB, budget = 100.0, targetGap = 20.0)
    assert(a3.count() == 0)
  }

  private def f11 = {
    // 8 distinct rows x 20 = 160 rows; wage depends on education + group
    val base = Seq(
      (50000.0, 12.0, 2.0, "M", "eng"), (52000.0, 14.0, 3.0, "M", "eng"),
      (48000.0, 12.0, 2.0, "F", "eng"), (49500.0, 14.0, 3.0, "F", "eng"),
      (61000.0, 16.0, 8.0, "M", "sales"), (63000.0, 18.0, 6.0, "M", "sales"),
      (57000.0, 16.0, 8.0, "F", "sales"), (58500.0, 18.0, 6.0, "F", "sales"))
    (0 until 20).flatMap(i => base.zipWithIndex.map { case (r, j) =>
      (i * 8L + j, r._1, r._2, r._3, r._4, r._5)
    }).toDF("id", "wage", "education", "experience", "gender", "department")
  }

  private val f11cfg = EquityConfig("wage", "gender", "M",
    predictors = Seq("education", "experience"),
    categorical = Seq("department"))

  test("optimize: new wage >= current wage, auto budget covers need (F11)") {
    val res = Equity.optimize(f11, f11cfg, "id")
    val rows = res.adjustments.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cur = r.getAs[Double]("current_wage")
      val nw = r.getAs[Double]("new_wage")
      assert(nw >= cur - 1e-9, s"new wage $nw < current $cur")
    }
    // with budget = 0 (auto), all eligible gaps are fully funded
    assert(math.abs(res.metrics.totalCost - res.metrics.requiredBudget) < 1e-3)
    // counts: 160 rows, 80 per group
    val summary = Equity.groupSummary(f11, f11cfg).collect()
    assert(summary.map(_.getAs[Long]("n")).sum == 160)
    // prediction intervals bracket the fair wage
    rows.foreach { r =>
      assert(r.getAs[Double]("fair_wage_lower_bound") <= r.getAs[Double]("fair_wage") + 1e-9)
      assert(r.getAs[Double]("fair_wage_upper_bound") >= r.getAs[Double]("fair_wage") - 1e-9)
    }
  }

  test("optimize: equitable pro-rata spends exactly the budget") {
    val res = Equity.optimize(f11,
      f11cfg.copy(strategy = AllocationStrategy.Equitable, budget = 1000.0), "id")
    assert(math.abs(res.metrics.totalCost - 1000.0) < 1e-6 ||
      res.metrics.totalCost <= res.metrics.requiredBudget + 1e-6)
    // pro-rata: each eligible pay proportional to diff
    val rows = res.adjustments.filter(col("is_eligible")).collect()
    val ratios = rows.map(r => r.getAs[Double]("adjustment") / r.getAs[Double]("diff"))
    assert(ratios.forall(r => math.abs(r - ratios.head) < 1e-9))
  }

  test("greedy full-fund fast path equals the windowed path at the boundary") {
    // budget exactly == required need routes through the fast path (no
    // prefix window); budget a hair below routes through the window —
    // the payments must agree except on the single marginal row
    val need = Equity.optimize(f11, f11cfg, "id").metrics.requiredBudget
    def pays(budget: Double): Map[Long, Double] =
      Equity.optimize(f11, f11cfg.copy(budget = budget), "id")
        .adjustments.collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("adjustment")).toMap
    val full = pays(need)            // fast path (budget >= need)
    val nearly = pays(need - 1e-6)   // windowed path
    assert(math.abs(full.values.sum - need) < 1e-9)
    assert(math.abs(nearly.values.sum - (need - 1e-6)) < 1e-9)
    // identical allocations except the one clipped marginal payment
    val diffs = full.keySet.filter(k => math.abs(full(k) - nearly(k)) > 1e-12)
    assert(diffs.size == 1, s"diffs on rows $diffs")
    assert(full(diffs.head) - nearly(diffs.head) - 1e-6 < 1e-9)
  }

  test("verify: applying the greedy adjustments closes the unexplained gap") {
    val res = Equity.optimize(f11, f11cfg, "id")
    val after = Equity.verifyAdjustments(f11,
      res.adjustments.select(col("id"), col("adjustment")), "id", "adjustment",
      f11cfg)
    val before = Oaxaca.run(f11, OaxacaConfig("wage", "gender", "M",
      Seq("education", "experience"), Seq("department"),
      refCoefficients = graft.decompose.RefCoefficients.Pooled,
      bootstrapReps = 0))
    // raises to the underpaid group shrink the (negative) gap magnitude
    assert(math.abs(after.totalGap) < math.abs(before.totalGap) + 1e-9)
  }

  test("frontier: budgets increase from 0 and p-values are valid (F11)") {
    val pts = Frontier.compute(f11, f11cfg, "id", steps = 10)
    assert(pts.size == 11)
    assert(pts.head.budget == 0.0)
    assert(pts.map(_.budget).sliding(2).forall(s => s(1) > s(0)))
    pts.foreach(p => assert(p.pValue >= 0.0 && p.pValue <= 1.0))
    // significance weakens (p rises) as payments close the gap
    assert(pts.last.pValue >= pts.head.pValue - 1e-9)
  }

  test("G1 decompose: summary counts, percentages, quantile mode (F11)") {
    val res = Equity.decompose(f11, f11cfg, bootstrapReps = 5)
    assert(res.summary.totalCount == 160)
    assert(res.summary.groupACount == 80 && res.summary.groupBCount == 80)
    // percentages of total sum to 100 in two-fold mode
    assert(math.abs(res.explainedPercentage + res.unexplainedPercentage - 100.0) < 1e-9)
    assert(res.detailedExplained.nonEmpty)
    assert(res.unexplainedStandardError.isDefined)
    // quantile mode: detailed components are empty (engine parity)
    val q = Equity.decompose(f11, f11cfg, bootstrapReps = 2,
      quantile = Some(0.5))
    assert(q.detailedExplained.isEmpty && q.detailedUnexplained.isEmpty)
    assert(math.abs(q.explainedGap + q.unexplainedGap - q.totalGap) < 1e-9)
    // three-fold mode exposes the interaction term
    val tf = Equity.decompose(f11, f11cfg, bootstrapReps = 2, threeFold = true)
    assert(tf.interactionGap.isDefined && tf.interactionPercentage.isDefined)
  }

  test("frontier: a corpus with no underpaid target rows yields the zero frontier") {
    // every target-group wage is ABOVE its fair prediction -> the greedy
    // allocation is empty, totalNeed = 0, and the sweep must fall back to
    // the safe default budget axis without dividing by zero or failing
    // on an empty payment set
    val df = Seq(
      (0L, 10.0, 1.0, "B"), (1L, 12.0, 2.0, "B"), (2L, 14.0, 3.0, "B"),
      (3L, 99.0, 1.0, "A"), (4L, 99.0, 2.0, "A"), (5L, 99.0, 3.0, "A")
    ).toDF("id", "wage", "education", "group")
    val cfg = EquityConfig("wage", "group", "B", Seq("education"))
    val pts = Frontier.compute(df, cfg, "id", steps = 3)
    assert(pts.size == 4)
    assert(pts.head.budget == 0.0)
    // with zero payments every step's statistic equals the unadjusted one
    assert(pts.map(_.tStatistic).distinct.size == 1)
  }

  test("optimizeAndVerify releases its caches and verifies on the mutated frame") {
    val df = f4
    // reference = A (the higher-paid group): B's rows sit below the fair
    // model, so the greedy allocation actually pays out
    val cfg = EquityConfig("wage", "group", "A", Seq("education"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val (opt, res) = Equity.optimizeAndVerify(df, cfg, "id")
    assert(opt.metrics.totalCost > 0.0)
    // verification ran on wage + adjustment: the new gap must shrink
    // toward zero relative to the unadjusted decomposition
    assert(math.abs(res.totalGap) < math.abs(opt.metrics.originalGap))
    // the composition must not leak persisted RDDs (annotated frame,
    // adjustment set) once it returns
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before,
      s"leaked ${after - before} persisted RDDs")
  }

  test("optimizeAndVerify's composed verify equals verifyAdjustments") {
    val df = f4
    val full = EquityConfig("wage", "group", "A", Seq("education"))
    def est(r: graft.decompose.OaxacaResults, name: String) =
      r.twoFold.find(_.name == name).get.estimate
    // a budget below the total need (96) funds only part of group B, so
    // the two groups no longer share one line and the explained/
    // unexplained split depends on the reference coefficients
    for (cfg <- Seq(full, full.copy(budget = 20.0))) {
      val (opt, composed) = Equity.optimizeAndVerify(df, cfg, "id")
      val adj = opt.adjustmentsUnsorted.filter(col("adjustment") > 1e-9)
        .select(col("id"), col("adjustment"))
      val public = Equity.verifyAdjustments(df, adj, "id", "adjustment", cfg)
      assert(math.abs(composed.totalGap - public.totalGap) < 1e-9)
      for (name <- Seq("explained", "unexplained"))
        assert(math.abs(est(composed, name) - est(public, name)) < 1e-9,
          s"budget ${cfg.budget} $name: ${est(composed, name)} vs " +
            s"${est(public, name)}")
    }
  }

  test("defensibility: funded adjustments are defensible") {
    val res = Equity.optimize(f11, f11cfg, "id")
    val out = Equity.checkDefensibility(f11,
      res.adjustments.filter(col("adjustment") > 0.0)
        .select(col("id"), col("adjustment")),
      Nil, "id", "adjustment", f11cfg)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_defensible"),
        s"row ${r.getAs[Long]("id")} not defensible: ${r.getAs[String]("defensibility_message")}")
    }
  }

  test("fitted values stay out of the generated code of the allocation and the verdicts") {
    // two payloads that differ only in their outcome values: the betas,
    // sigma^2, fair wages, budget split, prefix-sum boundaries and
    // offsets all differ between them
    def payload(shift: Int): DataFrame = {
      val rows = (0 until 240).map { i =>
        val edu = 8 + i % 9
        val exp = i * 7 % 13
        val g = if (i % 3 == 0) "F" else "M"
        val noise = ((i * 37 + shift * 53) % 101 - 50) * (40.0 + shift)
        val wage = 30000.0 + 1500.0 * edu + 800.0 * exp -
          (if (g == "F") 3000.0 else 0.0) + noise
        s"$wage,$edu,$exp,$g,${if (i % 2 == 0) "eng" else "sales"}"
      }
      McpServer.csvToDf(spark,
        ("wage,education,experience,gender,department" +: rows).mkString("\n"))
    }
    val cfg = f11cfg.copy(budget = 20000.0)
    val id = McpServer.RowId
    val adj = Seq((3L, 500.0), (10L, 1200.0), (31L, 50.0)).toDF(id, "value")
    def sources(df: DataFrame): (Seq[String], Seq[String], Seq[Double]) = {
      val res = Equity.optimize(df, cfg, id)
      assert(res.metrics.requiredBudget > cfg.budget, "the prefix-sum path must run")
      val verdicts = Equity.defensibilityVerdicts(df, adj, Nil, id, "value", cfg)
      def code(q: DataFrame): Seq[String] = {
        q.collect() // AQE's final plan holds every codegen stage
        q.queryExecution.debug.codegenToSeq().map(_._2).sorted
      }
      (code(res.adjustmentsUnsorted), code(verdicts), res.model.beta.toArray.toSeq)
    }
    val (alloc1, verd1, beta1) = sources(payload(0))
    val (alloc2, verd2, beta2) = sources(payload(1))
    assert(beta1 != beta2)
    assert(alloc1.nonEmpty && verd1.nonEmpty)
    assert(alloc1 == alloc2, "the allocation plan's generated source depends on fitted values")
    assert(verd1 == verd2, "the verdicts' generated source depends on fitted values")
  }
}
