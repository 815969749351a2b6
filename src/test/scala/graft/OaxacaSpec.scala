package graft

import graft.core._
import graft.decompose._
import graft.estimators.Ols
import graft.prep.Prep

/** Mirrors the reference's integration invariants
  * (`oaxaca_blinder/tests/integration_test.rs`, `weights_test.rs`):
  * total gap exact, explained + unexplained == gap to 1e-9 for all four
  * beta* policies, weighted vs unweighted gaps. */
class OaxacaSpec extends SparkSpec {
  import spark.implicits._

  private def sampleDf = {
    val wage = Seq(10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0,
      10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0)
    val edu = Seq(12.0, 16.0, 14.0, 16.0, 18.0, 12.0, 16.0, 14.0, 16.0, 18.0,
      12.0, 16.0, 14.0, 16.0, 18.0, 12.0, 16.0, 14.0, 16.0, 18.0)
    val gender = Seq("F", "F", "F", "F", "F", "M", "M", "M", "M", "M",
      "F", "F", "F", "F", "F", "M", "M", "M", "M", "M")
    wage.lazyZip(edu).lazyZip(gender).toSeq.toDF("wage", "education", "gender")
  }

  private def checkIdentity(cfg: OaxacaConfig): OaxacaResults = {
    val res = Oaxaca.run(sampleDf, cfg)
    assert(math.abs(res.totalGap - 10.0) < 1e-9, s"gap ${res.totalGap}")
    val explained = res.twoFold.find(_.name == "explained").get.estimate
    val unexplained = res.twoFold.find(_.name == "unexplained").get.estimate
    assert(math.abs(explained + unexplained - res.totalGap) < 1e-9)
    // three-fold identity: endow + coeff + interaction == total gap
    val tf = res.threeFold.map(_.estimate).sum
    assert(math.abs(tf - res.totalGap) < 1e-9)
    assert(res.nA == 10 && res.nB == 10)
    res
  }

  test("full run, GroupB reference") {
    checkIdentity(OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), bootstrapReps = 5))
  }

  test("full run, GroupA reference") {
    checkIdentity(OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), bootstrapReps = 5,
      refCoefficients = RefCoefficients.GroupA))
  }

  test("full run, Pooled (Neumark) reference") {
    checkIdentity(OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), bootstrapReps = 5,
      refCoefficients = RefCoefficients.Pooled))
  }

  test("full run, Cotton (Weighted) reference") {
    checkIdentity(OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), bootstrapReps = 5,
      refCoefficients = RefCoefficients.Cotton))
  }

  test("categorical predictor with Yun normalization keeps the identity") {
    val union = Seq("none", "union", "union_plus", "none", "union",
      "union_plus", "none", "union", "union_plus", "none",
      "none", "union", "union_plus", "none", "union",
      "union_plus", "none", "union", "union_plus", "none")
    val df = sampleDf.withColumn("rn",
        org.apache.spark.sql.functions.monotonically_increasing_id())
    // attach union column by position via zip on driver (20 rows, test only)
    val rows = sampleDf.collect().zip(union).map { case (r, u) =>
      (r.getDouble(0), r.getDouble(1), r.getString(2), u)
    }.toSeq
    val df2 = rows.toDF("wage", "education", "gender", "union")
    val res = Oaxaca.run(df2, OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), categorical = Seq("union"),
      normalize = Seq("union"), bootstrapReps = 5))
    assert(math.abs(res.totalGap - 10.0) < 1e-9)
    val explained = res.twoFold.find(_.name == "explained").get.estimate
    val unexplained = res.twoFold.find(_.name == "unexplained").get.estimate
    assert(math.abs(explained + unexplained - res.totalGap) < 1e-9)
    // base-category component present in detailed results
    assert(res.detailedExplained.exists(_.name == "union_none"))
  }

  test("weighted vs unweighted total gap (weights_test.rs)") {
    val df = Seq(
      (10.0, "A", 1.0, 1.0), (10.0, "A", 1.0, 1.0), (2.0, "A", 10.0, 0.0),
      (5.0, "B", 1.0, 0.0), (7.0, "B", 1.0, 1.0), (8.0, "B", 1.0, 1.0)
    ).toDF("outcome", "group", "weight", "x")
    val unw = Oaxaca.run(df, OaxacaConfig("outcome", "group", "B",
      predictors = Seq("x"), bootstrapReps = 0))
    assert(math.abs(unw.totalGap - 0.666) < 0.01)
    val w = Oaxaca.run(df, OaxacaConfig("outcome", "group", "B",
      predictors = Seq("x"), weights = Some("weight"), bootstrapReps = 0))
    assert(math.abs(w.totalGap - (-3.333)) < 0.01)
  }

  test("null handling: rows with nulls in model columns are dropped") {
    val df = Seq(
      (Some(10.0), "A", Some(12.0)), (Some(11.0), "A", Some(13.0)),
      (Some(12.0), "A", Some(14.0)), (None, "A", Some(15.0)),
      (Some(20.0), "B", Some(12.0)), (Some(21.0), "B", Some(13.0)),
      (Some(22.0), "B", Some(14.0)), (Some(23.0), "B", None)
    ).toDF("outcome", "group", "education")
    val res = Oaxaca.run(df, OaxacaConfig("outcome", "group", "B",
      predictors = Seq("education"), bootstrapReps = 0))
    assert(res.nA == 3 && res.nB == 3)
  }

  test("missing column raises ColumnNotFound") {
    val df = Seq((1.0, "A")).toDF("outcome", "group")
    assertThrows[ColumnNotFound] {
      Oaxaca.run(df, OaxacaConfig("outcome", "group", "A",
        predictors = Seq("nope"), bootstrapReps = 0))
    }
  }

  test("OLS exact fit: y = 1 + 2x has beta (1,2) and sigma2 0") {
    val df = (1 to 5).map(i => (1.0 + 2.0 * i, i.toDouble)).toDF("y", "x")
    val prepared = Prep.withIntercept(df)
    val fit = Ols.fit(prepared, "y", Seq(Prep.InterceptCol, "x"))
    assert(math.abs(fit.beta(0) - 1.0) < 1e-9)
    assert(math.abs(fit.beta(1) - 2.0) < 1e-9)
    assert(math.abs(fit.sigma2) < 1e-9)
  }

  test("bootstrap stats p-value goldens (inference.rs:36-58)") {
    // all positive -> p = 0
    val (_, p1, _) = Bootstrap.stats(Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    assert(p1 == 0.0)
    // centered on 0 -> p ~ 1
    val (_, p2, _) = Bootstrap.stats(Seq(-2.0, -1.0, 0.0, 1.0, 2.0))
    assert(math.abs(p2 - 1.0) < 1e-9)
    // 1 of 5 negative -> p = 0.4
    val (_, p3, _) = Bootstrap.stats(Seq(-1.0, 1.0, 2.0, 3.0, 4.0))
    assert(math.abs(p3 - 0.4) < 1e-9)
    // empty -> NaNs
    val (seE, pE, (loE, hiE)) = Bootstrap.stats(Nil)
    assert(seE.isNaN && pE.isNaN && loE.isNaN && hiE.isNaN)
  }

  test("VIF golden values (diagnostics.rs)") {
    val df = Seq((1.0, 2.0, 1.0), (2.0, 3.0, 5.0), (3.0, 1.0, 2.0),
      (4.0, 5.0, 4.0), (5.0, 4.0, 3.0)).toDF("x1", "x2", "x3")
    val vifs = graft.estimators.Vif.compute(df, Seq("x1", "x2", "x3")).toMap
    assert(math.abs(vifs("x1") - 1.5763546798) < 1e-6)
    assert(math.abs(vifs("x2") - 2.2413793103) < 1e-6)
    assert(math.abs(vifs("x3") - 1.5763546798) < 1e-6)
    // perfect multicollinearity -> infinity
    val dfc = Seq((1.0, 2.0, 1.0), (2.0, 4.0, 1.0), (3.0, 6.0, 2.0),
      (4.0, 8.0, 2.0), (5.0, 10.0, 3.0)).toDF("x1", "x2", "x3")
    val vc = graft.estimators.Vif.compute(dfc, Seq("x1", "x2", "x3")).toMap
    assert(vc("x1").isInfinity)
    // < 2 predictors rejected
    assertThrows[graft.core.DiagnosticError] {
      graft.estimators.Vif.compute(df, Seq("x1"))
    }
  }

  test("optimizeBudget on results mirrors D15 (types.rs)") {
    val df = Seq(
      (30.0, 10.0, "A"), (32.0, 12.0, "A"), (34.0, 14.0, "A"),
      (10.0, 10.0, "B"), (15.0, 10.0, "B"), (20.0, 10.0, "B"),
      (12.0, 12.0, "B"), (17.0, 12.0, "B"), (22.0, 12.0, "B")
    ).toDF("wage", "education", "group")
    val cfg = OaxacaConfig("wage", "group", "B",
      predictors = Seq("education"), bootstrapReps = 0)
    val res = Oaxaca.run(df, cfg)
    val adj = Oaxaca.optimizeBudget(df, cfg, res, budget = 5.0,
      targetGap = 10.0, tieBreak = Seq(org.apache.spark.sql.functions.col("wage")))
      .collect()
    assert(adj.length == 1)
    assert(math.abs(adj(0).getAs[Double]("adjustment") - 5.0) < 1e-9)
  }

  test("bootstrap SE is produced and reasonable on a bigger sample") {
    val n = 2000
    val rng = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      val g = if (i % 2 == 0) "A" else "B"
      val x = rng.nextDouble() * 10
      val y = (if (g == "A") 5.0 else 2.0) + 1.5 * x + rng.nextGaussian()
      (y, x, g)
    }
    val df = rows.toDF("y", "x", "g")
    val res = Oaxaca.run(df, OaxacaConfig("y", "g", "B",
      predictors = Seq("x"), bootstrapReps = 50, seed = 11L))
    val exp = res.twoFold.find(_.name == "explained").get
    val unexp = res.twoFold.find(_.name == "unexplained").get
    assert(exp.stdErr > 0.0 && exp.stdErr < 1.0)
    assert(unexp.stdErr > 0.0 && unexp.stdErr < 1.0)
    // unexplained ~ 3.0 gap by construction, significantly non-zero
    assert(math.abs(unexp.estimate - 3.0) < 0.5)
    assert(unexp.pValue < 0.05)
  }

  test("row-id seeding gives content-duplicate rows independent bootstrap draws") {
    import org.apache.spark.sql.functions.lit
    // 64 bit-identical rows: content keying hashes them all to ONE draw
    // per replicate, so each replicate's total weight is n * Poisson(1)
    // — always a multiple of n
    val n = 64
    val base = Seq.fill(n)((1.0, 2.0)).toDF("y", "x")
    val df = Prep.withIntercept(base)
    val reps = 30
    val xs = Seq(Prep.InterceptCol, "x")
    val content = Gram.computeGrouped(df, "y", xs, None, lit(0), 1, reps, 7L)(0)
    (1 to reps).foreach { r =>
      assert(content(r).sw % n.toDouble == 0.0,
        s"content-keyed rep $r sw=${content(r).sw} is not a shared draw") }
    // row-id keying recovers i.i.d. per-row draws: the replicate total is
    // a sum of n independent Poisson(1)s — almost surely NOT n * k
    val withId = Prep.withIntercept(Prep.withRowId(base))
    val keyed = Gram.computeGrouped(withId, "y", xs, None, lit(0), 1, reps,
      7L, seedCols = Seq(Prep.RowIdCol))(0)
    assert((1 to reps).exists(r => keyed(r).sw % n.toDouble != 0.0),
      "row-id-keyed replicates still share one draw per content class")
    // the decomposition picks the row id up automatically: identical
    // point estimate, but the bootstrap resampling (hence SE) decorrelates
    // four row patterns, each duplicated n/4 times (two per group, so
    // each group's design has x-variation and stays non-singular)
    val dupHeavy = (0 until n).map { i => i % 4 match {
      case 0 => (10.0, 1.0, "A")
      case 1 => (20.0, 2.0, "B")
      case 2 => (12.0, 3.0, "A")
      case _ => (22.0, 4.0, "B")
    }}.toDF("y", "x", "g")
    val cfg = OaxacaConfig("y", "g", "B", predictors = Seq("x"),
      bootstrapReps = 40, seed = 3L)
    val plain = Oaxaca.run(dupHeavy, cfg)
    val rid = Oaxaca.run(Prep.withRowId(dupHeavy), cfg)
    val gapP = plain.twoFold.find(_.name == "unexplained").get
    val gapR = rid.twoFold.find(_.name == "unexplained").get
    assert(math.abs(gapP.estimate - gapR.estimate) < 1e-9)
    assert(gapP.stdErr != gapR.stdErr,
      "row-id path did not change the replicate draws")
  }

  test("fused split+Gram (splitGroupsWithGram) is bit-identical to the classic sequence") {
    import org.apache.spark.sql.functions.col
    val df = sampleDf
    def classic(frame: org.apache.spark.sql.DataFrame, reps: Int) = {
      val split = Prep.splitGroups(frame, "gender", "F")
      (split, Gram.computeGrouped(frame, "wage", Seq("education"), None,
        Prep.laneOf(split, "gender"), 2, reps, 42L))
    }
    for (reps <- Seq(0, 5)) {
      val (sC, gC) = classic(df, reps)
      val (sF, gF) = Prep.splitGroupsWithGram(df, "gender", "F", "wage",
        Seq("education"), None, reps, 42L)
      assert(sF.levelA == sC.levelA && sF.levelB == sC.levelB)
      for (l <- 0 to 1; r <- 0 to reps) {
        assert(gF(l)(r).xtx == gC(l)(r).xtx, s"xtx lane $l rep $r")
        assert(gF(l)(r).xty == gC(l)(r).xty)
        assert(gF(l)(r).n == gC(l)(r).n)
        assert(gF(l)(r).sw == gC(l)(r).sw &&
          gF(l)(r).swy == gC(l)(r).swy && gF(l)(r).swyy == gC(l)(r).swyy)
      }
    }
    // >2 levels: rows of OTHER levels are excluded, levelA = first
    // sorted non-reference level — same as the classic split
    val multi = df.union(Seq((8.0, 10.0, "X"), (9.0, 11.0, "X"))
      .toDF("wage", "education", "gender"))
    val (sM, gM) = Prep.splitGroupsWithGram(multi, "gender", "F", "wage",
      Seq("education"), None, 0, 42L)
    val (sMC, gMC) = {
      val split = Prep.splitGroups(multi, "gender", "F")
      (split, Gram.computeGrouped(multi, "wage", Seq("education"), None,
        Prep.laneOf(split, "gender"), 2, 0, 42L))
    }
    assert(sM.levelA == "M" && sM.levelA == sMC.levelA)
    assert(gM(0)(0).xtx == gMC(0)(0).xtx && gM(0)(0).n == gMC(0)(0).n)
    // error semantics match splitGroups exactly
    val one = df.filter(col("gender") === "F")
    val eFused = intercept[InvalidGroupVariable](
      Prep.splitGroupsWithGram(one, "gender", "F", "wage",
        Seq("education"), None, 0, 42L))
    val eClassic = intercept[InvalidGroupVariable](
      Prep.splitGroups(one, "gender", "F"))
    assert(eFused.getMessage == eClassic.getMessage)
    val noRef = intercept[InvalidGroupVariable](
      Prep.splitGroupsWithGram(df, "gender", "Z", "wage",
        Seq("education"), None, 0, 42L))
    val noRefClassic = intercept[InvalidGroupVariable](
      Prep.splitGroups(df, "gender", "Z"))
    assert(noRef.getMessage == noRefClassic.getMessage)
    // 75 non-reference levels: the tracked set is every level, so the
    // split needs only the tracked pass and the re-run on the true lanes
    // (no level-discovery pass)
    val wide = (0 until 400).map(i =>
      (i.toDouble, (i % 7).toDouble, if (i % 4 == 0) "REF" else s"L${i % 100}"))
      .toDF("wage", "education", "gender")
    var wideRun: (Prep.GroupSplit, Array[Array[GramResult]]) = null
    val jobs = labelsOf {
      wideRun = Prep.splitGroupsWithGram(wide, "gender", "REF", "wage",
        Seq("education"), None, 0, 42L)
    }
    assert(jobs == Seq.fill(2)("gram: 2-lane 1-rep fused scan"), jobs)
    val (sW, gW) = wideRun
    val sWC = Prep.splitGroups(wide, "gender", "REF")
    val gWC = Gram.computeGrouped(wide, "wage", Seq("education"), None,
      Prep.laneOf(sWC, "gender"), 2, 0, 42L)
    for (l <- 0 until 2)
      assert(gW(l)(0).xtx == gWC(l)(0).xtx && gW(l)(0).n == gWC(l)(0).n)
    assert(sW.levelA == sWC.levelA)
    assert(gW(1)(0).n == 100L)
  }
}
