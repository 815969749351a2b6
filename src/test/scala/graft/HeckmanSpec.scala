package graft

import graft.decompose._
import graft.estimators.{Heckman, Probit}
import graft.functions.PoissonDraw
import graft.prep.Prep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probit + Heckman selection: mirrors `math/probit.rs:174-244` and the
  * F5 DGP of `tests/heckman_test.rs:1-74`. */
class HeckmanSpec extends SparkSpec {
  import spark.implicits._

  test("probit recovers a known latent model") {
    val rng = new scala.util.Random(42)
    val n = 4000
    val rows = (0 until n).map { _ =>
      val x = rng.nextGaussian()
      val latent = 0.5 + 1.2 * x + rng.nextGaussian()
      (if (latent > 0) 1.0 else 0.0, x)
    }
    val df = Prep.withIntercept(rows.toDF("y", "x"))
    val fit = Probit.fit(df, "y", Seq(Prep.InterceptCol, "x"))
    assert(fit.converged)
    assert(math.abs(fit.beta(0) - 0.5) < 0.1, s"icept ${fit.beta(0)}")
    assert(math.abs(fit.beta(1) - 1.2) < 0.1, s"slope ${fit.beta(1)}")
    // standard errors from Fisher information are finite and small
    assert(math.sqrt(fit.vcov(1, 1)) < 0.1)
  }

  test("Heckman two-step: IMR appears and correction moves the slope (F5)") {
    val rng = new scala.util.Random(42)
    val n = 2000
    val rho = 0.8
    val rows = (0 until n).map { _ =>
      val z = rng.nextGaussian()
      val x = z + 0.5 * rng.nextGaussian()
      val u = rng.nextGaussian()
      val e = rho * u + math.sqrt(1 - rho * rho) * rng.nextGaussian()
      val s = if (0.5 * z + u > 0) 1.0 else 0.0
      val y = 1.0 + 2.0 * x + e
      val grp = if (rng.nextBoolean()) "A" else "B"
      (if (s == 1.0) Some(y) else None, x, z, s, grp)
    }
    val df = rows.toDF("outcome", "x", "z", "selection", "group")
    // direct two-step on the selected-only frame mirrors the reference's
    // post-clean behavior; here keep selection rows via a 0-filled outcome
    val filled = df.na.fill(0.0, Seq("outcome"))
    val prepared = Prep.withIntercept(filled)
    val fit = Heckman.fit(prepared.filter($"group" === "A"), "outcome",
      Seq(Prep.InterceptCol, "x"), "selection", Seq(Prep.InterceptCol, "z"))
    assert(fit.probitConverged)
    // selection eq: gamma_z ~ 0.5 (probit on true selection)
    assert(math.abs(fit.gamma(1) - 0.5) < 0.15, s"gamma ${fit.gamma(1)}")
    assert(fit.nSelected < fit.n)

    // full decomposition path: IMR present in detailed components
    val res = Oaxaca.run(df, OaxacaConfig("outcome", "group", "B",
      predictors = Seq("x"), bootstrapReps = 0,
      selectionOutcome = Some("selection"), selectionPredictors = Seq("z")))
    assert(res.names.last == "IMR")
    assert(res.detailedExplained.exists(_.name == "IMR"))
    assert(res.detailedSelection.exists(_.name == "z"))
    // two-fold identity still holds against X-mean-based total
    val explained = res.twoFold.find(_.name == "explained").get.estimate
    val unexplained = res.twoFold.find(_.name == "unexplained").get.estimate
    val total = (res.point.xaMean dot res.point.betaA) -
      (res.point.xbMean dot res.point.betaB)
    assert(math.abs(explained + unexplained - total) < 1e-9)
  }

  /** One replicate of the Heckman two-fold decomposition the long way:
    * [[Heckman.fit]] per group on a frame prepared as `Oaxaca.run`
    * prepares it, weighted by replicate `rep`'s Poisson draw (rep 0:
    * unweighted), then the group-B-reference algebra. Returns (total gap,
    * explained, unexplained, detailed selection). */
  private def heckmanPass(df: DataFrame, cfg: OaxacaConfig, rep: Int)
      : (Double, Double, Double, Seq[(String, Double)]) = {
    val selOut = cfg.selectionOutcome.get
    val modelCols = (cfg.outcome +: cfg.group +: cfg.predictors) ++
      (selOut +: cfg.selectionPredictors)
    val prepared = Prep.withIntercept(Prep.clean(df, modelCols.distinct))
    val xCols = Prep.designCols(cfg.predictors, Nil)
    val selX = Prep.InterceptCol +: cfg.selectionPredictors
    val hash = xxhash64((col(cfg.outcome) +: col(cfg.group) +:
      (xCols ++ selX).distinct.map(col)): _*)
    val (frame, wName) =
      if (rep == 0) (prepared, None)
      else (prepared.withColumn("__boot_w__",
        PoissonDraw(hash, lit(cfg.seed + rep.toLong))), Some("__boot_w__"))
    val g = col(cfg.group).cast("string")
    val dfA = frame.filter(g =!= lit(cfg.reference))
    val dfB = frame.filter(g === lit(cfg.reference))
    val fitA = Heckman.fit(dfA, cfg.outcome, xCols, selOut, selX, wName)
    val fitB = Heckman.fit(dfB, cfg.outcome, xCols, selOut, selX, wName)
    val explained = (fitA.xMeans - fitB.xMeans) dot fitB.beta
    val total = (fitA.xMeans dot fitA.beta) - (fitB.xMeans dot fitB.beta)
    val w = wName.map(col).getOrElse(lit(1.0))
    def gmean(d: DataFrame): Double = {
      val r = d.agg(sum(col(cfg.outcome) * w), sum(w)).head()
      r.getDouble(0) / r.getDouble(1)
    }
    val theta = fitB.beta(fitB.beta.length - 1)
    val sel = ("intercept" +: cfg.selectionPredictors).indices.map(i =>
      ("intercept" +: cfg.selectionPredictors)(i) -> theta * fitB.imrDelta *
        fitB.gamma(i) * (fitA.zMeans(i) - fitB.zMeans(i)))
    (gmean(dfA) - gmean(dfB), explained, total - explained, sel)
  }

  test("batched Heckman bootstrap equals the sequential path") {
    val rng = new scala.util.Random(23)
    val rows = (0 until 600).map { _ =>
      val z = rng.nextGaussian()
      val x = z + 0.5 * rng.nextGaussian()
      val u = rng.nextGaussian()
      val s = if (0.4 * z + u > 0) 1.0 else 0.0
      val y = 1.0 + 2.0 * x + 0.8 * u + 0.6 * rng.nextGaussian()
      val grp = if (rng.nextBoolean()) "A" else "B"
      (if (s == 1.0) Some(y) else None, x, z, s, grp)
    }
    val df = rows.toDF("outcome", "x", "z", "selection", "group")
    val cfg = OaxacaConfig("outcome", "group", "B", predictors = Seq("x"),
      bootstrapReps = 4, seed = 9L,
      selectionOutcome = Some("selection"), selectionPredictors = Seq("z"))
    val batched = Oaxaca.run(df, cfg)
    val point = heckmanPass(df, cfg, 0)
    val reps = (1 to cfg.bootstrapReps).flatMap(r =>
      scala.util.Try(heckmanPass(df, cfg, r)).toOption)
    // same Poisson weights + same math -> same point estimates and SEs
    // (tolerances absorb IRLS stopping-path and summation-order noise)
    assert(math.abs(batched.totalGap - point._1) < 1e-9)
    val twoFold = Seq(("explained", point._2, reps.map(_._2)),
      ("unexplained", point._3, reps.map(_._3)))
    assert(batched.twoFold.map(_.name) == twoFold.map(_._1))
    batched.twoFold.zip(twoFold).foreach { case (b, (name, est, repV)) =>
      val se = Bootstrap.stats(repV)._1
      assert(math.abs(b.estimate - est) < 1e-6, s"$name estimate")
      assert(math.abs(b.stdErr - se) < 1e-4, s"$name se b=${b.stdErr} s=$se")
    }
    assert(batched.detailedSelection.map(_.name) == point._4.map(_._1))
    batched.detailedSelection.zip(point._4).foreach { case (b, (name, v)) =>
      assert(math.abs(b.estimate - v) < 1e-6, s"sel $name")
    }
  }

  test("Heckman bootstrap reps produce finite SEs") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 800).map { _ =>
      val z = rng.nextGaussian()
      val x = z + 0.5 * rng.nextGaussian()
      val u = rng.nextGaussian()
      val s = if (0.4 * z + u > 0) 1.0 else 0.0
      val y = 1.0 + 2.0 * x + 0.8 * u + 0.6 * rng.nextGaussian()
      val grp = if (rng.nextBoolean()) "A" else "B"
      (if (s == 1.0) Some(y) else None, x, z, s, grp)
    }
    val df = rows.toDF("outcome", "x", "z", "selection", "group")
    val res = Oaxaca.run(df, OaxacaConfig("outcome", "group", "B",
      predictors = Seq("x"), bootstrapReps = 3, seed = 5L,
      selectionOutcome = Some("selection"), selectionPredictors = Seq("z")))
    val exp = res.twoFold.find(_.name == "explained").get
    assert(!exp.stdErr.isNaN && exp.stdErr > 0.0)
  }
}
