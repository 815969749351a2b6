package graft

import graft.decompose._
import graft.estimators.QuantileReg
import graft.prep.Prep

/** Quantile regression goldens (`math/quantile_regression.rs:131-171`),
  * Machado-Mata identity (F12, `integration_test.rs:166-196`) and JMP
  * change golden (F10, `features_test.rs:38-72`). */
class MmJmpSpec extends SparkSpec {
  import spark.implicits._

  test("QR on perfectly linear data returns the exact line (tau 0.5 / 0.25)") {
    val x = Array.tabulate(20)(i => Array(1.0, i.toDouble))
    val y = x.map(r => 1.0 + 2.0 * r(1))
    for (tau <- Seq(0.5, 0.25)) {
      val b = QuantileReg.fitLocal(x, y, tau)
      assert(math.abs(b(0) - 1.0) < 1e-6, s"tau $tau icept ${b(0)}")
      assert(math.abs(b(1) - 2.0) < 1e-6, s"tau $tau slope ${b(1)}")
    }
  }

  test("QR recovers conditional quantiles under uniform noise") {
    val rng = new scala.util.Random(3)
    val n = 4000
    val x = Array.tabulate(n)(_ => Array(1.0, rng.nextDouble() * 10))
    val y = x.map(r => 1.0 + 2.0 * r(1) + rng.nextDouble()) // e ~ U(0,1)
    for (tau <- Seq(0.25, 0.5, 0.75)) {
      val b = QuantileReg.fitLocal(x, y, tau)
      assert(math.abs(b(0) - (1.0 + tau)) < 0.07, s"tau $tau icept ${b(0)}")
      assert(math.abs(b(1) - 2.0) < 0.02, s"tau $tau slope ${b(1)}")
    }
  }

  test("distributed QR matches local QR") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 1000).map(_ => {
      val xv = rng.nextDouble() * 5
      (1.0 + 2.0 * xv + rng.nextGaussian(), xv)
    })
    val df = Prep.withIntercept(rows.toDF("y", "x"))
    val dist = QuantileReg.fit(df, "y", Seq(Prep.InterceptCol, "x"), 0.5)
    val local = QuantileReg.fitLocal(
      rows.map(r => Array(1.0, r._2)).toArray, rows.map(_._1).toArray, 0.5)
    assert(math.abs(dist(0) - local(0)) < 1e-4)
    assert(math.abs(dist(1) - local(1)) < 1e-4)
  }

  test("Machado-Mata: characteristics + coefficients == gap per quantile (F12)") {
    val wage = Seq(10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0, 14.0, 24.0)
    val edu = Seq(12.0, 16.0, 14.0, 16.0, 18.0, 12.0, 16.0, 14.0, 16.0, 18.0, 15.0, 17.0)
    val gender = Seq("F", "F", "F", "F", "F", "M", "M", "M", "M", "M", "F", "M")
    val df = wage.lazyZip(edu).lazyZip(gender).toSeq.toDF("wage", "education", "gender")
    val res = MachadoMata.run(df, MmConfig("wage", "gender", "F",
      predictors = Seq("education"), quantiles = Seq(0.25, 0.5, 0.75),
      simulations = 50, bootstrapReps = 2, seed = 42L))
    for (q <- Seq("q25", "q50", "q75")) {
      val e = res.effects(q)
      assert(math.abs(e("characteristics").estimate + e("coefficients").estimate
        - e("gap").estimate) < 1e-9, s"$q identity")
      assert(!e("gap").stdErr.isNaN)
    }
    assert(res.nA == 6 && res.nB == 6)
  }

  test("Machado-Mata cap takes a deterministic partition-independent subsample") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 2000).map { i =>
      (5.0 + 0.5 * (i % 17) + rng.nextGaussian(), (i % 17).toDouble,
        if (i % 2 == 0) "A" else "B")
    }
    val df = rows.toDF("wage", "education", "gender")
    val cfg = MmConfig("wage", "gender", "B", predictors = Seq("education"),
      quantiles = Seq(0.5), simulations = 30, bootstrapReps = 0, seed = 7L,
      maxRowsPerGroup = 300)
    val r1 = MachadoMata.run(df, cfg)
    assert(r1.nA == 300 && r1.nB == 300) // the subsample path was exercised
    // the hash-ordered top-K subsample does not depend on partition layout.
    // With bootstrapReps=0 the stdErr/pValue/ci fields are NaN, so compare
    // the point estimates (NaN != NaN would fail case-class equality even
    // when the maps are bit-identical).
    val r2 = MachadoMata.run(df.repartition(13), cfg)
    assert(r1.effects.keySet == r2.effects.keySet)
    for ((q, comps) <- r1.effects; (name, c1) <- comps) {
      val c2 = r2.effects(q)(name)
      assert(java.lang.Double.compare(c1.estimate, c2.estimate) == 0,
        s"$q/$name: ${c1.estimate} vs ${c2.estimate}")
    }
  }

  test("Machado-Mata above the row cap: sampled point estimates recover " +
      "the DGP gap") {
    // DGP with a known quantile structure: wage = 2 + 0.8*edu + e,
    // group A shifted +1.5. Above the cap the point pass fits on the
    // seeded 1500-row subsample, which must still recover the gap.
    val rng = new scala.util.Random(5)
    val rows = (0 until 12000).map { i =>
      val g = if (i % 2 == 0) "A" else "B"
      val edu = 8.0 + rng.nextDouble() * 10
      val w = 2.0 + 0.8 * edu + rng.nextGaussian() +
        (if (g == "A") 1.5 else 0.0)
      (w, edu, g)
    }
    val df = rows.toDF("wage", "education", "gender")
    val sampled = MachadoMata.run(df, MmConfig("wage", "gender", "B",
      predictors = Seq("education"), quantiles = Seq(0.25, 0.5, 0.75),
      simulations = 30, bootstrapReps = 0, seed = 9L, maxRowsPerGroup = 1500))
    assert(sampled.nA == 1500, "the run must exercise the above-cap route")
    for (q <- Seq("q25", "q50", "q75")) {
      val e = sampled.effects(q)
      val gap = e("gap").estimate
      assert(math.abs(gap - 1.5) < 0.5, s"$q sampled gap $gap off the DGP value")
      assert(math.abs(e("characteristics").estimate +
        e("coefficients").estimate - gap) < 1e-9)
    }
  }

  test("JMP: raising group B wages by 5 in period 2 gives total change -5 (F10)") {
    val wage1 = Seq(10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0)
    val edu = Seq(12.0, 16.0, 14.0, 16.0, 18.0, 12.0, 16.0, 14.0, 16.0, 18.0)
    val gender = Seq("F", "F", "F", "F", "F", "M", "M", "M", "M", "M")
    val df1 = wage1.lazyZip(edu).lazyZip(gender).toSeq.toDF("wage", "education", "gender")
    val wage2 = wage1.zip(gender).map { case (w, g) => if (g == "F") w + 5.0 else w }
    val df2 = wage2.lazyZip(edu).lazyZip(gender).toSeq.toDF("wage", "education", "gender")
    val res = Jmp.run(df1, df2, OaxacaConfig("wage", "gender", "F",
      predictors = Seq("education"), bootstrapReps = 0))
    assert(math.abs(res.totalChange - (-5.0)) < 1e-4, s"change ${res.totalChange}")
    // effects sum to the total change
    assert(math.abs(res.quantityEffect + res.priceEffect + res.gapEffect
      - res.totalChange) < 1e-9)
  }
}
