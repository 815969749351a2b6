package graft

import graft.decompose._
import graft.estimators.{Kde, Logit, Rif}
import graft.prep.Prep
import org.apache.spark.sql.functions.{avg, col}

/** RIF quantile decomposition, DFL and logit: mirrors
  * `oaxaca_blinder/tests/rif_test.rs`, `features_test.rs:74-89` and the
  * statsmodels-checked golden in `math/logit.rs:126-146`. */
class QuantileSpec extends SparkSpec {
  import spark.implicits._

  test("logit matches statsmodels golden values (logit.rs)") {
    val xs = Seq(-5.0, -4.0, -3.0, -2.0, -1.0, 0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val ys = Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val df = Prep.withIntercept(ys.zip(xs).toDF("y", "x"))
    val fit = Logit.fit(df, "y", Seq(Prep.InterceptCol, "x"))
    assert(fit.converged)
    assert(math.abs(fit.beta(0) - 0.6533055) < 1e-4)
    assert(math.abs(fit.beta(1) - 1.3046124) < 1e-4)
  }

  test("logit honors max iterations") {
    val xs = Seq(-5.0, -4.0, -3.0, -2.0, -1.0, 0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val ys = Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val df = Prep.withIntercept(ys.zip(xs).toDF("y", "x"))
    val fit = Logit.fit(df, "y", Seq(Prep.InterceptCol, "x"), maxIter = 1)
    assert(!fit.converged && fit.iterations == 1)
  }

  test("RIF q90 decomposition: higher-variance group wins the upper tail") {
    val rows =
      (0 until 100).map(i => (20.0 + (i % 5), "F", 12.0 + (i % 4))) ++
      (0 until 100).map(i => (15.0 + (i % 15), "M", 12.0 + (i % 4)))
    val df = rows.toDF("wage", "group", "education")
    val res = RifDecomposer.decomposeQuantile(df,
      OaxacaConfig("wage", "group", "F", predictors = Seq("education"),
        bootstrapReps = 10), tau = 0.9)
    assert(res.totalGap > 0.0, s"q90 gap ${res.totalGap}")
    val explained = res.twoFold.find(_.name == "explained").get.estimate
    val unexplained = res.twoFold.find(_.name == "unexplained").get.estimate
    assert(math.abs(explained + unexplained - res.totalGap) < 1e-9)
  }

  test("RIF transform matches the rif.rs formula on a known vector") {
    // single group, known quantile: y = 1..9, tau = 0.5 -> q = 5 (type 7)
    val df = (1 to 9).map(i => (i.toDouble, "G")).toDF("y", "g")
    val (out, info) = Rif.transformPerGroup(df, "y", "g", 0.5)
    assert(info.size == 1)
    val gi = info.head
    assert(gi.qTau == 5.0)
    // hand-check density: bw from rif.rs (std of 1..9 = 2.7386..,
    // iqr idx ceil(.25*9)=3 -> sorted[2]=3, ceil(.75*9)=7 -> sorted[6]=7)
    val std = math.sqrt((1 to 9).map(v => math.pow(v - 5.0, 2)).sum / 8.0)
    val iqr = 7.0 - 3.0
    val spread = math.min(std, iqr / 1.34)
    val bw = 0.9 * spread * math.pow(9.0, -0.2)
    assert(math.abs(gi.bandwidth - bw) < 1e-12)
    val dens = (1 to 9).map { v =>
      val u = (5.0 - v) / bw
      math.exp(-0.5 * u * u) / math.sqrt(2 * math.Pi)
    }.sum / (9 * bw)
    assert(math.abs(gi.density - dens) < 1e-12)
    val rifs = out.select("y", "__rif__").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(rifs(3.0) - (5.0 + (0.5 - 1.0) / dens)) < 1e-9)
    assert(math.abs(rifs(9.0) - (5.0 + 0.5 / dens)) < 1e-9)
  }

  test("RIF singleton/tiny groups: passthrough and closed-form mean agree") {
    // n < 2 groups take the y-passthrough in the output column; meanRif
    // must report the same thing (qTau = the single value), NOT the
    // closed form over the floored density (which would be wildly off).
    val df = Seq((7.25, "solo"), (1.0, "big"), (2.0, "big"), (3.0, "big"),
      (4.0, "big"), (5.0, "big")).toDF("y", "g")
    val (out, info) = Rif.transformPerGroup(df, "y", "g", 0.5)
    val solo = info.find(_.level == "solo").get
    assert(solo.n == 1L)
    assert(solo.qTau == 7.25)
    assert(solo.meanRif(0.5) == 7.25) // == the passthrough group mean
    val soloOut = out.filter(col("g") === "solo")
      .select("__rif__").head().getDouble(0)
    assert(soloOut == 7.25, "n=1 passthrough changed")
    // and for a real group the closed form still equals avg(__rif__)
    val big = info.find(_.level == "big").get
    val avgRif = out.filter(col("g") === "big")
      .agg(avg(col("__rif__"))).head().getDouble(0)
    assert(math.abs(big.meanRif(0.5) - avgRif) < 1e-9,
      s"closed form ${big.meanRif(0.5)} vs avg $avgRif")
  }

  test("RIF: an all-null-outcome group falls back and passes y through") {
    val a = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(4.0)))
    val df = (a ++ Seq(("z", None), ("z", None))).toDF("g", "y")
    val (out, info) = Rif.transformPerGroup(df, "y", "g", 0.5)
    val (_, infoA) = Rif.transformPerGroup(a.toDF("g", "y"), "y", "g", 0.5)
    assert(info.map(_.level) == Seq("a", "z"))
    assert(info.head == infoA.head)
    assert(info(1) == Rif.GroupRif("z", 0L, 0.0, 1.0, 1e-8, 0L))
    val zOut = out.filter(col("g") === "z").select("__rif__").collect()
    assert(zOut.length == 2 && zOut.forall(_.isNullAt(0)))
  }

  test("RIF: rows with a null group pass y through and get no GroupRif") {
    val a = Seq((Option("a"), 1.0), (Option("a"), 2.0), (Option("a"), 4.0))
    val df = (a ++ Seq((None, 5.0), (None, 7.0))).toDF("g", "y")
    val (out, info) = Rif.transformPerGroup(df, "y", "g", 0.5)
    val (outA, infoA) = Rif.transformPerGroup(a.toDF("g", "y"), "y", "g", 0.5)
    assert(info == infoA)
    val nullOut = out.filter(col("g").isNull).select("y", "__rif__")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(nullOut == Map(5.0 -> 5.0, 7.0 -> 7.0))
    def rifs(d: org.apache.spark.sql.DataFrame) = d.filter(col("g") === "a")
      .select("y", "__rif__").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(rifs(out) == rifs(outA))
  }

  test("DFL produces 100-point grid and three densities (features_test.rs)") {
    val rng = new scala.util.Random(3)
    val rows = (0 until 500).map { i =>
      val g = if (i % 2 == 0) "M" else "F"
      val edu = 10.0 + rng.nextInt(8)
      val wage = (if (g == "M") 12.0 else 10.0) + 0.8 * edu + rng.nextGaussian()
      (wage, g, edu)
    }
    val df = rows.toDF("wage", "gender", "education")
    val res = Dfl.run(df, "wage", "gender", "F", Seq("education"))
    assert(res.grid.length == 100)
    assert(res.densityA.length == 100)
    assert(res.densityB.length == 100)
    assert(res.densityBCounterfactual.length == 100)
    // densities integrate to ~1 over the grid (step * sum)
    val step = res.grid(1) - res.grid(0)
    val massA = res.densityA.sum * step
    assert(massA > 0.8 && massA < 1.1, s"mass $massA")
    assert(res.logitConverged)
  }

  test("valuesAtRanksGrouped: exact order statistics under ties, many groups, any boundaries") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(5)
    // heavy ties: values quantized to 0.1 steps over [0, 5)
    val rows = (0 until 5000).map { i =>
      (s"g${i % 7}", math.floor(rng.nextDouble() * 50) / 10.0)
    }
    val df = rows.toDF("g", "v")
    val byG = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted.toIndexedSeq
    }
    def pick(wanted: Map[String, Set[Long]]): Map[String, Map[Long, Double]] = {
      val got = graft.core.Windows.valuesAtRanksGrouped(
        df, col("g"), col("v"), wanted)
      assert(got.keySet == wanted.keySet)
      wanted.foreach { case (g, rs) =>
        assert(got(g) == rs.map(r => r -> byG(g)(r.toInt)).toMap, g)
      }
      got
    }
    val wanted = byG.map { case (g, vs) =>
      g -> Set(0L, vs.size / 3L, vs.size - 1L)
    }
    val got = pick(wanted)
    // buckets only balance the sort: the bucket count grows with the
    // rank-set size (16 per wanted rank, at most 1024) and with
    // spark.sql.shuffle.partitions, and neither changes a value
    val wider = pick(byG.map { case (g, vs) =>
      g -> (wanted(g) ++ (0L until vs.size.toLong by 9L))
    })
    val one = byG.map { case (g, vs) => g -> Set(vs.size / 3L) }
    val few = pick(one)
    spark.conf.set("spark.sql.shuffle.partitions", "300")
    val manyPartitions = try pick(one)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    wanted.foreach { case (g, rs) =>
      assert(wider(g).filter(e => rs(e._1)) == got(g), g)
      assert(few(g) == got(g).filter(e => one(g)(e._1)), g)
      assert(manyPartitions(g) == few(g), g)
    }
  }

  test("valuesAtRanksGrouped: 200 groups x 3 ranks against sorted arrays") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(13)
    val rows = (0 until 200).flatMap { g =>
      (0 until 5 + g % 40).map(_ => (s"g$g", math.floor(rng.nextDouble() * 80) / 8.0))
    }
    val byG = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted.toIndexedSeq
    }
    val wanted = byG.map { case (g, vs) =>
      g -> Set(0L, vs.size / 2L, vs.size - 1L)
    }
    val got = graft.core.Windows.valuesAtRanksGrouped(
      rng.shuffle(rows).toDF("g", "v"), col("g"), col("v"), wanted)
    assert(got.keySet == wanted.keySet)
    wanted.foreach { case (g, rs) =>
      assert(got(g) == rs.map(r => r -> byG(g)(r.toInt)).toMap, g)
    }
  }

  test("NaN ranks last and ±Inf are values: type-7 equals Spark's exact percentile") {
    import org.apache.spark.sql.functions._
    val df = Seq(("nan", Double.NaN), ("nan", 3.0), ("nan", 5.0),
      ("inf", Double.PositiveInfinity), ("inf", 1.0), ("inf", 2.0),
      ("inf", Double.NegativeInfinity), ("inf", 2.5)).toDF("g", "v")
    val taus = Seq(0.0, 0.5, 1.0)
    val got = graft.core.Windows.quantilesType7Grouped(df, col("g"),
      col("v"), taus)
    val want = df.groupBy(col("g"))
      .agg(expr(s"percentile(v, array(${taus.mkString("D,")}D))").as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == want.keySet)
    assert(got("nan")._1 == 3L && got("inf")._1 == 5L)
    want.foreach { case (g, qs) =>
      taus.zip(qs).foreach { case (t, q) =>
        assert(java.lang.Double.compare(got(g)._2(t), q) == 0,
          s"$g tau=$t: ${got(g)._2(t)} vs $q")
      }
    }
    assert(got("nan")._2(1.0).isNaN && got("nan")._2(0.5) == 5.0)
  }

  test("a NaN outcome propagates through Silverman, RIF and DFL") {
    import org.apache.spark.sql.functions._
    // n = 3 puts the NaN (rank 2, the last) at a rank every front end asks
    // for: the Silverman q3 floor(0.75 n) and the rif.rs q75 ceil(0.75 n) - 1
    val df = Seq((Double.NaN, "F", 10.0), (3.0, "F", 12.0), (5.0, "F", 14.0),
      (4.0, "M", 10.0), (6.0, "M", 11.0), (8.0, "M", 12.0), (9.0, "M", 13.0),
      (11.0, "M", 14.0), (12.0, "M", 15.0)).toDF("wage", "gender", "education")
    val (bws, _) = Kde.silvermanGrouped(df, "wage", col("gender"))
    assert(bws("F").isNaN && !bws("M").isNaN)
    val (out, info) = Rif.transformPerGroup(df, "wage", "gender", 0.5)
    assert(info.map(i => i.level -> i.n) == Seq("F" -> 3L, "M" -> 6L))
    assert(info.head.qTau == 5.0 && info.head.bandwidth.isNaN)
    assert(out.count() == 9L)
    val res = Dfl.run(df, "wage", "gender", "F", Seq("education"))
    assert(res.grid.length == Dfl.GridSize && res.densityA.length == Dfl.GridSize)
  }

  test("quantilesType7Grouped matches the exact percentile aggregate + extra lanes") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(11)
    val rows = (0 until 4000).map(i => (s"g${i % 3}", rng.nextDouble() * 100))
    val df = rows.toDF("g", "v")
    val taus = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val got = graft.core.Windows.quantilesType7Grouped(df, col("g"), col("v"),
      taus, Seq(stddev_samp(col("v")), count(lit(1))))
    // reference: Spark's exact percentile (single-task, fine in a test)
    val want = df.groupBy(col("g"))
      .agg(expr(s"percentile(v, array(${taus.mkString("D,")}D))").as("qs"),
        stddev_samp(col("v")).as("sd"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getDouble(2), r.getLong(3))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (g, (qs, sd, n)) =>
      val (gn, gq, extras) = got(g)
      assert(gn == n)
      assert(extras(1) == n)
      assert(math.abs(extras(0).asInstanceOf[Double] - sd) < 1e-9)
      taus.zip(qs).foreach { case (t, q) =>
        assert(math.abs(gq(t) - q) < 1e-9, s"$g tau=$t: ${gq(t)} vs $q")
      }
    }
    // single-value group: every tau reports the value; n == 0 (all-null)
    // groups are omitted
    val tiny = Seq(("a", Some(7.0)), ("b", None), ("b", None))
      .toDF("g", "v")
    val gt = graft.core.Windows.quantilesType7Grouped(tiny, col("g"),
      col("v"), Seq(0.0, 0.5, 1.0))
    assert(gt.keySet == Set("a"))
    assert(gt("a")._2.values.toSet == Set(7.0))
  }

  test("KDE on grid matches a hand-computed density (kde.rs)") {
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val grid = Array(2.0)
    val bw = 1.0
    val d = Kde.onGrid(df, "v", None, grid, bw)
    val expected = Seq(1.0, 2.0, 3.0).map { x =>
      math.exp(-0.5 * (2.0 - x) * (2.0 - x)) / math.sqrt(2 * math.Pi)
    }.sum / 3.0
    assert(math.abs(d(0) - expected) < 1e-12)
  }
}
