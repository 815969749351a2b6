package graft

import graft.estimators.{Akm, Matching}
import org.apache.spark.sql.functions._

/** AKM recovery DGP (F6, `tests/test_akm.rs:1-109`) and matching weight
  * invariants (F7, `tests/matching_test.rs`). */
class AkmMatchingSpec extends SparkSpec {
  import spark.implicits._

  test("AKM recovers beta within 0.05 and R2 > 0.99 (F6)") {
    val rng = new scala.util.Random(42)
    val nW = 100
    val nF = 20
    val alpha = Array.fill(nW)(rng.nextDouble() * 2 - 1)
    val psi = Array.fill(nF)(rng.nextDouble() - 0.5)
    val rows = (0 until 1000).map { _ =>
      val w = rng.nextInt(nW)
      val f = rng.nextInt(nF)
      val x = rng.nextDouble() * 10
      val y = 2.5 * x + alpha(w) + psi(f) + (rng.nextDouble() * 0.02 - 0.01)
      (f"w$w", f"f$f", x, y)
    }
    val df = rows.toDF("worker", "firm", "x", "y")
    val res = Akm.run(df, "y", "worker", "firm", Seq("x"))
    assert(math.abs(res.beta(0) - 2.5) < 0.05, s"beta ${res.beta(0)}")
    assert(res.r2 > 0.99, s"r2 ${res.r2}")
    assert(res.workerEffects.count() == nW)
    assert(res.firmEffects.count() == nF)
    // firm effects are normalized: first (sorted) firm effect is 0
    val f0 = res.firmEffects.orderBy(col("firm")).limit(1).collect()(0)
    assert(math.abs(f0.getDouble(1)) < 1e-9)
    // recovered effects correlate with the truth (up to the normalization
    // constant): check via differences from firm f0
    val psiMap = res.firmEffects.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val shift = psi(0) // f0 is "f0" after sorting: f0 < f1 < f10 < ...
    val errs = psiMap.collect { case (id, eff) =>
      math.abs(eff - (psi(id.drop(1).toInt) - shift))
    }
    assert(errs.max < 0.05, s"max psi err ${errs.max}")
  }

  test("AKM distributed path matches the driver edge-table path") {
    val rng = new scala.util.Random(7)
    val nW = 40
    val nF = 8
    val rows = (0 until 400).map { _ =>
      val w = rng.nextInt(nW)
      val f = rng.nextInt(nF)
      val x = rng.nextDouble() * 4
      val y = 1.7 * x + (w % 5) * 0.3 - (f % 3) * 0.2 + rng.nextGaussian() * 0.05
      (f"w$w", f"f$f", x, y)
    }
    val df = rows.toDF("worker", "firm", "x", "y")
    val driver = Akm.run(df, "y", "worker", "firm", Seq("x"))
    // driverEdgeCap = 0 forces the fully distributed loops on this graph
    val dist = Akm.run(df, "y", "worker", "firm", Seq("x"), driverEdgeCap = 0L)
    assert(math.abs(driver.beta(0) - dist.beta(0)) < 1e-6,
      s"beta ${driver.beta(0)} vs ${dist.beta(0)}")
    assert(math.abs(driver.r2 - dist.r2) < 1e-6, s"r2 ${driver.r2} vs ${dist.r2}")
    assert(driver.nObs == dist.nObs)
    def effMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (aD, aS) = (effMap(driver.workerEffects), effMap(dist.workerEffects))
    val (pD, pS) = (effMap(driver.firmEffects), effMap(dist.firmEffects))
    assert(aD.keySet == aS.keySet && pD.keySet == pS.keySet)
    assert(aD.keys.map(k => math.abs(aD(k) - aS(k))).max < 1e-5)
    assert(pD.keys.map(k => math.abs(pD(k) - pS(k))).max < 1e-5)
  }

  test("AKM drops null-outcome rows identically on both paths") {
    val rng = new scala.util.Random(11)
    val base = (0 until 200).map { i =>
      val w = rng.nextInt(20)
      val f = rng.nextInt(6)
      (f"w$w", f"f$f", rng.nextDouble() * 3,
        if (i % 17 == 0) None else Some(1.2 * w % 3 + f * 0.1 + rng.nextGaussian() * 0.1))
    }
    val df = base.toDF("worker", "firm", "x", "y")
    val clean = base.collect { case (w, f, x, Some(y)) => (w, f, x, y) }
      .toDF("worker", "firm", "x", "y")
    val a = Akm.run(df, "y", "worker", "firm", Seq("x"))
    val b = Akm.run(clean, "y", "worker", "firm", Seq("x"))
    assert(a.nObs == b.nObs, s"null rows leaked: ${a.nObs} vs ${b.nObs}")
    assert(math.abs(a.beta(0) - b.beta(0)) < 1e-12)
    assert(math.abs(a.r2 - b.r2) < 1e-12)
    val c = Akm.run(df, "y", "worker", "firm", Seq("x"), driverEdgeCap = 0L)
    assert(c.nObs == b.nObs)
    assert(math.abs(c.beta(0) - b.beta(0)) < 1e-6)
  }

  test("AKM drops null-CONTROL rows identically on both paths") {
    // the reference cleans rows with a null in ANY model column before
    // AKM (builder.rs:760-784) — a null control must drop the row, not
    // silently become a 0.0 observation
    val rng = new scala.util.Random(13)
    val base = (0 until 200).map { i =>
      val w = rng.nextInt(20)
      val f = rng.nextInt(6)
      (f"w$w", f"f$f",
        if (i % 13 == 0) None else Some(rng.nextDouble() * 3),
        1.2 * (w % 3) + f * 0.1 + rng.nextGaussian() * 0.1)
    }
    val df = base.toDF("worker", "firm", "x", "y")
    val clean = base.collect { case (w, f, Some(x), y) => (w, f, x, y) }
      .toDF("worker", "firm", "x", "y")
    val a = Akm.run(df, "y", "worker", "firm", Seq("x"))
    val b = Akm.run(clean, "y", "worker", "firm", Seq("x"))
    assert(a.nObs == b.nObs, s"null-control rows leaked: ${a.nObs} vs ${b.nObs}")
    assert(math.abs(a.beta(0) - b.beta(0)) < 1e-12)
    assert(math.abs(a.r2 - b.r2) < 1e-12)
    val c = Akm.run(df, "y", "worker", "firm", Seq("x"), driverEdgeCap = 0L)
    assert(c.nObs == b.nObs)
    assert(math.abs(c.beta(0) - b.beta(0)) < 1e-6)
  }

  test("AKM largest connected set drops the disconnected worker (test_akm.rs:74-108)") {
    val df = Seq(
      ("w1", "f1", 1.0, 1.0), ("w2", "f1", 2.0, 2.0), ("w3", "f2", 3.0, 3.0)
    ).toDF("worker", "firm", "x", "y")
    val kept = Akm.largestConnectedSet(df, "worker", "firm")
    val workers = kept.select("worker").collect().map(_.getString(0)).toSet
    assert(workers == Set("w1", "w2"))
  }

  test("AKM keeps a 500-edge worker-firm chain whole on both routes") {
    // w_i-f_i and w_i-f_{i+1}: a path of 501 nodes, far longer than any
    // round cap of a label-propagation loop
    val rng = new scala.util.Random(17)
    val df = (0 until 250).flatMap(i => Seq(f"w$i%03d" -> f"f$i%03d",
        f"w$i%03d" -> f"f${i + 1}%03d"))
      .map { case (w, f) => (w, f, rng.nextDouble(), rng.nextDouble()) }
      .toDF("worker", "firm", "x", "y")
    assert(Akm.largestConnectedSet(df, "worker", "firm").count() == 500)
    for (cap <- Seq(Akm.DriverEdgeCap, 0L)) {
      val res = Akm.run(df, "y", "worker", "firm", Seq("x"),
        tolerance = 1e15, driverEdgeCap = cap)
      assert(res.nObs == 500, s"cap $cap")
      assert(res.workerEffects.count() == 250 && res.firmEffects.count() == 251,
        s"cap $cap")
    }
  }

  test("AKM breaks a component-size tie to the smallest label in UTF-8 order on both routes") {
    // two 3-node components; U+FF5E sorts before U+1F600 in UTF-8 (and
    // Spark's string order), after it in UTF-16
    val smile = new String(Character.toChars(0x1F600))
    val df = Seq(("w1", "\uFF5E", 1.0), ("w2", "\uFF5E", 2.0),
        ("w3", smile, 3.0), ("w4", smile, 5.0)).toDF("worker", "firm", "y")
    val kept = Akm.largestConnectedSet(df, "worker", "firm")
      .select("worker").as[String].collect().toSet
    assert(kept == Set("w1", "w2"))
    val routes = Seq(Akm.DriverEdgeCap, 0L).map { cap =>
      Akm.run(df, "y", "worker", "firm", driverEdgeCap = cap)
        .workerEffects.select("worker").as[String].collect().toSet
    }
    assert(routes == Seq(kept, kept), s"$routes")
  }

  test("AKM normalizes firm effects to the first firm in UTF-8 order on both routes") {
    // U+FF5E < U+FF5F < U+1F600 in UTF-8 (Spark's string order); in
    // UTF-16 the surrogate pair of U+1F600 sorts first
    val firms = Seq("\uFF5E", "\uFF5F", new String(Character.toChars(0x1F600)))
    val rng = new scala.util.Random(37)
    val df = (0 until 120).map { i =>
      val w = i % 12
      val f = (i / 12 + w) % 3
      (s"w$w", firms(f), 0.2 * w + 0.7 * f + rng.nextGaussian() * 0.01)
    }.toDF("worker", "firm", "y")
    val Seq(driver, dist) = Seq(Akm.DriverEdgeCap, 0L).map { cap =>
      Akm.run(df, "y", "worker", "firm", driverEdgeCap = cap).firmEffects
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    assert(driver.keySet == firms.toSet && dist.keySet == firms.toSet)
    assert(driver(firms.head) == 0.0 && dist(firms.head) == 0.0, s"$driver vs $dist")
    assert(firms.map(f => math.abs(driver(f) - dist(f))).max < 1e-5,
      s"$driver vs $dist")
  }

  test("a driver-route AKM fit leaves no persisted RDD behind") {
    val rng = new scala.util.Random(23)
    val df = (0 until 200).map(_ => (s"w${rng.nextInt(20)}",
        s"f${rng.nextInt(5)}", rng.nextDouble(), rng.nextDouble()))
      .toDF("worker", "firm", "x", "y")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Akm.run(df, "y", "worker", "firm", Seq("x"))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("matching: weight mass invariants (F7)") {
    val rng = new scala.util.Random(9)
    // 50 treated around edu=16, 50 control: 46 around edu=12, 4 overlap at 16
    val rows = (0 until 100).map { i =>
      val treated = if (i < 50) 1.0 else 0.0
      val edu =
        if (i < 50) 16.0 + rng.nextGaussian() * 0.1
        else if (i < 54) 16.0 + rng.nextGaussian() * 0.1
        else 12.0 + rng.nextGaussian() * 0.1
      val income = 1000 * edu + rng.nextGaussian() * 100
      (i.toLong, treated, income, edu)
    }
    val df = rows.toDF("id", "treated", "income", "education")
    val out = Matching.run(df, "treated", Seq("education"), k = 1,
      Matching.Euclidean, "id")
    val w = out.select(col("id"), col("treated"), col("__match_weight__")).collect()
    assert(w.length == 100)
    // treated weights all 1
    assert(w.filter(_.getDouble(1) == 1.0).forall(_.getDouble(2) == 1.0))
    // total control weight equals number of treated (k=1: each treated
    // contributes 1/k to exactly one control)
    val cw = w.filter(_.getDouble(1) == 0.0).map(_.getDouble(2)).sum
    assert(math.abs(cw - 50.0) < 1e-9, s"control mass $cw")
    // overlap controls (ids 50..53) absorb >= 48 units
    val overlap = w.filter(r => r.getLong(0) >= 50 && r.getLong(0) < 54)
      .map(_.getDouble(2)).sum
    assert(overlap >= 48.0, s"overlap mass $overlap")
  }

  test("matching: Mahalanobis and PSM paths produce valid weights") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 120).map { i =>
      val treated = if (i % 2 == 0) 1.0 else 0.0
      val x1 = rng.nextGaussian() + treated * 0.5
      val x2 = 2.0 * x1 + rng.nextGaussian()
      (i.toLong, treated, x1, x2)
    }
    val df = rows.toDF("id", "treated", "x1", "x2")
    for (m <- Seq(Matching.Mahalanobis, Matching.Propensity)) {
      val out = Matching.run(df, "treated", Seq("x1", "x2"), k = 3, m, "id")
      val mass = out.agg(sum(col("__match_weight__"))).head().getDouble(0)
      // 60 treated * 1.0 + 60 control sharing 60 * (3 * 1/3)
      assert(math.abs(mass - 120.0) < 1e-9, s"$m mass $mass")
    }
  }

  test("matching: LSH path approximates the exact weights") {
    val rng = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      val treated = if (i % 2 == 0) 1.0 else 0.0
      (i.toLong, treated, rng.nextGaussian(), rng.nextGaussian())
    }
    val df = rows.toDF("id", "treated", "x1", "x2")
    val exact = Matching.run(df, "treated", Seq("x1", "x2"), k = 1,
      Matching.Euclidean, "id", exact = true)
    val lsh = Matching.run(df, "treated", Seq("x1", "x2"), k = 1,
      Matching.Euclidean, "id", exact = false, lshBucketLength = 2.0)
    val both = exact.select(col("id"), col("__match_weight__").as("we"))
      .join(lsh.select(col("id"), col("__match_weight__").as("wl")), "id")
    val agree = both.filter(col("we") === col("wl")).count()
    assert(agree >= 180, s"only $agree/200 weights agree")
  }

  test("AKM edge-byte estimate prices key width, not just edge count") {
    import graft.estimators.Akm
    // 2M edges of 8-char ids (16 key chars/edge, nv=1) ~ 368 MB: over
    // the 256 MB budget, so the historical 2M-edge default would have
    // blown past a quarter-GB of driver heap on boxed rows alone
    val short8 = Akm.edgeBytesEstimate(2000000L, 2000000L * 16, 1)
    assert(short8 > Akm.DriverEdgeByteBudget)
    // ~1M edges of 8-char ids ~ 184 MB: inside the budget
    assert(Akm.edgeBytesEstimate(1000000L, 1000000L * 16, 1) <
      Akm.DriverEdgeByteBudget)
    // same edge count, 200-char composite keys: ~2.6x the bytes — the
    // byte budget must dominate the edge cap for wide keys
    val wide = Akm.edgeBytesEstimate(1000000L, 1000000L * 400, 1)
    assert(wide > Akm.DriverEdgeByteBudget)
    // each extra control lane adds exactly 16 boxed bytes per edge
    assert(Akm.edgeBytesEstimate(100L, 0L, 3) -
      Akm.edgeBytesEstimate(100L, 0L, 1) == 100L * 32)
  }
}
