package graft

import graft.core.Windows
import org.apache.spark.sql.functions._

/** Tie-dense hardening of the value-bucketed window machinery: a
  * (near-)constant ordering key collapses the boundary probe's distinct
  * set, which previously funneled every tied row into ONE bucket = one
  * window task at scale. Point/range interleaved buckets + tie-break
  * sub-bucketing must (a) keep results bit-identical and (b) actually
  * split the tie run across partitions. */
class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def naivePrefix(rows: Seq[(Long, Double, Double)],
      ascending: Boolean): Map[Long, Double] = {
    // total order: (key asc|desc, id asc); exclusive running sum of value
    val sorted =
      if (ascending) rows.sortBy(r => (r._2, r._1))
      else rows.sortBy(r => (-r._2, r._1))
    var acc = 0.0
    sorted.map { case (id, _, v) =>
      val out = id -> acc
      acc += v
      out
    }.toMap
  }

  test("constant-key prefix sum: correct AND split across >1 partition") {
    val rows = (0L until 4000L).map(i => (i, 7.5, (i % 13).toDouble))
    val df = rows.toDF("id", "key", "v")
    val got = Windows.exclusivePrefixSum(df, col("key"), ascending = false,
      Seq(col("id")), col("v"), "pfx")
      .select(col("id"), col("pfx")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = naivePrefix(rows, ascending = false)
    assert(got.size == rows.size)
    rows.foreach { case (id, _, _) =>
      assert(got(id) == want(id), s"id $id: ${got(id)} vs ${want(id)}")
    }
    // the whole point: the tie run must NOT sit in one window partition
    val effective = Windows.prefixBucketed(df, col("key"),
      ascending = false, Seq(col("id")), col("v"))
      .select(countDistinct(struct(col("__bucket__"), col("__sub__"))))
      .head().getLong(0)
    assert(effective > 1,
      s"constant key collapsed to $effective window partition(s)")
  }

  test("low-cardinality keys: prefix sums match a naive sort") {
    // tolerance, not bit-equality: bucketed prefix sums reassociate FP
    // addition across (bucket, sub) partitions by design — that was
    // already true of the pre-split bucketing for spread keys; the
    // naive reference is strictly sequential
    val rng = new scala.util.Random(17)
    for (card <- Seq(1, 2, 3, 5)) {
      val rows = (0L until 2000L).map { i =>
        (i, (rng.nextInt(card) * 3).toDouble, rng.nextDouble() * 10)
      }
      val df = rows.toDF("id", "key", "v")
      for (asc <- Seq(true, false)) {
        val got = Windows.exclusivePrefixSum(df, col("key"), asc,
          Seq(col("id")), col("v"), "pfx")
          .select(col("id"), col("pfx")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val want = naivePrefix(rows, asc)
        rows.foreach { case (id, _, _) =>
          val tol = 1e-9 * math.max(1.0, math.abs(want(id)))
          assert(math.abs(got(id) - want(id)) <= tol,
            s"card=$card asc=$asc id=$id: ${got(id)} vs ${want(id)}")
        }
      }
    }
  }

  test("prefix-sum window partitions by (bucket, sub) — plan pin") {
    val df = (0L until 500L).map(i => (i, 1.0, 1.0)).toDF("id", "key", "v")
    val out = Windows.exclusivePrefixSum(df, col("key"), ascending = false,
      Seq(col("id")), col("v"), "pfx")
    out.collect() // finalize adaptive plan
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
      val here = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      val nested = p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          windows(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          windows(q.plan)
      }.flatten
      here ++ nested
    }
    val ws = windows(out.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the prefix-sum window")
    ws.foreach { w =>
      val spec = w.partitionSpec.map(_.toString).mkString(",")
      assert(spec.contains("__bucket__") && spec.contains("__sub__"),
        s"window not (bucket, sub)-partitioned: $spec")
    }
  }

  test("valuesAtRanks: constant and tie-dense values resolve exactly") {
    // constant column: every rank answers the constant, resolved from
    // the point bucket with no sort at all
    val const = (0 until 3000).map(i => ("g", 42.25)).toDF("g", "v")
    val gotC = Windows.valuesAtRanksGrouped(const, col("g"), col("v"),
      Map("g" -> Set(0L, 1499L, 2999L)))
    assert(gotC("g") == Map(0L -> 42.25, 1499L -> 42.25, 2999L -> 42.25))

    // two heavy values + a sparse tail: ranks inside AND outside the
    // heavy runs, including the exact run edges
    val rng = new scala.util.Random(23)
    val vals = (0 until 1400).map(_ => 1.0) ++
      (0 until 1400).map(_ => 2.0) ++
      (0 until 200).map(_ => 2.0 + rng.nextDouble())
    val rows = rng.shuffle(vals).map(("g", _))
    val sortedV = rows.map(_._2).sorted.toIndexedSeq
    val wanted = Set(0L, 1399L, 1400L, 2000L, 2799L, 2800L, 2950L, 2999L)
    val got = Windows.valuesAtRanksGrouped(rows.toDF("g", "v"),
      col("g"), col("v"), Map("g" -> wanted))
    wanted.foreach { r =>
      assert(got("g")(r) == sortedV(r.toInt),
        s"rank $r: ${got("g")(r)} vs ${sortedV(r.toInt)}")
    }
  }

  test("valuesAtRanksGrouped: group-dense requests take the distributed " +
      "offsets path and match the driver route") {
    // 1. equality: the dense route (forced via maxDriverTuples) must
    // reproduce the driver-algebra route exactly, point buckets and all
    val rng = new scala.util.Random(11)
    val rows = (1 to 50).flatMap { g =>
      (0 until 40).map(_ => (s"g$g", math.floor(rng.nextDouble() * 8) / 2))
    }
    val df = rows.toDF("g", "v")
    val want = (1 to 50).map(i => s"g$i" -> Set(0L, 7L, 39L)).toMap
    val viaDriver = Windows.valuesAtRanksGrouped(df, col("g"), col("v"), want)
    val viaDense = Windows.valuesAtRanksGrouped(df, col("g"), col("v"), want,
      maxDriverTuples = 1L)
    assert(viaDense == viaDriver,
      s"dense route diverged: $viaDense vs $viaDriver")

    // 2. scale: 10^5 groups — the size the old contract REFUSED — now
    // run end to end through the distributed offsets path
    val many = spark.range(500000L)
      .select((col("id") % 100000L).cast("string").as("g"),
        floor(col("id") / 100000L).cast("double").as("v"))
    val wantMany = (0 until 100000).map(i => i.toString -> Set(2L)).toMap
    val got = Windows.valuesAtRanksGrouped(many, col("g"), col("v"),
      wantMany, maxDriverTuples = 1000L)
    assert(got.size == 100000)
    assert(got("0") == Map(2L -> 2.0) && got("99999") == Map(2L -> 2.0))
  }

  test("valuesAtRanksGrouped: the dense guard labels its jobs and " +
      "releases its checkpoints") {
    val rng = new scala.util.Random(29)
    val rows = (1 to 20).flatMap { g =>
      (0 until 30).map(_ => (s"g$g", math.floor(rng.nextDouble() * 12) / 2))
    }
    val df = rows.toDF("g", "v")
    val want = (1 to 20).map(g => s"g$g" -> Set(0L, 14L, 29L)).toMap
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var got = Map.empty[String, Map[Long, Double]]
    val labels = labelsOf {
      got = Windows.valuesAtRanksGrouped(df, col("g"), col("v"), want,
        maxDriverTuples = 1L)
    }
    assert(labels.nonEmpty && labels.forall(_.startsWith("rank-pick: ")),
      s"unlabeled or foreign jobs: $labels")
    assert(sc.getPersistentRDDs.keySet == before,
      "the dense route left persisted RDDs behind")
    val sorted = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.toIndexedSeq }
    assert(got.keySet == want.keySet)
    want.foreach { case (g, rs) =>
      assert(got(g) == rs.map(r => r -> sorted(g)(r.toInt)).toMap, g)
    }
  }

  test("signed zeros: -0.0 and 0.0 share a bucket (SQL equality, not " +
      "Double.compare)") {
    // kernel level: binarySearch orders -0.0 < 0.0; the normalization
    // must keep both zeros in the same (point) bucket so tie runs at
    // zero can't straddle a bucket boundary
    import graft.functions.BucketIndexExpr.{index, normalize}
    val b = normalize(Array(-1.0, -0.0, 1.0))
    assert(java.lang.Double.doubleToRawLongBits(b(1)) ==
      java.lang.Double.doubleToRawLongBits(0.0),
      "normalize must rewrite -0.0 boundaries to +0.0")
    assert(index(b, 0.0) == index(b, -0.0),
      "both zeros must land in the zero point bucket")
    assert(index(b, 0.0) == 3, "zero point bucket is 2*1 + 1")
    // end-to-end: a tie run mixing -0.0 and 0.0 resolves like any other
    // tie run (value-at-rank answers 0.0 for every rank in the run)
    val vals = Seq.fill(500)(-0.0) ++ Seq.fill(500)(0.0) ++
      Seq.fill(100)(1.5) ++ Seq.fill(100)(-2.5)
    val rows = new scala.util.Random(7).shuffle(vals).map(("g", _))
    val got = Windows.valuesAtRanksGrouped(rows.toDF("g", "v"),
      col("g"), col("v"), Map("g" -> Set(100L, 500L, 999L, 1150L)))
    assert(got("g")(100L) == 0.0 && got("g")(500L) == 0.0 &&
      got("g")(999L) == 0.0 && got("g")(1150L) == 1.5)
  }

  test("degenerate keys with no castable tie-break still return exact sums") {
    // tie-break is a string id: the sub probe falls back gracefully
    // (nulls from the cast) and results stay exact
    val rows = (0L until 800L).map(i => (s"id_$i", 3.0, 1.0))
    val df = rows.toDF("id", "key", "v")
    val got = Windows.exclusivePrefixSum(df, col("key"), ascending = true,
      Seq(col("id")), col("v"), "pfx")
      .select(col("id"), col("pfx")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.sortBy(_._1).zipWithIndex
      .map { case ((id, _, _), i) => id -> i.toDouble }.toMap
    rows.foreach { case (id, _, _) =>
      assert(got(id) == want(id), s"$id: ${got(id)} vs ${want(id)}")
    }
  }

  test("groupedOrderStats: exact order statistics, lanes, n = 1, n = 0 and the null group") {
    val rng = new scala.util.Random(17)
    val real = (0 until 3000).map { i =>
      (Option(s"g${i % 3}"), Option(math.floor(rng.nextDouble() * 60) / 4.0))
    }
    val rows = real ++ Seq((Option("one"), Option(2.5)),
      (Option("empty"), None), (Option("empty"), None),
      (None, Option(-1.0)), (None, Option(9.0)))
    val df = rows.toDF("g", "v")
    val taus = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
    // type-7 brackets, kde.rs floor quartile indices, rif.rs ceil indices
    def ranksOf(n: Long): Set[Long] = taus.flatMap { t =>
      val pos = (n - 1) * t
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong,
        math.max((n * t).toLong, 0L) min (n - 1),
        math.min(math.max(math.ceil(t * n).toLong - 1, 0L), n - 1))
    }.toSet
    val got = Windows.groupedOrderStats(df, col("g"), col("v"),
      Seq(count(lit(1)), max(col("v"))), "rank-pick: spec")(ranksOf)
    assert(got.keySet == Set("g0", "g1", "g2", "one", "empty", null))
    val sorted = rows.collect { case (Some(g), Some(v)) => g -> v }
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted.toIndexedSeq }
    sorted.foreach { case (g, vs) =>
      val s = got(g)
      assert(s.n == vs.size)
      assert(s.lanes == Seq(vs.size.toLong, vs.max))
      assert(s.at.keySet == ranksOf(vs.size))
      s.at.foreach { case (r, v) => assert(v == vs(r.toInt), s"$g rank $r") }
    }
    assert(got("one").at == Map(0L -> 2.5))
    assert(got("empty") == Windows.OrderStats(0L, Seq(2L, null), Map.empty))
    assert(got(null) == Windows.OrderStats(2L, Seq(2L, 9.0), Map.empty))
    // the front ends against exact references: Spark's `percentile` for
    // type-7, and the kde.rs floor-index Silverman rule on sorted arrays
    val t7 = Windows.quantilesType7Grouped(df, col("g"), col("v"), taus)
    val want = df.filter(col("g").isNotNull).groupBy(col("g"))
      .agg(expr(s"percentile(v, array(${taus.mkString("D,")}D))").as("qs"))
      .collect().collect { case r if !r.isNullAt(1) =>
        r.getString(0) -> r.getSeq[Double](1) }.toMap
    assert(t7.keySet == want.keySet)
    want.foreach { case (g, qs) =>
      taus.zip(qs).foreach { case (t, q) => assert(t7(g)._2(t) == q, s"$g $t") }
    }
    val (bws, extras) = graft.estimators.Kde.silvermanGrouped(df, "v",
      col("g"), Seq(count(lit(1))))
    assert(bws.keySet == Set("g0", "g1", "g2", "one"))
    assert(extras.keySet == got.keySet && extras(null) == Seq(2L))
    sorted.filter(_._2.size > 1).foreach { case (g, vs) =>
      val n = vs.size
      val mean = vs.sum / n
      val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / (n - 1))
      val iqr = vs((n * 0.75).toInt) - vs((n * 0.25).toInt)
      val h = 0.9 * math.min(sd, iqr / 1.34) * math.pow(n.toDouble, -0.2)
      assert(math.abs(bws(g) - h) < 1e-12 * h, s"$g: ${bws(g)} vs $h")
    }
  }
}
