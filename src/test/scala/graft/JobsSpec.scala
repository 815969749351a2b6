package graft

import graft.api.McpServer
import graft.core.{Gram, InvalidArgument, Jobs, Windows}
import graft.equity.{Equity, EquityConfig, Frontier}
import graft.estimators.{Akm, Kde, Probit, Rif}
import graft.ext.{Cluster, Dedup, Embeddings, Sketches}
import graft.prep.Prep
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.json4s.{JNothing, JString}
import org.json4s.jackson.JsonMethods

/** `Jobs.par2`'s failure path, `Jobs.labeled`'s nesting,
  * `Jobs.treeReduce`'s result and job labels, the job counts of the
  * discovery passes built on it, and the registry's driver-side result
  * frames. */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def liveGraftThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-")).map(_.getName)

  test("par2 waits for the other side before rethrowing a failure") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Jobs.par2(throw new IllegalStateException("a"),
        { Thread.sleep(300); bDone.set(true); 1 })
    }
    assert(e.getMessage == "a")
    assert(bDone.get, "the helper side was still running after par2 threw")
    assert(liveGraftThreads.isEmpty, s"threads outlived par2: $liveGraftThreads")
  }

  test("par2 rethrows the first failing argument, not the first failure in time") {
    val e = intercept[RuntimeException] {
      Jobs.par2({ Thread.sleep(200); throw new RuntimeException("a") },
        throw new RuntimeException("b"))
    }
    assert(e.getMessage == "a")
    val aDone = new AtomicBoolean(false)
    val e2 = intercept[RuntimeException] {
      Jobs.par2({ Thread.sleep(200); aDone.set(true); 1 },
        throw new RuntimeException("b"))
    }
    assert(e2.getMessage == "b" && aDone.get)
    assert(Jobs.par2(1, "two") == ((1, "two")))
    assert(liveGraftThreads.isEmpty, s"threads outlived par2: $liveGraftThreads")
  }

  test("labeled restores the enclosing label; none is left after the outermost block") {
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(null)
    Jobs.labeled(spark, "outer") {
      Jobs.labeled(spark, "inner") { assert(label == "inner") }
      assert(label == "outer")
      intercept[RuntimeException] {
        Jobs.labeled(spark, "failing") { throw new RuntimeException("x") }
      }
      assert(label == "outer")
      // par2's helper thread inherits the caller's label
      assert(Jobs.par2(label, label) == (("outer", "outer")))
    }
    assert(label == null)
  }

  test("treeReduce runs its job under its label and restores the enclosing one") {
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    val rdd = sc.parallelize(1 to 100, 8)
    val labels = labelsOf {
      Jobs.labeled(spark, "outer") {
        assert(Jobs.treeReduce(rdd, "inner: reduce")(0L)(_ + _, _ + _) == 5050L)
        assert(label == "outer")
        rdd.count()
      }
    }
    assert(labels == Seq("inner: reduce", "outer"))
  }

  test("treeReduce equals a depth-2 treeAggregate on exact-integer doubles") {
    val rdd = spark.sparkContext.parallelize((1 to 2000).map(_.toDouble), 24)
    val seqOp = (b: Array[Double], x: Double) => {
      b(0) += x; b(1) += x * x; b(2) = math.max(b(2), x); b
    }
    val combOp = (a: Array[Double], b: Array[Double]) => {
      a(0) += b(0); a(1) += b(1); a(2) = math.max(a(2), b(2)); a
    }
    val got = Jobs.treeReduce(rdd, "test: reduce")(new Array[Double](3))(seqOp, combOp)
    val want = rdd.treeAggregate(new Array[Double](3))(seqOp, combOp, depth = 2)
    assert(got.toSeq == want.toSeq)
    assert(got.toSeq == Seq(2001000.0, 2668667000.0, 2000.0))
  }

  test("every single-pass aggregation outside the labeled phases carries its label") {
    val rng = new scala.util.Random(5)
    val rows = (0 until 300).map { i =>
      val edu = rng.nextInt(8).toDouble
      val g = if (i % 2 == 0) "A" else "B"
      val wage = 20.0 + 2.0 * edu - (if (g == "A") 1.5 else 0.0) + rng.nextGaussian()
      (i.toLong, wage, edu, g, if (wage > 28.0) 1.0 else 0.0,
        rng.nextInt(3).toDouble, s"w${i % 7} w${i % 11} shared", Array(
          rng.nextFloat(), rng.nextFloat(), rng.nextFloat()))
    }
    val df = Prep.withIntercept(rows.toDF(
      "id", "wage", "education", "group", "high", "w1", "text", "embedding"))
    val xCols = Seq(Prep.InterceptCol, "education")
    val lane = when(col("group") === "A", 0).otherwise(1)
    val labels = labelsOf {
      Gram.computeMulti(df, xCols,
        Seq(Gram.MultiSystem("wage", "w1"), Gram.MultiSystem("high", "w1")), lane, 2)
      Probit.fitManyGrouped(df, "high", xCols, Seq("w1"), lane, 2, maxIter = 3)
      Frontier.compute(df, EquityConfig("wage", "group", "B", Seq("education")),
        "id", steps = 4)
      Sketches.linearCountTokens(df, "text", "group")
      Sketches.bloomOf(df, "text")
      Sketches.countMinTokens(df, "text")
      Embeddings.meanAndCovariance(df, "embedding")
    }.toSet
    val want = Seq("gram: 2-lane 2-system pass", "irls: multi-system iteration pass",
      "equity: frontier sweep", "sketch: linear count", "sketch: bloom",
      "sketch: count-min", "embeddings: mean/covariance pass")
    val missing = want.filterNot(labels)
    assert(missing.isEmpty, s"missing $missing; labels seen: $labels")
  }

  /** String columns over a parallelized RDD (4 partitions): the shape
    * of a serving payload, which no optimizer rule folds into a local
    * relation. */
  private def strings(names: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq), 4),
      StructType(names.map(StructField(_, StringType, nullable = true))))

  test("groupLevels: one job, same levels as distinct + orderBy + collect") {
    // U+1F600 (a surrogate pair in UTF-16) sorts after U+FF5E in UTF-8
    // byte order, but before it in UTF-16 code-unit order
    val smile = new String(Character.toChars(0x1F600))
    val df = strings(Seq("g", "empty"), Seq(
      Seq("b", null), Seq("\uFF5E", null), Seq(smile, null), Seq(null, null),
      Seq("a", null), Seq("B", null), Seq("b", null), Seq("", null),
      Seq(smile + "x", null), Seq("a", null)))
    def old(c: String): Seq[String] =
      df.select(col(c).cast("string")).na.drop().distinct()
        .orderBy(col(c)).collect().map(_.getString(0)).toSeq
    var got = Seq.empty[String]
    val labels = labelsOf { got = Prep.groupLevels(df, "g") }
    assert(labels == Seq("prep: group levels"))
    assert(got == old("g"))
    assert(got == Seq("", "B", "a", "b", "\uFF5E", smile, smile + "x"))
    assert(Prep.groupLevels(df, "empty").isEmpty && old("empty").isEmpty)
    val both = labelsOf {
      assert(Prep.groupLevelsOf(df, Seq("g", "empty")) == Seq(old("g"), Nil))
    }
    assert(both.count(_ == "prep: group levels") == 1)
  }

  test("strictCast: one job for the check, same error for a non-numeric column") {
    val df = strings(Seq("ok", "bad"),
      Seq(Seq("1.5", "abc"), Seq("2", "3.0"), Seq(null, "4")))
    val labels = labelsOf {
      intercept[InvalidArgument] { Prep.strictCast(df, Seq("ok", "bad")) }
    }
    assert(labels == Seq("prep: strict-cast check"))
    val e = intercept[InvalidArgument] { Prep.strictCast(df, Seq("bad")) }
    assert(e.getMessage == "Column 'bad' contains non-numeric data but was " +
      "selected as a continuous variable.")
    var casted: DataFrame = null
    assert(labelsOf { casted = Prep.strictCast(df, Seq("ok")) } ==
      Seq("prep: strict-cast check"))
    assert(casted.select("ok").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq ==
      Seq(Some(1.5), Some(2.0), None))
  }

  test("Equity.optimize on a one-categorical payload: at most 2 jobs before the Gram pass") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 120).map { i =>
      val edu = 8 + rng.nextInt(10)
      val g = if (i % 3 == 0) "F" else "M"
      val wage = 30000.0 + 1500.0 * edu - (if (g == "F") 2000.0 else 0.0) +
        rng.nextInt(4000)
      Seq(wage.toString, edu.toString, g, Seq("eng", "ops", "sales")(i % 5 % 3))
    }
    val base = strings(Seq("wage", "education", "gender", "dept"), rows)
    val df = base.withColumn("id", monotonically_increasing_id())
    val cfg = EquityConfig("wage", "gender", "M", Seq("education"),
      categorical = Seq("dept"), budget = 5000.0)
    val labels = labelsOf { Equity.optimize(df, cfg, "id") ; () }
    val before = labels.takeWhile(l => !l.startsWith("gram:"))
    assert(before.size < labels.size, s"no Gram pass in $labels")
    assert(before.size <= 2, s"discovery jobs before the Gram pass: $before")
  }

  test("the grouped order-statistics front ends label every job they submit") {
    val rng = new scala.util.Random(3)
    val df = (0 until 400).map(i => (s"g${i % 2}", rng.nextDouble() * 10))
      .toDF("g", "v")
    val labels = labelsOf {
      Windows.quantilesType7Grouped(df, col("g"), col("v"), Seq(0.25, 0.5))
      Kde.silvermanGrouped(df, "v", col("g"))
      Rif.transformPerGroup(df, "v", "g", 0.5)
      ()
    }
    assert(labels.nonEmpty && labels.forall(_.nonEmpty),
      s"unlabeled jobs: $labels")
    assert(labels.map(_.takeWhile(_ != ':')).toSet ==
      Set("rank-pick", "silverman", "rif"), labels)
  }

  test("Queries.local orders rows exactly as orderBy over a parallelized RDD") {
    val smile = new String(Character.toChars(0x1F600))
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("x", DoubleType), StructField("i", IntegerType)))
    // i is unique, so the row sequences differ whenever tied rows move
    val rows = Seq[(String, java.lang.Double)](
      ("b", 1.0), (null, 2.0), ("\uFF5E", Double.NaN), (smile, -0.0),
      ("a", 0.0), ("b", null), ("B", -0.0), (null, Double.NaN), ("", 0.0),
      ("a", -1.5), ("\u00e9", 1.0), (smile + "x", null), ("a", 0.0),
      ("b", Double.NegativeInfinity), ("\uFF5E", Double.PositiveInfinity))
      .zipWithIndex.map { case ((k, x), i) => Row(k, x, i) }
    for (by <- Seq(Seq("x"), Seq("k"), Seq("k", "x"), Seq("x", "k"))) {
      val want = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        schema).orderBy(by.map(col): _*).collect().toSeq
      val got = Queries.local(spark, schema, rows, by: _*).collect().toSeq
      assert(got == want, s"sorted by $by")
    }
    assert(Queries.local(spark, schema, rows).collect().toSeq == rows)
  }

  test("the analyst registry queries label every job and collect with none") {
    val queries = Seq("q_decomp_twofold", "q_decomp_threefold",
      "q_decomp_detailed", "q_wls_decomp", "q_heckman_decomp", "q_logit",
      "q_kde").map(_ -> "lineitem") ++
      Seq("q_dedup_exact", "q_simhash_pairs").map(_ -> "documents")
    for ((q, table) <- queries) {
      var result: DataFrame = null
      val run = labelsOf { result = SparkEntry.queries(q)(spark, sf("sf0.001")) }
      assert(run.contains(s"read: $table"), s"$q: $run")
      assert(run.forall(_.nonEmpty), s"$q submitted unlabeled jobs: $run")
      var rows = Array.empty[Row]
      assert(labelsOf { rows = result.collect() }.isEmpty,
        s"$q: collecting its result ran jobs")
      assert(rows.nonEmpty, q)
    }
  }

  test("the five MCP tools label every job they submit") {
    val rng = new scala.util.Random(41)
    val csv = ("wage,education,dept,group" +: (0 until 40).map { i =>
      val g = if (i % 2 == 0) "A" else "B"
      val edu = 8 + rng.nextInt(8)
      val wage = 10.0 + edu + (if (g == "A") 3.0 else 0.0) + rng.nextGaussian()
      f"$wage%.2f,$edu,d${i % 3},$g"
    }).mkString("\n")
    val base = s""""csv_content":${JsonMethods.compact(JsonMethods.render(JString(csv)))},""" +
      """"outcome_variable":"wage","group_variable":"group","reference_group":"A",""" +
      """"predictors":["education"],"categorical_predictors":["dept"],"bootstrap_reps":5"""
    val adjustments = ""","adjustments":[{"index":1,"value":2.0},{"index":3,"value":1.5}]"""
    for ((tool, extra) <- Seq("forensic_decomposition" -> "",
        "simulate_remediation" -> ""","budget":20.0""",
        "verify_adjustments" -> adjustments, "check_defensibility" -> adjustments,
        "generate_efficient_frontier" -> ""","steps":3""")) {
      var resp = ""
      val run = labelsOf {
        resp = McpServer.handle(spark, s"""{"jsonrpc":"2.0","id":1,"method":"tools/call",""" +
          s""""params":{"name":"$tool","arguments":{$base$extra}}}""").get
      }
      assert((JsonMethods.parse(resp) \ "error") == JNothing, resp)
      assert(run.nonEmpty && run.forall(_.nonEmpty), s"$tool submitted unlabeled jobs: $run")
    }
  }

  test("exact-Jaccard calls label every job dedup:, naming the verify route and the cap") {
    val docs = Seq(
      (0L, "breaking news today alpha beta gamma delta epsilon"),
      (1L, "breaking news today alpha beta gamma delta zeta"),
      (2L, "breaking news today completely different one two"),
      (3L, "breaking news today unrelated words four five"),
      (10L, "breaking news today aaa bbb ccc"),
      (11L, "breaking news today ddd eee fff")
    ).toDF("doc_id", "text")
    for (route <- Seq(Dedup.Route.Kernel, Dedup.Route.BroadcastJoins,
        Dedup.Route.SortMerge)) {
      val run = labelsOf {
        Dedup.ngramJaccardPairsVia(docs, "doc_id", "text", 3, 0.1,
          maxShingleDf = None, candidateBudget = Some(10L), route = Some(route))
      }
      assert(run.nonEmpty && run.forall(_.startsWith("dedup: ")), s"$route: $run")
      assert(run.exists(_.startsWith(s"dedup: verify by $route (set estimate ")),
        s"$route: $run")
      // a sort-merge verify carry-shrinks the budget to its 1M floor
      val budget = if (route == Dedup.Route.SortMerge) 1000000L else 10L
      assert(run.exists(l => l.startsWith("dedup: candidates (budget cap ") &&
        l.endsWith(s", budget $budget)")), s"$route: $run")
    }
    val others = labelsOf {
      Dedup.effectiveCapFor(docs, "doc_id", "text", 3, 0.1, None, Some(10L))
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.3)
    }
    assert(others.nonEmpty && others.forall(_.startsWith("dedup: ")), others)
  }

  test("AKM fits and connected components label every job akm: or cluster: on both routes") {
    val rng = new scala.util.Random(29)
    val df = (0 until 200).map(_ => (s"w${rng.nextInt(20)}",
        s"f${rng.nextInt(5)}", rng.nextDouble(), rng.nextDouble()))
      .toDF("worker", "firm", "x", "y")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val run = labelsOf {
      for (cap <- Seq(Akm.DriverEdgeCap, 0L)) {
        Akm.run(df, "y", "worker", "firm", Seq("x"), driverEdgeCap = cap)
        Cluster.connectedComponents(pairs, driverEdgeCap = cap)
      }
    }
    assert(run.nonEmpty && run.forall(l =>
      Seq("akm: ", "cluster: ", "gram: ").exists(l.startsWith)), run)
    for (p <- Seq("akm: driver route (", "akm: distributed route (",
        "akm: connected set", "cluster: driver union-find (", "cluster: star round "))
      assert(run.exists(_.startsWith(p)), s"no $p job in $run")
  }
}
