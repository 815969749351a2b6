package graft

import graft.core._
import graft.decompose._
import graft.equity._
import graft.estimators._
import graft.prep.Prep
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Driver-checked query registry: every operator from SURVEY §2 exposed
  * as a (SparkSession, sfDir) => DataFrame, with a DuckDB oracle where
  * ANSI-SQL-expressible. Column names/aliases must match the oracle SQL
  * exactly; floats are rounded to 6 decimals on BOTH sides so hash
  * comparison is robust to summation-order noise. */
object Queries {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Jobs.labeled(spark, s"read: $name") {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def r6(c: Column): Column = round(c, 6)

  def r6d(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // Decomposition setup shared by the q_decomp_* queries: outcome
  // l_extendedprice, group l_linestatus (ref "F" -> group A is "O"),
  // single predictor l_quantity.
  private def decompCfg = OaxacaConfig("l_extendedprice", "l_linestatus", "F",
    predictors = Seq("l_quantity"), bootstrapReps = 0)

  /** The reference's published benchmark shape (BASELINE.md rows 1-3;
    * reference `README.md:313-317`): 100k rows x 10 numeric predictors,
    * two groups. Deterministic hash-derived columns — every value is a
    * pure function of the row id, so the frame is identical at any
    * partitioning/thread count and needs no on-disk fixture. */
  private def baselineData(s: SparkSession): DataFrame = {
    val id = col("id")
    def u(salt: Int) =
      pmod(xxhash64(lit(salt), id), lit(1000000L)).cast("double") / 1e6
    val xs = (1 to 10).map(j => u(j).as(s"x$j"))
    val grp = when(pmod(xxhash64(lit(0), id), lit(2L)) === 0, "A")
      .otherwise("B").as("grp")
    val base = s.range(100000L).select(id +: grp +: xs: _*)
    val y = (1 to 10).map(j => col(s"x$j") * lit(0.2 + 0.05 * j))
      .reduce(_ + _) +
      when(col("grp") === "A", lit(1.0)).otherwise(lit(0.0)) +
      (pmod(xxhash64(lit(99), id), lit(1000000L)).cast("double") / 1e6
        - lit(0.5)) + lit(2.0)
    base.withColumn("y", y)
  }

  /** One BASELINE.md comparison run: two-fold decomposition on the
    * 100k x 10 frame at the given replicate count (0 = raw point
    * estimate, matching the reference's "1 rep" row). */
  private def baselineDecomp(s: SparkSession, reps: Int): DataFrame = {
    val res = Oaxaca.run(baselineData(s),
      OaxacaConfig("y", "grp", "B",
        predictors = (1 to 10).map(j => s"x$j"),
        bootstrapReps = reps, seed = 7L))
    def safe(x: Double): Any =
      if (x.isNaN || x.isInfinite) null else r6d(x)
    val rows = res.twoFold.map(c =>
      Row(c.name, r6d(c.estimate), if (reps == 0) null else safe(c.stdErr)))
    local(s, StructType(Seq(
      StructField("component", StringType),
      StructField("estimate", DoubleType),
      StructField("std_err", DoubleType))), rows, "component")
  }

  // Equity-layer setup: fair model on reference group "F", target group
  // "O", single predictor l_quantity (k = 2 keeps the leverage/PI math
  // SQL-expressible for the oracle).
  private def equityCfg = EquityConfig("l_extendedprice", "l_linestatus", "F",
    predictors = Seq("l_quantity"))

  /** (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    * the equity queries assign a row id by global rank over ALL columns —
    * ties are then full duplicates, interchangeable in both engines.
    * Implemented as a range-partitioned sort + zipWithIndex (stays
    * parallel) rather than an unpartitioned row_number window (which
    * funnels the whole table through one task). Same total order as the
    * oracle's row_number CTE. (Harness-only device; the operators
    * themselves take any unique id.) */
  private def withRowIdUnpersisted(df: DataFrame): DataFrame = {
    // row_number over the total ordering == exclusive prefix COUNT + 1,
    // which the value-bucketed window helper computes with per-bucket
    // parallel sorts — fully columnar/codegen (an rdd.zipWithIndex round
    // trip through Row objects measured ~2x slower)
    val tieBreaks = Seq("l_linenumber", "l_extendedprice",
      "l_quantity", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate").map(col)
    // The persist boundary blocks Catalyst's column pruning, so project
    // BEFORE the sort: the id is a function of the 9 ordering columns
    // alone, and every equity consumer reads a subset of them — carrying
    // the other lineitem columns (l_comment above all) through the scan,
    // the range shuffle AND the cache write roughly doubled this
    // materialization's cost.
    val slim = df.select((col("l_orderkey") +: tieBreaks): _*)
    graft.core.Windows.exclusivePrefixSum(slim, col("l_orderkey"),
        ascending = true, tieBreaks, lit(1.0), "__rk__")
      .withColumn("row_id", (col("__rk__") + 1).cast(LongType)).drop("__rk__")
  }

  /** The row-id assignment is a global sort; cache it per (session, dir)
    * so the three equity queries share one materialization — and, by
    * default, persist it to disk as a BUCKETED parquet table keyed by a
    * fingerprint of the source file, making the id an INGEST artifact
    * exactly like the reference's `orig_index`
    * (`matching/engine.rs:115-118`): the sort+window is paid once per
    * data vintage, and every later session/query (or bench rep after a
    * cache sweep) re-reads a 9-column bucketed scan instead of re-paying
    * the global rank. The fingerprint (source size + mtime) is part of
    * the table path, so a driver-side fixture regeneration can never
    * serve a stale id map — it simply misses and rebuilds (SURVEY §8
    * has the measured numbers against the in-memory-only sort). */
  private val rowIdCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def liWithRowId(s: SparkSession, d: String): DataFrame =
    rowIdCache.getOrElseUpdate((System.identityHashCode(s), d), {
      val out = rowIdIngestTable(s, d).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    })

  /** Read (building on first use per data vintage) the row-id-bearing
    * bucketed lineitem projection. Bucketed by row_id so any future
    * non-broadcast join on the id is exchange-free on this side. */
  private def rowIdIngestTable(s: SparkSession, d: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$d/lineitem.parquet")
    val size = java.nio.file.Files.size(src)
    val mtime = java.nio.file.Files.getLastModifiedTime(src).toMillis
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$d:$size:$mtime".getBytes("UTF-8"))
    val digest = md.digest().take(6).map("%02x".format(_)).mkString
    val table = s"graft_rowid_$digest"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rowid_$digest"
    if (!s.catalog.tableExists(table)) {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$path/_SUCCESS"))) {
        // artifact from an earlier session: register the existing files
        // as an external bucketed table (bucket spec lives in the
        // catalog, not the files)
        val schema = s.read.parquet(path).schema
        val colsDdl = schema.fields
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        s.sql(s"""CREATE TABLE $table ($colsDdl) USING parquet
                 |CLUSTERED BY (row_id) SORTED BY (row_id) INTO 32 BUCKETS
                 |LOCATION '$path'""".stripMargin)
      } else {
        graft.sources.Bucketed.writeBucketed(
          withRowIdUnpersisted(t(s, d, "lineitem")), table, path,
          bucketCols = Seq("row_id"), numBuckets = 32)
      }
    }
    s.table(table)
  }

  /** Bench hook: drop the shared row-id materialization so every timed
    * run pays its own full cost (no cross-query state). The ext layer's
    * fitted IVF quantizer is deliberately NOT dropped here: an ANN index
    * is built once and queried many times in real use, exactly one query
    * (q_ann_ivf) reads it, and re-fitting per rep would measure
    * index-build cost instead of query cost; its cached DATA still falls
    * to the sweep's catalog.clearCache(). `QueriesExt.clearSessionCaches`
    * drops the fit too (used by tests / full teardown). */
  def clearSessionCaches(): Unit = {
    rowIdCache.values.foreach(_.unpersist(false))
    rowIdCache.clear()
  }

  private val rowIdCte =
    """base AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber,
      |    l_extendedprice, l_quantity, l_discount, l_tax, l_returnflag,
      |    l_linestatus, l_shipdate) AS BIGINT) AS row_id
      |  FROM lineitem
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- classic relational layer (SURVEY §2.6) ----
    "q_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r6(sum(col("l_quantity"))).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q_mktseg_revenue" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cust = t(s, d, "customer")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_top_orders" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), r6(col("o_totalprice")).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "q_union" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      li.filter(col("l_linestatus") === "F")
        .unionByName(li.filter(col("l_linestatus") === "O"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), r6(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("l_linestatus"))
    }),

    "q_semi_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_anti_join" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val orders = t(s, d, "orders")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- data-prep / stats layer (P1-P10, E8) ----
    "q_group_means" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(r6(avg(col("l_quantity"))).as("avg_qty"),
          r6(avg(col("l_extendedprice"))).as("avg_price"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    "q_weighted_mean" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_linestatus"))
        .agg(r6(sum(col("l_extendedprice") * col("l_quantity")) /
          sum(col("l_quantity"))).as("wmean_price"))
        .orderBy(col("l_linestatus"))),

    // P10: type-7 quantiles WITHOUT the exact `percentile` aggregate —
    // that aggregate buffers every value of the column inside ONE task's
    // aggregation buffer (OOM at 100 TB). The value-bucketed rank-pick
    // (`Windows.quantilesType7Grouped`) sorts only the few buckets whose
    // rank range is hit, never the whole column in one place.
    "q_quantile_t7" -> ((s, d) => {
      val taus = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val qs = graft.core.Windows.quantilesType7Grouped(
        t(s, d, "lineitem"), lit("_"), col("l_extendedprice"), taus)("_")._2
      val rows = taus.zipWithIndex.map { case (tau, i) =>
        Row(i + 1, r6d(qs(tau)))
      }
      local(s, StructType(Seq(
        StructField("idx", IntegerType),
        StructField("quantile", DoubleType))), rows, "idx")
    }),

    // E8 query twin: quantile_cont-convention Silverman per group via the
    // same rank-pick (sigma and count ride the stats pass as lanes —
    // one scan + one pruned rank window, no per-group value buffering)
    "q_silverman" -> ((s, d) => {
      val stats = graft.core.Windows.quantilesType7Grouped(
        t(s, d, "lineitem"), col("l_linestatus"), col("l_extendedprice"),
        Seq(0.25, 0.75),
        Seq(stddev_samp(col("l_extendedprice")), count(lit(1))))
      val rows = stats.toSeq.sortBy(_._1).map { case (g, (_, qs, extras)) =>
        val sigma = extras(0).asInstanceOf[Double]
        val n = extras(1).asInstanceOf[Long]
        val iqr = qs(0.75) - qs(0.25)
        Row(g, r6d(0.9 * math.min(sigma, iqr / 1.34) *
          math.pow(n.toDouble, -0.2)))
      }
      local(s, StructType(Seq(
        StructField("l_linestatus", StringType),
        StructField("bandwidth", DoubleType))), rows, "l_linestatus")
    }),

    "q_onehot_means" -> ((s, d) => {
      val (dummied, infos) = Prep.oneHot(t(s, d, "lineitem"), Seq("l_returnflag"))
      val aggs = infos.flatMap(_.dummyCols)
        .map(c => r6(avg(col(c))).as(s"mean_$c"))
      dummied.groupBy(col("l_linestatus"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("l_linestatus"))
    }),

    "q_total_gap" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        r6(avg(when(col("l_linestatus") === "O", col("l_extendedprice"))) -
          avg(when(col("l_linestatus") === "F", col("l_extendedprice"))))
          .as("total_gap"))),

    // ---- estimators (E1, E17) ----
    "q_ols_group" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val fits = GroupedOls.fit(li, "l_extendedprice",
        Seq(Prep.InterceptCol, "l_quantity"), "l_returnflag")
      val rows = fits.map { case (lvl, f) =>
        Row(lvl, r6d(f.beta(0)), r6d(f.beta(1)), r6d(math.sqrt(f.sigma2)))
      }
      local(s, StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("intercept", DoubleType),
        StructField("slope", DoubleType),
        StructField("resid_stddev", DoubleType))), rows, "l_returnflag")
    }),

    "q_wls_group" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val fits = GroupedOls.fit(li, "l_extendedprice",
        Seq(Prep.InterceptCol, "l_discount"), "l_linestatus", Some("l_quantity"))
      val rows = fits.map { case (lvl, f) =>
        Row(lvl, r6d(f.beta(0)), r6d(f.beta(1)))
      }
      local(s, StructType(Seq(
        StructField("l_linestatus", StringType),
        StructField("intercept", DoubleType),
        StructField("slope", DoubleType))), rows, "l_linestatus")
    }),

    "q_vif" -> ((s, d) => {
      val vifs = Vif.compute(t(s, d, "lineitem"), Seq("l_quantity", "l_discount"))
      val rows = vifs.map { case (v, x) => Row(v, r6d(x)) }
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("vif", DoubleType))), rows, "variable")
    }),

    // ---- decomposition (D1-D4, D8) ----
    "q_decomp_twofold" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"), decompCfg)
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    "q_decomp_threefold" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"), decompCfg)
      oneRow(s,
        Seq("endowments", "coefficients", "interaction"),
        Seq(res.threeFold(0).estimate, res.threeFold(1).estimate,
          res.threeFold(2).estimate))
    }),

    "q_decomp_detailed" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"), decompCfg)
      val unex = res.detailedUnexplained.map(c => c.name -> c.estimate).toMap
      val rows = res.detailedExplained.map(c =>
        Row(c.name, r6d(c.estimate), r6d(unex(c.name))))
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("explained", DoubleType),
        StructField("unexplained", DoubleType))), rows, "variable")
    }),

    "q_decomp_pooled" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        decompCfg.copy(refCoefficients = RefCoefficients.Pooled))
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    // ---- RIF / KDE / DFL / logit (E2, E7-E9, D11, D14) ----
    "q_rif" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val (_, info) = Rif.transformPerGroup(li, "l_extendedprice",
        "l_linestatus", 0.5)
      // mean(RIF) = q + (tau - count(y<=q)/n) / f is closed-form from the
      // transform's own scalars — no fourth scan for the averages
      val rows = info.map(i => Row(i.level, r6d(i.qTau), r6d(i.bandwidth),
        r6d(i.density), r6d(i.meanRif(0.5))))
      local(s, StructType(Seq(
        StructField("l_linestatus", StringType),
        StructField("q_tau", DoubleType),
        StructField("bandwidth", DoubleType),
        StructField("density", DoubleType),
        StructField("avg_rif", DoubleType))), rows, "l_linestatus")
    }),

    "q_rif_decomp" -> ((s, d) => {
      val res = RifDecomposer.decomposeQuantile(t(s, d, "lineitem"),
        decompCfg, tau = 0.5)
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    "q_kde" -> ((s, d) => {
      val grid = Array.tabulate(11)(i => i * 0.01)
      val dens = Kde.onGrid(t(s, d, "lineitem"), "l_discount", None, grid, 0.02)
      val rows = grid.indices.map(i => Row(i, r6d(grid(i)), r6d(dens(i))))
      local(s, StructType(Seq(
        StructField("idx", IntegerType),
        StructField("grid", DoubleType),
        StructField("density", DoubleType))), rows, "idx")
    }),

    // E2 with a FULL oracle: exactly 3 Newton/IRLS iterations from
    // beta = 0 — each iteration is one closed-form WLS solve, so the
    // whole fit is Cramer-expressible in ANSI SQL (the convergence-based
    // q_logit below stays rows-only).
    "q_logit_newton3" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem")
        .withColumn("is_r", when(col("l_returnflag") === "R", 1.0).otherwise(0.0)))
      val xCols = Seq(Prep.InterceptCol, "l_quantity", "l_discount")
      val fit = Logit.fit(li, "is_r", xCols, maxIter = 3, tol = 0.0)
      val rows = xCols.zipWithIndex.map { case (c, i) =>
        Row(if (c == Prep.InterceptCol) "intercept" else c, r6d(fit.beta(i)))
      }
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("coef", DoubleType))), rows, "variable")
    }),

    // no SQL oracle (IRLS): rows-only checks
    "q_logit" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem")
        .withColumn("is_r", when(col("l_returnflag") === "R", 1.0).otherwise(0.0)))
      val xCols = Seq(Prep.InterceptCol, "l_quantity", "l_discount")
      val fit = Logit.fit(li, "is_r", xCols)
      val rows = xCols.zipWithIndex.map { case (c, i) =>
        Row(if (c == Prep.InterceptCol) "intercept" else c, r6d(fit.beta(i)))
      }
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("coef", DoubleType))), rows, "variable")
    }),

    // E4 with a FULL oracle: exactly 3 Fisher-scoring iterations from
    // beta = 0 — each iteration is one ridged WLS solve on the probit
    // working response, Cramer-expressible in ANSI SQL once erf is
    // expanded inline (Cody's rational approximation, ~1e-16 relative,
    // far below the 6-decimal rounding). The convergence-based q_probit
    // below stays rows-only.
    "q_probit_newton3" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem")
        .withColumn("is_r", when(col("l_returnflag") === "R", 1.0).otherwise(0.0)))
      val xCols = Seq(Prep.InterceptCol, "l_quantity", "l_discount")
      val fit = Probit.fit(li, "is_r", xCols, maxIter = 3, tol = 0.0)
      val rows = xCols.zipWithIndex.map { case (c, i) =>
        Row(if (c == Prep.InterceptCol) "intercept" else c, r6d(fit.beta(i)))
      }
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("coef", DoubleType))), rows, "variable")
    }),

    "q_probit" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem")
        .withColumn("is_r", when(col("l_returnflag") === "R", 1.0).otherwise(0.0)))
      val xCols = Seq(Prep.InterceptCol, "l_quantity", "l_discount")
      val fit = Probit.fit(li, "is_r", xCols)
      val rows = xCols.zipWithIndex.map { case (c, i) =>
        Row(if (c == Prep.InterceptCol) "intercept" else c, r6d(fit.beta(i)),
          r6d(math.sqrt(fit.vcov(i, i))))
      }
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("coef", DoubleType),
        StructField("std_err", DoubleType))), rows, "variable")
    }),

    // E6/D7 with a FULL oracle: the selection probit pinned at 3 Fisher
    // iterations makes the whole Heckman two-step + two-fold detailed
    // decomposition closed-form — per-group 2x2 ridged probit Cramer,
    // inline-erf inverse Mills ratio on the selected rows, 3x3 OLS on
    // [1, x, IMR], then the runHeckman scalar algebra (betaStar = betaB).
    // The convergence-based q_heckman_decomp stays rows-only.
    "q_heckman_newton3" -> ((s, d) => {
      // selection depends on the selection predictor (discount) so the
      // IMR actually varies across rows: a selection rule independent of
      // z makes the IMR near-constant, the [1, x, IMR] normal matrix
      // near-singular, and the solve amplifies engine-level FP noise
      // past the 6-decimal oracle rounding
      val li = Prep.withIntercept(t(s, d, "lineitem")
        .withColumn("sel",
          when(col("l_discount") + col("l_tax") > 0.07, 1.0).otherwise(0.0)))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val selX = Seq(Prep.InterceptCol, "l_discount")
      val g = col("l_linestatus").cast("string")
      def fitOf(lvl: String) = Heckman.fit(li.filter(g === lit(lvl)),
        "l_extendedprice", xCols, "sel", selX,
        probitMaxIter = 3, probitTol = 0.0)
      // the two per-group two-step fits share nothing: overlap them
      // (each fit's own jobs/partitioning/accumulation are untouched,
      // so both betas are bit-identical to the sequential run)
      val (fa, fb) = graft.core.Jobs.par2(fitOf("O"), fitOf("F"))
      val names = Seq("intercept", "l_quantity", "imr")
      val selNames = Seq("intercept", "l_discount")
      // the runHeckman two-fold algebra with betaStar = betaB (default
      // reference side), written in the same operation order
      val detExp = names.indices.map(i =>
        (fa.xMeans(i) - fb.xMeans(i)) * fb.beta(i))
      val detUnexp = names.indices.map(i =>
        fa.xMeans(i) * (fa.beta(i) - fb.beta(i)) +
          fb.xMeans(i) * (fb.beta(i) - fb.beta(i)))
      val detSel = selNames.indices.map(i =>
        fb.beta(2) * fb.imrDelta * fb.gamma(i) * (fa.zMeans(i) - fb.zMeans(i)))
      val y = col("l_extendedprice").cast("double")
      val gm = li.groupBy(g.as("grp"))
        .agg(sum(y * lit(1.0)).as("sy"), sum(lit(1.0)).as("sw")).collect()
        .map(r => r.getString(0) -> r.getDouble(1) / r.getDouble(2)).toMap
      val metrics: Seq[(String, Double)] =
        selNames.indices.map(i => s"gamma_a_${selNames(i)}" -> fa.gamma(i)) ++
        selNames.indices.map(i => s"gamma_b_${selNames(i)}" -> fb.gamma(i)) ++
        names.indices.map(i => s"beta_a_${names(i)}" -> fa.beta(i)) ++
        names.indices.map(i => s"beta_b_${names(i)}" -> fb.beta(i)) ++
        names.indices.map(i => s"exp_${names(i)}" -> detExp(i)) ++
        names.indices.map(i => s"unexp_${names(i)}" -> detUnexp(i)) ++
        selNames.indices.map(i => s"sel_${selNames(i)}" -> detSel(i)) :+
        ("total_gap" -> (gm("O") - gm("F")))
      val rows = metrics.map { case (m, v) => Row(m, r6d(v)) }
      local(s, StructType(Seq(
        StructField("metric", StringType),
        StructField("value", DoubleType))), rows, "metric")
    }),

    "q_heckman_decomp" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("sel", when(col("l_tax") > 0.03, 1.0).otherwise(0.0))
      val res = Oaxaca.run(li, OaxacaConfig("l_extendedprice", "l_linestatus",
        "F", predictors = Seq("l_quantity"), bootstrapReps = 0,
        selectionOutcome = Some("sel"),
        selectionPredictors = Seq("l_discount")))
      val unex = res.detailedUnexplained.map(c => c.name -> c.estimate).toMap
      val rows = res.detailedExplained.map(c =>
        Row(c.name, r6d(c.estimate), r6d(unex(c.name))))
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("explained", DoubleType),
        StructField("unexplained", DoubleType))), rows, "variable")
    }),

    "q_dfl" -> ((s, d) => {
      val res = Dfl.run(t(s, d, "lineitem"), "l_extendedprice",
        "l_linestatus", "F", Seq("l_quantity", "l_returnflag"))
      val rows = res.grid.indices.map(i => Row(i, r6d(res.grid(i)),
        r6d(res.densityA(i)), r6d(res.densityB(i)),
        r6d(res.densityBCounterfactual(i))))
      local(s, StructType(Seq(
        StructField("idx", IntegerType),
        StructField("grid", DoubleType),
        StructField("density_a", DoubleType),
        StructField("density_b", DoubleType),
        StructField("density_b_cf", DoubleType))), rows, "idx")
    }),

    // D14 with a FULL oracle: 3 pinned logit iterations make the whole
    // DFL pipeline (reweighting logit -> psi weights -> per-group
    // Silverman -> three grid KDEs) deterministic closed-form SQL.
    // Outcome l_discount keeps density values O(10), so 6-decimal
    // rounding retains real precision (l_extendedprice densities are
    // ~1e-5 and would round to noise). The convergence-based q_dfl
    // stays rows-only.
    "q_dfl_newton3" -> ((s, d) => {
      val res = Dfl.run(t(s, d, "lineitem"), "l_discount",
        "l_linestatus", "F", Seq("l_quantity", "l_tax"),
        logitMaxIter = 3, logitTol = 0.0)
      val rows = res.grid.indices.map(i => Row(i, r6d(res.grid(i)),
        r6d(res.densityA(i)), r6d(res.densityB(i)),
        r6d(res.densityBCounterfactual(i))))
      local(s, StructType(Seq(
        StructField("idx", IntegerType),
        StructField("grid", DoubleType),
        StructField("density_a", DoubleType),
        StructField("density_b", DoubleType),
        StructField("density_b_cf", DoubleType))), rows, "idx")
    }),

    // ---- quantile decomposition + JMP (E5, D12, D13) ----
    "q_jmp" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val p1 = li.filter(year(col("l_shipdate")) <= 1997)
      val p2 = li.filter(year(col("l_shipdate")) > 1997)
      val res = Jmp.run(p1, p2, decompCfg)
      oneRow(s,
        Seq("total_change", "quantity_effect", "price_effect", "gap_effect"),
        Seq(res.totalChange, res.quantityEffect, res.priceEffect, res.gapEffect))
    }),

    // E5 with a FULL oracle: OLS start (no subsample warm start) + 3
    // pinned IRLS iterations on the smoothed pinball loss — every step
    // is a 2x2 weighted solve (trace-scaled ridge), Cramer-expressible.
    // Median tau only: the IRLS weight's tau/(1-tau) sign split makes
    // asymmetric taus chaotically sensitive to sub-ulp residual
    // differences near r = 0 (observed 1e-8-relative divergence); at
    // tau = 0.5 the weight is continuous in r and the engines agree
    // bit-stable. The convergence-based q_quantreg (3 taus) stays
    // rows-only.
    "q_quantreg_newton3" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val taus = Seq(0.5)
      val betas = QuantileReg.fitMany(li, "l_extendedprice", xCols, taus,
        maxIter = 3, tol = 0.0, warmStart = false, objRtol = 0.0)
      val rows = taus.zip(betas).map { case (tau, b) =>
        Row(tau, r6d(b(0)), r6d(b(1)))
      }
      local(s, StructType(Seq(
        StructField("tau", DoubleType),
        StructField("intercept", DoubleType),
        StructField("slope", DoubleType))), rows, "tau")
    }),

    "q_quantreg" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val taus = Seq(0.25, 0.5, 0.75)
      // default convergence: relative beta step + objective stagnation.
      // On this data the slope is weakly identified (the pinball loss is
      // flat along it), so beta steps chatter at ~1e-3 relative forever
      // while 40 scans move the loss by < 3e-4 total — the objective
      // test is what fires, a handful of scans past the warm start.
      // maxIter = 30 stays as a backstop only.
      val betas = QuantileReg.fitMany(li, "l_extendedprice", xCols, taus,
        maxIter = 30)
      val rows = taus.zip(betas).map { case (tau, b) =>
        Row(tau, r6d(b(0)), r6d(b(1)))
      }
      local(s, StructType(Seq(
        StructField("tau", DoubleType),
        StructField("intercept", DoubleType),
        StructField("slope", DoubleType))), rows, "tau")
    }),

    "q_mm_quantile" -> ((s, d) => {
      val res = MachadoMata.run(t(s, d, "lineitem"),
        MmConfig("l_extendedprice", "l_linestatus", "F",
          predictors = Seq("l_quantity"), quantiles = Seq(0.25, 0.5, 0.75),
          simulations = 100, bootstrapReps = 0, seed = 42L,
          maxRowsPerGroup = 20000))
      val rows = res.effects.toSeq.sortBy(_._1).map { case (k, e) =>
        Row(k, r6d(e("gap").estimate), r6d(e("characteristics").estimate),
          r6d(e("coefficients").estimate))
      }
      local(s, StructType(Seq(
        StructField("quantile", StringType),
        StructField("gap", DoubleType),
        StructField("characteristics", DoubleType),
        StructField("coefficients", DoubleType))), rows, "quantile")
    }),

    // D12 with a FULL oracle: the Machado-Mata skeleton (group split,
    // per-group QR fit, counterfactual AB prediction, P11 lower-bound
    // empirical quantiles of the predicted distributions) made
    // deterministic closed-form: ONE pinned tau (0.5 — the tau whose
    // IRLS weight is continuous in the residual; asymmetric taus'
    // weight jump at r = 0 is chaotically engine-sensitive, see
    // q_quantreg_newton3), 3 pinned IRLS iterations per group from the
    // OLS start, and the predicted distributions evaluated over ALL
    // rows (the simulations -> infinity limit of MM's random row
    // draws). q_mm_quantile stays the at-scale rows-only twin with
    // random taus/draws. Reference: quantile_decomposition.rs:173-279.
    "q_mm_newton3" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val yCol = "l_extendedprice"
      val a = li.filter(col("l_linestatus") === "F")
      val b = li.filter(col("l_linestatus") === "O")
      def pinnedBeta(g: DataFrame) =
        QuantileReg.fitMany(g, yCol, xCols, Seq(0.5), maxIter = 3,
          tol = 0.0, warmStart = false, objRtol = 0.0).head
      val bA = pinnedBeta(a)
      val bB = pinnedBeta(b)
      val preds = a.select(lit("AA").as("__pool__"),
          Ols.predictionCol(xCols, bA).as("__v__"))
        .unionByName(a.select(lit("AB").as("__pool__"),
          Ols.predictionCol(xCols, bB).as("__v__")))
        .unionByName(b.select(lit("BB").as("__pool__"),
          Ols.predictionCol(xCols, bB).as("__v__")))
      val qs = Seq(0.1, 0.5, 0.9)
      def rankOf(n: Long, q: Double): Long =
        math.min(math.floor(n * q).toLong, n - 1)
      // each pool's n is its non-null prediction count: AA and AB have
      // group A's rows, BB group B's
      val got = Windows.groupedOrderStats(preds, col("__pool__"),
        col("__v__"), Nil, "rank-pick: mm pooled predictions") { n =>
        qs.map(rankOf(n, _)).toSet
      }
      def at(pool: String, q: Double): Double =
        got(pool).at(rankOf(got(pool).n, q))
      val rows = qs.map { q =>
        val qAA = at("AA", q)
        val qAB = at("AB", q)
        val qBB = at("BB", q)
        Row(s"q${(q * 100).toInt}", r6d(qAA - qBB), r6d(qAB - qBB),
          r6d(qAA - qAB))
      }
      local(s, StructType(Seq(
        StructField("quantile", StringType),
        StructField("gap", DoubleType),
        StructField("characteristics", DoubleType),
        StructField("coefficients", DoubleType))), rows, "quantile")
    }),

    // ---- AKM + matching (E10-E16) ----
    "q_matching_knn" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("treated",
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0))
      Matching.run(cust, "treated", Seq("c_acctbal"), k = 3,
          Matching.Euclidean, "c_custkey")
        .select(col("c_custkey"), r6(col("__match_weight__")).as("weight"))
        .orderBy(col("c_custkey"))
    }),

    "q_matching_psm" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("treated",
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0))
      Matching.run(cust, "treated", Seq("c_acctbal"), k = 3,
          Matching.Propensity, "c_custkey")
        .select(col("c_custkey"), r6(col("__match_weight__")).as("weight"))
        .orderBy(col("c_custkey"))
    }),

    // E16 with a FULL oracle: the propensity logit pinned at 3 IRLS
    // iterations (2x2 Cramer on [1, acctbal]) makes PSM closed-form —
    // the kNN-on-score match itself was always SQL-expressible (same
    // crossJoin + rank shape as q_matching_knn, ties broken by control
    // id). The convergence-based q_matching_psm stays rows-only.
    "q_matching_psm_newton3" -> ((s, d) => {
      val cust = t(s, d, "customer").withColumn("treated",
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0))
      Matching.run(cust, "treated", Seq("c_acctbal"), k = 3,
          Matching.Propensity, "c_custkey",
          logitMaxIter = 3, logitTol = 0.0)
        .select(col("c_custkey"), r6(col("__match_weight__")).as("weight"))
        .orderBy(col("c_custkey"))
    }),

    // E10-E13 with a FULL oracle: tolerance = 1e15 makes BOTH iterative
    // loops (zig-zag demeaning, FE alternating projection) run exactly
    // ONE iteration — the loops enter (diff starts at tol + 1, and
    // 1e15 + 1 > 1e15 still holds in doubles, unlike 1e99 + 1), compute
    // one exact round whose diff is ~1e7 here, and exit. One round from zero starts is
    // closed-form edge-table algebra: a = S_w/n_w, p = (S_f - sum n a)/
    // n_f, scalar beta on the demeaned pair, one FE projection round,
    // first-firm normalization. Verifies every non-loop component of
    // AKM (edge aggregation, both update rules, demeaned OLS,
    // normalization) exactly; the convergence-based q_akm stays
    // rows-only.
    "q_akm_step1" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("worker", concat(lit("w"), pmod(col("l_suppkey"), lit(200))))
        .withColumn("firm", concat(lit("f"), pmod(col("l_partkey"), lit(50))))
      val res = Akm.run(li, "l_extendedprice", "worker", "firm",
        Seq("l_quantity"), tolerance = 1e15)
      res.firmEffects
        .select(col("firm"), r6(col("effect")).as("effect"))
        .orderBy(col("firm"))
    }),

    "q_akm" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("worker", concat(lit("w"), pmod(col("l_suppkey"), lit(200))))
        .withColumn("firm", concat(lit("f"), pmod(col("l_partkey"), lit(50))))
      // 1e-6 tolerance: effects are reported at 6 decimals, and the
      // zig-zag/FE loops converge linearly — halves the iteration count
      val res = Akm.run(li, "l_extendedprice", "worker", "firm",
        Seq("l_quantity"), tolerance = 1e-6, maxIters = 1000)
      res.firmEffects
        .select(col("firm"), r6(col("effect")).as("effect"))
        .withColumn("beta_x", lit(r6d(res.beta(0))))
        .withColumn("r2", lit(r6d(res.r2)))
        .orderBy(col("firm"))
    }),

    // ---- pay-equity layer (G2, G4) ----
    "q_fair_wages" -> ((s, d) => {
      val li = liWithRowId(s, d)
      val res = Equity.optimize(li, equityCfg, "row_id")
      res.adjustmentsUnsorted
        .select(col("row_id"), r6(col("fair_wage")).as("fair_wage"),
          r6(col("fair_wage_lower_bound")).as("fair_lower"),
          r6(col("fair_wage_upper_bound")).as("fair_upper"),
          r6(col("diff")).as("diff"))
        .orderBy(col("diff").desc, col("row_id")).limit(20)
    }),

    "q_equity_optimize" -> ((s, d) => {
      val li = liWithRowId(s, d)
      val res = Equity.optimize(li, equityCfg.copy(budget = 500000.0), "row_id")
      res.adjustmentsUnsorted.filter(col("adjustment") > 1e-9)
        .select(col("row_id"), r6(col("adjustment")).as("adjustment"),
          r6(col("new_wage")).as("new_wage"))
        .orderBy(col("row_id"))
    }),

    "q_frontier" -> ((s, d) => {
      val li = liWithRowId(s, d)
      val pts = Frontier.compute(li, equityCfg, "row_id", steps = 4,
        paymentScale = Some(6))
      def r(x: Double, s: Int) =
        BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = pts.zipWithIndex.map { case (p, i) =>
        Row(i, r(p.budget, 2), r(p.tStatistic, 4), p.isSignificant)
      }
      local(s, StructType(Seq(
        StructField("step", IntegerType),
        StructField("budget", DoubleType),
        StructField("t_stat", DoubleType),
        StructField("is_significant", BooleanType))), rows, "step")
    }),

    // ---- BASELINE.md rows 1-3, apples-to-apples: EXACTLY the
    // reference's published configuration (100k rows x 10 numeric
    // predictors; 1 / 100 / 500 bootstrap replicates at 0.14 / 0.76 /
    // 3.11 s in Rust). The dataset is synthesized deterministically
    // from row ids (hash-derived uniforms — partitioning-independent,
    // identical at any thread count) because the published benchmark's
    // shape is part of the comparison; sfDir is intentionally ignored.
    // Rows-only: the 10-predictor normal equations are not expressible
    // as a DuckDB oracle, and the decomposition algebra these exercise
    // is already hash-oracled by q_decomp_* / q_bootstrap8 on the
    // parquet tables. ----
    "q_baseline_point" -> ((s, d) => baselineDecomp(s, reps = 0)),
    "q_baseline_boot100" -> ((s, d) => baselineDecomp(s, reps = 100)),
    "q_baseline_boot500" -> ((s, d) => baselineDecomp(s, reps = 500)),

    // BASELINE.md headline scenario: full decomposition + 500 bootstrap
    // replicates (the reference: 3.11 s at 100k x 10 on rayon). All 500
    // replicates ride the SAME single scan as Poisson weight lanes.
    // Rows-only (stochastic SEs).
    "q_bootstrap500" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        OaxacaConfig("l_extendedprice", "l_linestatus", "F",
          predictors = Seq("l_quantity", "l_discount", "l_tax"),
          categorical = Seq("l_returnflag"),
          bootstrapReps = 500, seed = 42L))
      val rows = (res.twoFold ++ res.threeFold).map(c =>
        Row(c.name, r6d(c.estimate), r6d(c.stdErr), r6d(c.pValue)))
      local(s, StructType(Seq(
        StructField("component", StringType),
        StructField("estimate", DoubleType),
        StructField("std_err", DoubleType),
        StructField("p_value", DoubleType))), rows, "component")
    }),

    // P8/D9 with a FULL oracle: the replicates-as-lanes bootstrap kernel
    // (Gram.computeGrouped with external replicate weight columns — ONE
    // scan carries the point estimate plus all 8 replicates) made
    // engine-replayable: the per-(row, rep) Poisson(1) draw is the
    // inverse CDF of a hash56-derived uniform over the row's CONTENT
    // (cents(y):qty:group — the same content-keyed-draw approximation
    // the production xxhash64 path documents; md5-based hash56 replays
    // in DuckDB, xxhash64 does not), so weights, per-rep two-fold
    // components, and the bootstrap SE are all closed-form SQL.
    // q_bootstrap500 stays the at-scale 500-replicate rows-only twin.
    "q_bootstrap8" -> ((s, d) => {
      // The 8 content-keyed draws (md5 + 20-branch Poisson CASE each) are
      // attached BELOW Gram's own repartition guard, so on a single-file
      // scan they would all run on ONE task. Fan out the narrow 3-column
      // projection first — fixed count, so partition contents (and the
      // r6d-rounded sums) are stable at any thread count; the weight
      // values themselves are content-keyed and partition-independent.
      val li = Prep.withIntercept(
        t(s, d, "lineitem")
          .select("l_extendedprice", "l_quantity", "l_linestatus")
          .repartition(64))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val yCol = "l_extendedprice"
      val key = concat(
        round(col(yCol) * 100, 0).cast("long").cast("string"), lit(":"),
        col("l_quantity").cast("long").cast("string"), lit(":"),
        col("l_linestatus"))
      // ascending-threshold when-CHAIN (first match wins, same shape as
      // the oracle's CASE) — a fold that nests `otherwise` would put the
      // largest threshold outermost and catch everything
      def poisson(u: Column): Column =
        PoissonCdf.tail.zipWithIndex.foldLeft(
          when(u < lit(PoissonCdf.head), 0.0)) {
          case (acc, (thr, i)) => acc.when(u < lit(thr), (i + 1).toDouble)
        }.otherwise(PoissonCdf.size.toDouble)
      // Carter-Wegman replicate draws (the minhash r10 trick applied to
      // bootstrap weights): TWO base md5 draws per row + an affine combo
      // per replicate, instead of one md5 per (row, replicate). At sf10
      // the weight lanes ARE the query cost, and the md5 count is 8x of
      // it — measured 24 s -> 6.6 s on the whole Gram pass (commit
      // e64c687; SURVEY.md §8, round 14, item 2). No overflow: h1,
      // h2 < 2^56 and r <= 8 keeps h1 + r*h2 < 2^60. The DuckDB oracle
      // replays the identical arithmetic on the same two md5-derived
      // bases.
      val mod = 1L << 56
      val h1 = graft.ext.TextAnalysis.hash56(concat(lit("a:"), key))
      val h2 = graft.ext.TextAnalysis.hash56(concat(lit("b:"), key))
      val withBase = li.withColumn("__h1__", h1).withColumn("__h2__", h2)
      val wCols = (1 to 8).map(r => s"__bw_$r")
      val withW = wCols.zipWithIndex.foldLeft(withBase) { case (df, (c, i)) =>
        val u = pmod(col("__h1__") + lit((i + 1).toLong) * col("__h2__"),
          lit(mod)).cast("double") / mod.toDouble
        df.withColumn(c, poisson(u))
      }
      val laneOf = when(col("l_linestatus") === "O", 0).otherwise(1)
      val grams = Gram.computeGrouped(withW, yCol, xCols, None, laneOf,
        nLanes = 2, reps = 0, seed = 0L, repWeightCols = wCols)
      def comps(rep: Int): (Double, Double, Double) = {
        val ga = grams(0)(rep)
        val gb = grams(1)(rep)
        val bB = LinAlg.solveLeastSquares(gb.xtx, gb.xty)
        val gap = ga.yMean - gb.yMean
        val explained = (ga.xMeans(1) - gb.xMeans(1)) * bB(1)
        (gap, explained, gap - explained)
      }
      val pt = comps(0)
      val reps = (1 to 8).map(comps)
      def sd(vs: Seq[Double]): Double = {
        val m = vs.sum / vs.size
        math.sqrt(vs.map(v => (v - m) * (v - m)).sum / (vs.size - 1))
      }
      val rows = Seq(
        Row("explained", r6d(pt._2), r6d(sd(reps.map(_._2)))),
        Row("gap", r6d(pt._1), r6d(sd(reps.map(_._1)))),
        Row("unexplained", r6d(pt._3), r6d(sd(reps.map(_._3)))))
      local(s, StructType(Seq(
        StructField("component", StringType),
        StructField("estimate", DoubleType),
        StructField("se", DoubleType))), rows, "component")
    }),

    "q_decomp_groupa" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        decompCfg.copy(refCoefficients = RefCoefficients.GroupA))
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    "q_decomp_cotton" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        decompCfg.copy(refCoefficients = RefCoefficients.Cotton))
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    "q_wls_decomp" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        OaxacaConfig("l_extendedprice", "l_linestatus", "F",
          predictors = Seq("l_discount"), weights = Some("l_quantity"),
          bootstrapReps = 0))
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    // G3 verify: apply the greedy budget-500k adjustments by row id, then
    // re-run the pooled decomposition on the mutated frame — ONE shared
    // prepare+Gram+allocation for both halves
    // (`engine/src/analysis.rs:40-96`, `verification_test.rs:8-115`).
    "q_verify" -> ((s, d) => {
      val li = liWithRowId(s, d)
      val (_, res) = Equity.optimizeAndVerify(li,
        equityCfg.copy(budget = 500000.0), "row_id")
      oneRow(s,
        Seq("total_gap", "explained", "unexplained"),
        Seq(res.totalGap,
          res.twoFold.find(_.name == "explained").get.estimate,
          res.twoFold.find(_.name == "unexplained").get.estimate))
    }),

    // G5 defensibility: judge each proposed adjustment against the fair
    // model's prediction interval — the no-override refit is skipped, the
    // optimizer's own Gram lanes judge (`engine/src/defensibility.rs:9-388`).
    "q_defensibility" -> ((s, d) => {
      val li = liWithRowId(s, d)
      val (_, judged) = Equity.optimizeAndCheckDefensibility(li,
        equityCfg.copy(budget = 500000.0), "row_id")
      judged
        .select(col("row_id"), r6(col("adjustment")).as("adjustment"),
          r6(col("new_wage")).as("new_wage"),
          r6(col("fair_wage")).as("fair_wage"),
          r6(col("fair_wage_lower_bound")).as("fair_lower"),
          col("is_defensible"))
        .orderBy(col("row_id"))
    }),

    // D5/D6 Yun normalization over a pure-categorical design: per-group
    // OLS on [1, RF_N, RF_R] has the closed cell-means form, so the
    // normalized detailed decomposition (incl. the synthesized base-
    // category row) is exactly SQL-expressible
    // (`math/normalization.rs:53-112`, `builder.rs:634-674`).
    "q_decomp_yun" -> ((s, d) => {
      val res = Oaxaca.run(t(s, d, "lineitem"),
        OaxacaConfig("l_extendedprice", "l_linestatus", "F",
          predictors = Nil, categorical = Seq("l_returnflag"),
          normalize = Seq("l_returnflag"), bootstrapReps = 0))
      val unex = res.detailedUnexplained.map(c => c.name -> c.estimate).toMap
      val rows = res.detailedExplained.map(c =>
        Row(c.name, r6d(c.estimate), r6d(unex(c.name))))
      local(s, StructType(Seq(
        StructField("variable", StringType),
        StructField("explained", DoubleType),
        StructField("unexplained", DoubleType))), rows, "variable")
    }),

    "q_g1_decompose" -> ((s, d) => {
      val res = Equity.decompose(t(s, d, "lineitem"), equityCfg,
        bootstrapReps = 0)
      val rows = Seq(Row(
        r6d(res.totalGap), r6d(res.explainedGap), r6d(res.unexplainedGap),
        r6d(res.explainedPercentage), r6d(res.unexplainedPercentage),
        res.summary.totalCount, res.summary.groupACount,
        res.summary.groupBCount, r6d(res.summary.groupAMean),
        r6d(res.summary.groupBMean)))
      local(s, StructType(Seq(
        StructField("total_gap", DoubleType),
        StructField("explained_gap", DoubleType),
        StructField("unexplained_gap", DoubleType),
        StructField("explained_pct", DoubleType),
        StructField("unexplained_pct", DoubleType),
        StructField("total_count", LongType),
        StructField("group_a_count", LongType),
        StructField("group_b_count", LongType),
        StructField("group_a_mean", DoubleType),
        StructField("group_b_mean", DoubleType))), rows)
    }),

    // ---- budget optimizer (D15) ----
    "q_budget_greedy" -> ((s, d) => {
      val li = Prep.withIntercept(t(s, d, "lineitem"))
      val xCols = Seq(Prep.InterceptCol, "l_quantity")
      val split = Prep.splitGroups(li, "l_linestatus", "F")
      val lanes = Gram.computeGrouped(li, "l_extendedprice", xCols, None,
        Prep.laneOf(split, "l_linestatus"), 2, 0, 0L)
      val fitB = Ols.fromGram(lanes(1)(0), xCols)
      val totalGap = lanes(0)(0).yMean - lanes(1)(0).yMean
      val dfB = split.dfB.withColumn("residual",
        Ols.residualCol("l_extendedprice", xCols, fitB.beta))
      BudgetOptimizer.optimize(dfB, "residual",
          Seq(col("l_orderkey"), col("l_linenumber")),
          totalGap, lanes(1)(0).n, budget = 500000.0, targetGap = 0.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(col("residual")).as("residual"),
          r6(col("adjustment")).as("adjustment"))
        .orderBy(col("residual"), col("l_orderkey"), col("l_linenumber"))
    })
  )

  private def oneRow(s: SparkSession, names: Seq[String], values: Seq[Double]): DataFrame =
    local(s, StructType(names.map(StructField(_, DoubleType))),
      Seq(Row(values.map(r6d): _*)))

  /** A small, bounded driver-held result as a local relation, sorted on
    * the driver by `sortBy` in Spark's ascending order: nulls first, NaN
    * after every number, -0.0 tied with 0.0, strings by UTF-8 bytes, and
    * ties kept in input order. That is the row order `.orderBy(sortBy)`
    * gives the same rows, without the jobs: collecting a local relation
    * runs none. The rows are embedded in the plan, so large driver data
    * stays an RDD instead (see `ext/Cluster.scala`). */
  def local(s: SparkSession, schema: StructType, rows: Seq[Row],
      sortBy: String*): DataFrame = {
    val ordering = new InterpretedOrdering(sortBy.map { c =>
      val f = schema(c)
      SortOrder(BoundReference(schema.fieldIndex(c), f.dataType, f.nullable),
        Ascending)
    })
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val sorted = rows.sortBy(r => toInternal(r).asInstanceOf[InternalRow])(ordering)
    s.createDataFrame(sorted.asJava, schema)
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — ANSI SQL over the same parquet tables, matching
  // column names and 6-decimal rounding.
  // ---------------------------------------------------------------------

  /** Closed-form per-group simple regression CTE used by decomposition
    * oracles: slope/intercept of l_extendedprice ~ l_quantity by
    * l_linestatus. */
  private val gRegCte =
    """WITH g AS (
      |  SELECT l_linestatus AS lvl,
      |         avg(l_extendedprice) AS ybar,
      |         avg(l_quantity) AS xbar,
      |         regr_slope(l_extendedprice, l_quantity) AS slope,
      |         regr_intercept(l_extendedprice, l_quantity) AS icept,
      |         count(*) AS n
      |  FROM lineitem GROUP BY 1
      |)""".stripMargin

  /** Fair-wage model oracle (G2): simple-regression fair model fit on
    * reference group 'F', prediction intervals via the k=2 closed-form
    * leverage h = 1/n + (x-xbar)^2/Sxx; target rows are group 'O'. */
  private val fairCte =
    """WITH """ + rowIdCte + """, ref AS (
      |  SELECT count(*) AS n, avg(l_quantity) AS xbar,
      |    regr_intercept(l_extendedprice, l_quantity) AS a,
      |    regr_slope(l_extendedprice, l_quantity) AS b,
      |    regr_sxx(l_extendedprice, l_quantity) AS sxx,
      |    regr_syy(l_extendedprice, l_quantity)
      |      * (1 - pow(corr(l_extendedprice, l_quantity), 2)) AS rss
      |  FROM base WHERE l_linestatus = 'F'
      |), model AS (
      |  SELECT n, xbar, a, b, sxx, rss / (n - 2) AS sigma2 FROM ref
      |), pi AS (
      |  SELECT l.row_id,
      |    l.l_extendedprice AS y, l.l_quantity AS x,
      |    (m.a + m.b * l.l_quantity) AS fair,
      |    1.9599639845400545 * sqrt(m.sigma2 * (1.0 + 1.0 / m.n
      |      + (l.l_quantity - m.xbar) * (l.l_quantity - m.xbar) / m.sxx)) AS margin,
      |    (m.a + m.b * l.l_quantity) - l.l_extendedprice AS diff
      |  FROM base l, model m WHERE l.l_linestatus = 'O'
      |)""".stripMargin

  /** RIF scalar pipeline (rif.rs conventions: type-7 q_tau, ceil-index
    * IQR, 1e-8 floors) shared by the q_rif* oracles. */
  private val rifCte =
    """WITH s AS (
      |  SELECT l_linestatus AS g, count(*) AS n,
      |         stddev_samp(l_extendedprice) AS std,
      |         quantile_cont(l_extendedprice, 0.5) AS q
      |  FROM lineitem GROUP BY 1
      |), ranked AS (
      |  SELECT l_linestatus AS g, l_extendedprice AS y,
      |         row_number() OVER (PARTITION BY l_linestatus
      |           ORDER BY l_extendedprice) AS rn
      |  FROM lineitem
      |), iqr AS (
      |  SELECT r.g,
      |    max(CASE WHEN r.rn = greatest(CAST(ceil(0.75 * s.n) AS BIGINT), 1)
      |      THEN r.y END)
      |    - max(CASE WHEN r.rn = greatest(CAST(ceil(0.25 * s.n) AS BIGINT), 1)
      |      THEN r.y END) AS iqr
      |  FROM ranked r JOIN s ON r.g = s.g GROUP BY r.g
      |), bw AS (
      |  SELECT s.g,
      |    0.9 * (CASE WHEN m.sp < 1e-8 THEN 1.0 ELSE m.sp END)
      |      * pow(s.n, -0.2) AS h
      |  FROM s JOIN (
      |    SELECT i.g, CASE WHEN i.iqr > 1e-8
      |      THEN least(s2.std, i.iqr / 1.34) ELSE s2.std END AS sp
      |    FROM iqr i JOIN s s2 ON i.g = s2.g) m ON s.g = m.g
      |), dens AS (
      |  SELECT s.g, greatest(
      |      sum(exp(-0.5 * pow((s.q - l.l_extendedprice) / b.h, 2)))
      |        / sqrt(2 * pi()) / (s.n * b.h), 1e-8) AS f
      |  FROM lineitem l JOIN s ON l.l_linestatus = s.g
      |    JOIN bw b ON b.g = s.g
      |  GROUP BY s.g, s.n, b.h, s.q
      |)""".stripMargin

  /** 3 Newton/IRLS logit iterations as chained CTEs: per iteration the
    * clamped-sigmoid working response feeds 9 aggregate sums (3x3 normal
    * equations) solved by Cramer — the exact algebra of `Logit.fit`
    * (IRLS solve == Newton step in exact arithmetic). */
  /** One Newton/IRLS logit iteration as CTEs s$k/it$k over a `pts` CTE
    * carrying x1, x2, y (extra columns tolerated) — shared by the logit
    * and DFL oracles. */
  private[graft] def logitNewtonStep(k: Int): String = {
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""s$k AS (
         |  SELECT
         |    sum(w) AS h11, sum(w*x1) AS h12, sum(w*x2) AS h13,
         |    sum(w*x1*x1) AS h22, sum(w*x1*x2) AS h23, sum(w*x2*x2) AS h33,
         |    sum(w*z) AS g1, sum(w*x1*z) AS g2, sum(w*x2*z) AS g3
         |  FROM (
         |    SELECT x1, x2, w, xb + (y - p) / w AS z FROM (
         |      SELECT x1, x2, y, xb, p, p * (1.0 - p) AS w FROM (
         |        SELECT x1, x2, y, xb,
         |          greatest(least(1.0 / (1.0 + exp(-xb)), 1.0 - 1e-10), 1e-10) AS p
         |        FROM (
         |          SELECT x1, x2, y, b.b0 + b.b1 * x1 + b.b2 * x2 AS xb
         |          FROM pts CROSS JOIN $prev b)
         |      )
         |    )
         |  )
         |), it$k AS (
         |  SELECT
         |    (g1*(h22*h33 - h23*h23) - h12*(g2*h33 - h23*g3) + h13*(g2*h23 - h22*g3)) / det AS b0,
         |    (h11*(g2*h33 - g3*h23) - g1*(h12*h33 - h23*h13) + h13*(h12*g3 - g2*h13)) / det AS b1,
         |    (h11*(h22*g3 - h23*g2) - h12*(h12*g3 - g2*h13) + g1*(h12*h23 - h22*h13)) / det AS b2
         |  FROM (SELECT *,
         |    h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13) + h13*(h12*h23 - h22*h13) AS det
         |    FROM s$k)
         |)""".stripMargin
  }

  private val logitNewton3Sql =
    s"""WITH pts AS (
       |  SELECT l_quantity AS x1, l_discount AS x2,
       |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
       |  FROM lineitem
       |), it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${logitNewtonStep(1)},
       |${logitNewtonStep(2)},
       |${logitNewtonStep(3)}
       |SELECT variable, round(coef, 6) AS coef FROM (
       |  SELECT 'intercept' AS variable, b0 AS coef FROM it3
       |  UNION ALL SELECT 'l_quantity', b1 FROM it3
       |  UNION ALL SELECT 'l_discount', b2 FROM it3
       |) ORDER BY variable""".stripMargin

  /** The full DFL reweighting pipeline, closed-form: 3 pinned logit
    * iterations (shared CTEs above) -> clamped probabilities ->
    * counterfactual weights psi = p/(1-p) * (nB/nA) -> exact-rank
    * Silverman bandwidths per group (kde.rs floor-index convention) ->
    * three Gaussian grid densities (A, B, reweighted B). First oracle
    * over an entire reweighting pipeline rather than one operator. */
  private val dflNewton3Sql =
    s"""WITH pts AS (
       |  SELECT l_quantity AS x1, l_tax AS x2, l_discount AS yv,
       |    l_linestatus AS grp,
       |    CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END AS y
       |  FROM lineitem
       |), it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${logitNewtonStep(1)},
       |${logitNewtonStep(2)},
       |${logitNewtonStep(3)},
       |stats AS (
       |  SELECT sum(CASE WHEN grp = 'O' THEN 1 ELSE 0 END) AS na,
       |    sum(CASE WHEN grp = 'F' THEN 1 ELSE 0 END) AS nb,
       |    min(yv) AS mn, max(yv) AS mx
       |  FROM pts
       |),
       |iqra AS (
       |  SELECT max(CASE WHEN rn = CAST(floor(0.25 * n) AS BIGINT) + 1 THEN yv END) AS q1,
       |    max(CASE WHEN rn = CAST(floor(0.75 * n) AS BIGINT) + 1 THEN yv END) AS q3,
       |    max(n) AS n
       |  FROM (SELECT yv, row_number() OVER (ORDER BY yv) AS rn,
       |      count(*) OVER () AS n FROM pts WHERE grp = 'O')
       |),
       |iqrb AS (
       |  SELECT max(CASE WHEN rn = CAST(floor(0.25 * n) AS BIGINT) + 1 THEN yv END) AS q1,
       |    max(CASE WHEN rn = CAST(floor(0.75 * n) AS BIGINT) + 1 THEN yv END) AS q3,
       |    max(n) AS n
       |  FROM (SELECT yv, row_number() OVER (ORDER BY yv) AS rn,
       |      count(*) OVER () AS n FROM pts WHERE grp = 'F')
       |),
       |bwa AS (SELECT 0.9 * least(
       |    (SELECT stddev_samp(yv) FROM pts WHERE grp = 'O'),
       |    (q3 - q1) / 1.34) * pow(n, -0.2) AS h FROM iqra),
       |bwb AS (SELECT 0.9 * least(
       |    (SELECT stddev_samp(yv) FROM pts WHERE grp = 'F'),
       |    (q3 - q1) / 1.34) * pow(n, -0.2) AS h FROM iqrb),
       |wts AS (
       |  SELECT yv, grp,
       |    least(greatest(least(greatest(
       |      1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))),
       |      1e-10), 1.0 - 1e-10), 1e-4), 0.9999) AS p
       |  FROM pts CROSS JOIN it3 b
       |),
       |grid AS (
       |  SELECT CAST(range AS INTEGER) AS idx,
       |    s.mn + range * ((s.mx - s.mn) / 100.0) AS g
       |  FROM range(100), stats s
       |),
       |dens AS (
       |  SELECT g.idx, g.g,
       |    sum(CASE WHEN w.grp = 'O'
       |      THEN exp(-0.5 * pow((g.g - w.yv) / a.h, 2)) ELSE 0.0 END) AS ska,
       |    sum(CASE WHEN w.grp = 'F'
       |      THEN exp(-0.5 * pow((g.g - w.yv) / b.h, 2)) ELSE 0.0 END) AS skb,
       |    sum(CASE WHEN w.grp = 'F'
       |      THEN (w.p / (1.0 - w.p)) * (s.nb * 1.0 / s.na)
       |        * exp(-0.5 * pow((g.g - w.yv) / b.h, 2)) ELSE 0.0 END) AS skc,
       |    sum(CASE WHEN w.grp = 'F'
       |      THEN (w.p / (1.0 - w.p)) * (s.nb * 1.0 / s.na) ELSE 0.0 END) AS swc,
       |    max(a.h) AS ha, max(b.h) AS hb, max(s.na) AS na, max(s.nb) AS nb
       |  FROM grid g, wts w, bwa a, bwb b, stats s
       |  GROUP BY g.idx, g.g
       |)
       |SELECT idx, round(g, 6) AS grid,
       |  round(ska / sqrt(2.0 * pi()) / (na * ha), 6) AS density_a,
       |  round(skb / sqrt(2.0 * pi()) / (nb * hb), 6) AS density_b,
       |  round(skc / sqrt(2.0 * pi()) / (swc * hb), 6) AS density_b_cf
       |FROM dens ORDER BY idx""".stripMargin

  /** 3 Fisher-scoring probit iterations as chained CTEs — the exact
    * algebra of `Probit.fit` (clamped Phi, lambda score, expected
    * information weights, 1e-9 ridge on BOTH the normal matrix and the
    * rhs). Phi needs erf, which DuckDB lacks: `erfCase` expands Cody's
    * three-region rational approximation inline (validated ~3e-16
    * relative against libm erf across [-10, 10]), applied to
    * per-row helper columns eax/ezz/esgn/eiz computed one SELECT below. */
  // ---- inline erf for DuckDB (it has none): Cody's three-region
  // rational approximation, validated ~3e-16 relative against libm
  // across [-10, 10] — far below the 6-decimal oracle rounding. The
  // CASE expects the helper columns from [[erfAuxCols]] one SELECT
  // below it. ----
  private val erfCase = {
    // region 1 (|x| <= 0.46875): erf(x) = x * P1(x^2)/Q1(x^2)
    val r1n = "((((1.85777706184603153e-1*ezz + 3.16112374387056560e0)*ezz + " +
      "1.13864154151050156e2)*ezz + 3.77485237685302021e2)*ezz + 3.20937758913846947e3)"
    val r1d = "((((ezz + 2.36012909523441209e1)*ezz + 2.44024637934444173e2)*ezz + " +
      "1.28261652607737228e3)*ezz + 2.84423683343917062e3)"
    // region 2 (0.46875 < |x| <= 4): erfc(|x|) = exp(-x^2) P2(|x|)/Q2(|x|)
    val r2n = "((((((((2.15311535474403846e-8*eax + 5.64188496988670089e-1)*eax + " +
      "8.88314979438837594e0)*eax + 6.61191906371416295e1)*eax + " +
      "2.98635138197400131e2)*eax + 8.81952221241769090e2)*eax + " +
      "1.71204761263407058e3)*eax + 2.05107837782607147e3)*eax + 1.23033935479799725e3)"
    val r2d = "((((((((eax + 1.57449261107098347e1)*eax + 1.17693950891312499e2)*eax + " +
      "5.37181101862009858e2)*eax + 1.62138957456669019e3)*eax + " +
      "3.29079923573345963e3)*eax + 4.36261909014324716e3)*eax + " +
      "3.43936767414372164e3)*eax + 1.23033935480374942e3)"
    // region 3 (|x| > 4): erfc(|x|) = exp(-x^2)/|x| * (1/sqrt(pi) - z P3(z)/Q3(z)), z = 1/x^2
    val r3n = "(((((1.63153871373020978e-2*eiz + 3.05326634961232344e-1)*eiz + " +
      "3.60344899949804439e-1)*eiz + 1.25781726111229246e-1)*eiz + " +
      "1.60837851487422766e-2)*eiz + 6.58749161529837803e-4)"
    val r3d = "(((((eiz + 2.56852019228982242e0)*eiz + 1.87295284992346047e0)*eiz + " +
      "5.27905102951428412e-1)*eiz + 6.05183413124413191e-2)*eiz + 2.33520497626869185e-3)"
    s"""CASE WHEN eax <= 0.46875 THEN earg * $r1n / $r1d
       |  WHEN eax <= 4.0 THEN esgn * (1.0 - exp(-ezz) * $r2n / $r2d)
       |  ELSE esgn * (1.0 - exp(-ezz) *
       |    (5.6418958354775628695e-1 - eiz * $r3n / $r3d) / eax)
       |END""".stripMargin
  }

  /** Helper columns for [[erfCase]], from the erf argument expression. */
  private def erfAuxCols(arg: String): String =
    s"""($arg) AS earg,
       |abs($arg) AS eax,
       |($arg) * ($arg) AS ezz,
       |CASE WHEN ($arg) < 0 THEN -1.0 ELSE 1.0 END AS esgn,
       |1.0 / (($arg) * ($arg) + 1e-300) AS eiz""".stripMargin

  private val probitNewton3Sql = {
    def step(k: Int): String = {
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""s$k AS (
         |  SELECT
         |    sum(w) AS h11, sum(w*x1) AS h12, sum(w*x2) AS h13,
         |    sum(w*x1*x1) AS h22, sum(w*x1*x2) AS h23, sum(w*x2*x2) AS h33,
         |    sum(w*z) AS g1, sum(w*x1*z) AS g2, sum(w*x2*z) AS g3
         |  FROM (
         |SELECT x1, x2, w, xb + CASE WHEN w > 0.0 THEN lam / w ELSE 0.0 END AS z FROM (
         |      SELECT x1, x2, xb, pdfv*pdfv / (cdfv * (1.0 - cdfv)) AS w,
         |        CASE WHEN y > 0.5 THEN pdfv / cdfv ELSE -pdfv / (1.0 - cdfv) END AS lam
         |      FROM (
         |        SELECT x1, x2, y, xb,
         |          (1.0/sqrt(2.0*pi())) * exp(xb*xb*(-0.5)) AS pdfv,
         |          least(greatest(0.5 * (1.0 + $erfCase), 1e-10), 1.0 - 1e-10) AS cdfv
         |        FROM (
         |          SELECT x1, x2, y, xb, ${erfAuxCols("xb / sqrt(2.0)")}
         |          FROM (
         |            SELECT x1, x2, y, b.b0 + b.b1 * x1 + b.b2 * x2 AS xb
         |            FROM pts CROSS JOIN $prev b)
         |        )
         |      )
         |    )
         |  )
         |), it$k AS (
         |  SELECT
         |    (r1*(a22*a33 - h23*h23) - h12*(r2*a33 - h23*r3) + h13*(r2*h23 - a22*r3)) / det AS b0,
         |    (a11*(r2*a33 - r3*h23) - r1*(h12*a33 - h23*h13) + h13*(h12*r3 - r2*h13)) / det AS b1,
         |    (a11*(a22*r3 - h23*r2) - h12*(h12*r3 - r2*h13) + r1*(h12*h23 - a22*h13)) / det AS b2
         |  FROM (SELECT *,
         |    a11*(a22*a33 - h23*h23) - h12*(h12*a33 - h23*h13) + h13*(h12*h23 - a22*h13) AS det
         |    FROM (SELECT h12, h13, h23,
         |      h11 + 1e-9 AS a11, h22 + 1e-9 AS a22, h33 + 1e-9 AS a33,
         |      g1 + 1e-9 * b.b0 AS r1, g2 + 1e-9 * b.b1 AS r2, g3 + 1e-9 * b.b2 AS r3
         |      FROM s$k CROSS JOIN $prev b))
         |)""".stripMargin
    }
    s"""WITH pts AS (
       |  SELECT l_quantity AS x1, l_discount AS x2,
       |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
       |  FROM lineitem
       |), it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT variable, round(coef, 6) AS coef FROM (
       |  SELECT 'intercept' AS variable, b0 AS coef FROM it3
       |  UNION ALL SELECT 'l_quantity', b1 FROM it3
       |  UNION ALL SELECT 'l_discount', b2 FROM it3
       |) ORDER BY variable""".stripMargin
  }

  /** Heckman two-step + two-fold detailed decomposition, closed-form:
    * per-group 2x2 ridged probit Cramer (3 pinned Fisher iterations,
    * inline erf), IMR on selected rows, 3x3 OLS Cramer on [1, x, IMR],
    * then the runHeckman scalar algebra (betaStar = betaB). The
    * trailing `+ 0.0` on values normalizes IEEE -0.0 (exact-zero
    * metrics like exp_intercept multiply a negative coefficient by
    * 0.0) to match r6d's BigDecimal rounding, which has no signed
    * zero. */
  private val heckmanNewton3Sql = {
    def probitStep(k: Int): String = {
      val prev = if (k == 1) "pit0" else s"pit${k - 1}"
      s"""ps$k AS (
         |  SELECT grp,
         |    sum(w) AS h11, sum(w*z1) AS h12, sum(w*z1*z1) AS h22,
         |    sum(w*zz) AS g1, sum(w*z1*zz) AS g2
         |  FROM (
         |    SELECT grp, z1, w, zg + CASE WHEN w > 0.0 THEN lam / w ELSE 0.0 END AS zz FROM (
         |      SELECT grp, z1, zg, pdfv*pdfv / (cdfv * (1.0 - cdfv)) AS w,
         |        CASE WHEN sel > 0.5 THEN pdfv / cdfv ELSE -pdfv / (1.0 - cdfv) END AS lam
         |      FROM (
         |        SELECT grp, z1, sel, zg,
         |          (1.0/sqrt(2.0*pi())) * exp(zg*zg*(-0.5)) AS pdfv,
         |          least(greatest(0.5 * (1.0 + $erfCase), 1e-10), 1.0 - 1e-10) AS cdfv
         |        FROM (
         |          SELECT p.grp, p.z1, p.sel, b.c0 + b.c1 * p.z1 AS zg,
         |            ${erfAuxCols("(b.c0 + b.c1 * p.z1) / sqrt(2.0)")}
         |          FROM pts p JOIN $prev b ON b.grp = p.grp)
         |      )
         |    )
         |  ) GROUP BY grp
         |), pit$k AS (
         |  SELECT grp,
         |    (r1 * a22 - h12 * r2) / det AS c0,
         |    (a11 * r2 - h12 * r1) / det AS c1
         |  FROM (SELECT *, a11 * a22 - h12 * h12 AS det FROM (
         |    SELECT s0.grp, s0.h12,
         |      s0.h11 + 1e-9 AS a11, s0.h22 + 1e-9 AS a22,
         |      s0.g1 + 1e-9 * b.c0 AS r1, s0.g2 + 1e-9 * b.c1 AS r2
         |    FROM ps$k s0 JOIN $prev b ON b.grp = s0.grp))
         |)""".stripMargin
    }
    s"""WITH pts AS (
       |  SELECT l_linestatus AS grp, l_extendedprice AS yv, l_quantity AS x1,
       |    l_discount AS z1,
       |    CASE WHEN l_discount + l_tax > 0.07 THEN 1.0 ELSE 0.0 END AS sel
       |  FROM lineitem
       |), pit0 AS (SELECT 'O' AS grp, 0.0 AS c0, 0.0 AS c1
       |            UNION ALL SELECT 'F', 0.0, 0.0),
       |${probitStep(1)},
       |${probitStep(2)},
       |${probitStep(3)},
       |imrr AS (
       |  SELECT grp, yv, x1, zg,
       |    CASE WHEN cdfv < 1e-10 THEN 0.0 ELSE pdfv / cdfv END AS imr
       |  FROM (
       |    SELECT grp, yv, x1, zg,
       |      (1.0/sqrt(2.0*pi())) * exp(zg*zg*(-0.5)) AS pdfv,
       |      0.5 * (1.0 + $erfCase) AS cdfv
       |    FROM (
       |      SELECT p.grp, p.yv, p.x1, b.c0 + b.c1 * p.z1 AS zg,
       |        ${erfAuxCols("(b.c0 + b.c1 * p.z1) / sqrt(2.0)")}
       |      FROM pts p JOIN pit3 b ON b.grp = p.grp
       |      WHERE p.sel = 1.0)
       |  )
       |),
       |osum AS (
       |  SELECT grp, sum(1.0) AS h11, sum(x1) AS h12, sum(imr) AS h13,
       |    sum(x1*x1) AS h22, sum(x1*imr) AS h23, sum(imr*imr) AS h33,
       |    sum(yv) AS g1, sum(x1*yv) AS g2, sum(imr*yv) AS g3
       |  FROM imrr GROUP BY grp
       |),
       |ob AS (
       |  SELECT grp,
       |    (g1*(h22*h33 - h23*h23) - h12*(g2*h33 - h23*g3) + h13*(g2*h23 - h22*g3)) / det AS b0,
       |    (h11*(g2*h33 - g3*h23) - g1*(h12*h33 - h23*h13) + h13*(h12*g3 - g2*h13)) / det AS b1,
       |    (h11*(h22*g3 - h23*g2) - h12*(h12*g3 - g2*h13) + g1*(h12*h23 - h22*h13)) / det AS b2
       |  FROM (SELECT *,
       |    h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13) + h13*(h12*h23 - h22*h13) AS det
       |    FROM osum)
       |),
       |sm AS (
       |  SELECT grp, sum(1.0) AS sw, sum(x1) AS sx1, sum(imr) AS simr,
       |    sum(-imr * (imr + zg)) AS sdelta
       |  FROM imrr GROUP BY grp
       |),
       |zm AS (
       |  SELECT grp, sum(1.0) AS sw, sum(z1) AS sz1, sum(yv) AS sy
       |  FROM pts GROUP BY grp
       |),
       |fin AS (
       |  SELECT
       |    (SELECT c0 FROM pit3 WHERE grp = 'O') AS ga0,
       |    (SELECT c1 FROM pit3 WHERE grp = 'O') AS ga1,
       |    (SELECT c0 FROM pit3 WHERE grp = 'F') AS gb0,
       |    (SELECT c1 FROM pit3 WHERE grp = 'F') AS gb1,
       |    (SELECT b0 FROM ob WHERE grp = 'O') AS ba0,
       |    (SELECT b1 FROM ob WHERE grp = 'O') AS ba1,
       |    (SELECT b2 FROM ob WHERE grp = 'O') AS ba2,
       |    (SELECT b0 FROM ob WHERE grp = 'F') AS bb0,
       |    (SELECT b1 FROM ob WHERE grp = 'F') AS bb1,
       |    (SELECT b2 FROM ob WHERE grp = 'F') AS bb2,
       |    (SELECT sw / sw FROM sm WHERE grp = 'O') AS xa0,
       |    (SELECT sx1 / sw FROM sm WHERE grp = 'O') AS xa1,
       |    (SELECT simr / sw FROM sm WHERE grp = 'O') AS xa2,
       |    (SELECT sw / sw FROM sm WHERE grp = 'F') AS xb0,
       |    (SELECT sx1 / sw FROM sm WHERE grp = 'F') AS xb1,
       |    (SELECT simr / sw FROM sm WHERE grp = 'F') AS xb2,
       |    (SELECT sdelta / sw FROM sm WHERE grp = 'F') AS deltab,
       |    (SELECT sw / sw FROM zm WHERE grp = 'O') AS za0,
       |    (SELECT sz1 / sw FROM zm WHERE grp = 'O') AS za1,
       |    (SELECT sw / sw FROM zm WHERE grp = 'F') AS zb0,
       |    (SELECT sz1 / sw FROM zm WHERE grp = 'F') AS zb1,
       |    (SELECT sy / sw FROM zm WHERE grp = 'O') AS ya,
       |    (SELECT sy / sw FROM zm WHERE grp = 'F') AS yb
       |)
       |SELECT metric, round(value, 6) + 0.0 AS value FROM (
       |  SELECT 'gamma_a_intercept' AS metric, ga0 AS value FROM fin
       |  UNION ALL SELECT 'gamma_a_l_discount', ga1 FROM fin
       |  UNION ALL SELECT 'gamma_b_intercept', gb0 FROM fin
       |  UNION ALL SELECT 'gamma_b_l_discount', gb1 FROM fin
       |  UNION ALL SELECT 'beta_a_intercept', ba0 FROM fin
       |  UNION ALL SELECT 'beta_a_l_quantity', ba1 FROM fin
       |  UNION ALL SELECT 'beta_a_imr', ba2 FROM fin
       |  UNION ALL SELECT 'beta_b_intercept', bb0 FROM fin
       |  UNION ALL SELECT 'beta_b_l_quantity', bb1 FROM fin
       |  UNION ALL SELECT 'beta_b_imr', bb2 FROM fin
       |  UNION ALL SELECT 'exp_intercept', (xa0 - xb0) * bb0 FROM fin
       |  UNION ALL SELECT 'exp_l_quantity', (xa1 - xb1) * bb1 FROM fin
       |  UNION ALL SELECT 'exp_imr', (xa2 - xb2) * bb2 FROM fin
       |  UNION ALL SELECT 'unexp_intercept',
       |    xa0 * (ba0 - bb0) + xb0 * (bb0 - bb0) FROM fin
       |  UNION ALL SELECT 'unexp_l_quantity',
       |    xa1 * (ba1 - bb1) + xb1 * (bb1 - bb1) FROM fin
       |  UNION ALL SELECT 'unexp_imr',
       |    xa2 * (ba2 - bb2) + xb2 * (bb2 - bb2) FROM fin
       |  UNION ALL SELECT 'sel_intercept',
       |    bb2 * deltab * gb0 * (za0 - zb0) FROM fin
       |  UNION ALL SELECT 'sel_l_discount',
       |    bb2 * deltab * gb1 * (za1 - zb1) FROM fin
       |  UNION ALL SELECT 'total_gap', ya - yb FROM fin
       |) ORDER BY metric""".stripMargin
  }

  /** 3 IRLS iterations of smoothed-pinball quantile regression from the
    * OLS start, for all three taus in one chain (the tau column rides
    * through every CTE): weight c/max(|r|, 1e-6) with c = tau or 1-tau
    * by residual sign, then a 2x2 solve with the trace-scaled ridge
    * 1e-10*(tr/2 + 1) — the exact `QuantileReg.fitMany` algebra with
    * `warmStart = false`. */
  private val quantregNewton3Sql = {
    def irlsStep(k: Int): String = {
      val prev = if (k == 1) "qit0" else s"qit${k - 1}"
      s"""qs$k AS (
         |  SELECT tau, sum(w) AS h11, sum(w*x1) AS h12, sum(w*x1*x1) AS h22,
         |    sum(w*yv) AS g1, sum(w*x1*yv) AS g2
         |  FROM (
         |    SELECT b.tau, p.x1, p.yv,
         |      (CASE WHEN p.yv - (b.b0 + b.b1 * p.x1) > 0.0
         |        THEN b.tau ELSE 1.0 - b.tau END)
         |        / greatest(abs(p.yv - (b.b0 + b.b1 * p.x1)), 1e-6) AS w
         |    FROM pts p CROSS JOIN $prev b
         |  ) GROUP BY tau
         |), qit$k AS (
         |  SELECT tau,
         |    (g1 * a22 - h12 * g2) / det AS b0,
         |    (a11 * g2 - h12 * g1) / det AS b1
         |  FROM (SELECT *, a11 * a22 - h12 * h12 AS det FROM (
         |    SELECT tau, h12, g1, g2, h11 + lam AS a11, h22 + lam AS a22
         |    FROM (SELECT *, 1e-10 * ((h11 + h22) / 2.0 + 1.0) AS lam FROM qs$k)))
         |)""".stripMargin
    }
    s"""WITH pts AS (
       |  SELECT l_quantity AS x1, l_extendedprice AS yv FROM lineitem
       |), taus AS (SELECT 0.5 AS tau),
       |qs0 AS (
       |  SELECT sum(1.0) AS h11, sum(x1) AS h12, sum(x1*x1) AS h22,
       |    sum(yv) AS g1, sum(x1*yv) AS g2
       |  FROM pts
       |),
       |qit0 AS (
       |  SELECT t.tau,
       |    (g1 * h22 - h12 * g2) / det AS b0,
       |    (h11 * g2 - h12 * g1) / det AS b1
       |  FROM (SELECT *, h11 * h22 - h12 * h12 AS det FROM qs0) CROSS JOIN taus t
       |),
       |${irlsStep(1)},
       |${irlsStep(2)},
       |${irlsStep(3)}
       |SELECT tau, round(b0, 6) AS intercept, round(b1, 6) AS slope
       |FROM qit3 ORDER BY tau""".stripMargin
  }

  /** Cumulative Poisson(1) CDF thresholds for draws 0..6 (a u above the
    * last threshold draws 7 — the truncated tail carries ~1e-5 mass,
    * truncated identically in both engines). The SAME IEEE doubles feed
    * the Spark weight columns (via lit) and the DuckDB oracle SQL (via
    * toString, which round-trips doubles exactly). */
  private val PoissonCdf: Seq[Double] = {
    var term = math.exp(-1.0)
    var cum = 0.0
    (0 to 6).map { k =>
      if (k > 0) term /= k
      cum += term
      cum
    }
  }

  /** Pinned 8-replicate Poisson bootstrap of the two-fold decomposition
    * (see the q_bootstrap8 entry): per-(row, rep) draws from the
    * content-keyed hash56 uniform, per-rep weighted group means and the
    * 2x2 Cramer slope, components and stddev_samp SE over the reps. */
  private val bootstrap8Sql = {
    val pois = PoissonCdf.zipWithIndex
      .map { case (t, i) => s"WHEN u < $t THEN $i.0" }
      .mkString("CASE ", " ", s" ELSE ${PoissonCdf.size}.0 END")
    // Carter-Wegman draws: two md5-derived 56-bit bases per row, one
    // affine combo per replicate — identical arithmetic to the Spark
    // side's hash56-based lanes (see the q_bootstrap8 entry)
    s"""WITH bpts AS (
       |  SELECT l_linestatus AS grp, l_quantity AS x1, l_extendedprice AS yv,
       |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
       |      || ':' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
       |      || ':' || l_linestatus AS key
       |  FROM lineitem
       |),
       |bbase AS (
       |  SELECT grp, x1, yv,
       |    ('0x' || substr(md5('a:' || key), 1, 14))::BIGINT AS h1,
       |    ('0x' || substr(md5('b:' || key), 1, 14))::BIGINT AS h2
       |  FROM bpts
       |),
       |bsums AS (
       |  SELECT grp, 0 AS rep, sum(1.0) AS sw, sum(x1) AS swx,
       |    sum(yv) AS swy, sum(x1*x1) AS swxx, sum(x1*yv) AS swxy
       |  FROM bpts GROUP BY grp
       |  UNION ALL
       |  SELECT grp, rep, sum(w), sum(w*x1), sum(w*yv), sum(w*x1*x1),
       |    sum(w*x1*yv)
       |  FROM (
       |    SELECT grp, x1, yv, rep, $pois AS w
       |    FROM (
       |      SELECT p.grp, p.x1, p.yv, r.r AS rep,
       |        ((p.h1 + r.r * p.h2) % 72057594037927936)
       |          / 72057594037927936.0 AS u
       |      FROM bbase p
       |      CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) r(r)
       |    )
       |  ) GROUP BY grp, rep
       |),
       |bcomp AS (
       |  SELECT a.rep,
       |    a.swy / a.sw - b.swy / b.sw AS gap,
       |    (a.swx / a.sw - b.swx / b.sw)
       |      * ((b.sw * b.swxy - b.swx * b.swy)
       |         / (b.sw * b.swxx - b.swx * b.swx)) AS explained
       |  FROM (SELECT * FROM bsums WHERE grp = 'O') a
       |  JOIN (SELECT * FROM bsums WHERE grp = 'F') b USING (rep)
       |)
       |SELECT component, round(est, 6) AS estimate, round(se, 6) AS se
       |FROM (
       |  SELECT 'gap' AS component,
       |    max(CASE WHEN rep = 0 THEN gap END) AS est,
       |    stddev_samp(CASE WHEN rep > 0 THEN gap END) AS se FROM bcomp
       |  UNION ALL
       |  SELECT 'explained',
       |    max(CASE WHEN rep = 0 THEN explained END),
       |    stddev_samp(CASE WHEN rep > 0 THEN explained END) FROM bcomp
       |  UNION ALL
       |  SELECT 'unexplained',
       |    max(CASE WHEN rep = 0 THEN gap - explained END),
       |    stddev_samp(CASE WHEN rep > 0 THEN gap - explained END) FROM bcomp
       |) ORDER BY component""".stripMargin
  }

  /** Machado-Mata with everything pinned (see the q_mm_newton3 entry):
    * the per-group 3-iteration IRLS chain is the q_quantreg_newton3
    * algebra with the group column riding through every CTE; the
    * lower-bound quantile pick (P11, `quantile_decomposition.rs:164-171`)
    * is row_number at floor(n*q), capped at n-1 — value-at-rank is
    * well-defined under ties because tied rows share the value. */
  private val mmNewton3Sql = {
    def irlsStep(k: Int): String = {
      val prev = if (k == 1) "mit0" else s"mit${k - 1}"
      s"""ms$k AS (
         |  SELECT grp, sum(w) AS h11, sum(w*x1) AS h12, sum(w*x1*x1) AS h22,
         |    sum(w*yv) AS g1, sum(w*x1*yv) AS g2
         |  FROM (
         |    SELECT p.grp, p.x1, p.yv,
         |      (CASE WHEN p.yv - (b.b0 + b.b1 * p.x1) > 0.0
         |        THEN 0.5 ELSE 0.5 END)
         |        / greatest(abs(p.yv - (b.b0 + b.b1 * p.x1)), 1e-6) AS w
         |    FROM mpts p JOIN $prev b ON p.grp = b.grp
         |  ) GROUP BY grp
         |), mit$k AS (
         |  SELECT grp,
         |    (g1 * a22 - h12 * g2) / det AS b0,
         |    (a11 * g2 - h12 * g1) / det AS b1
         |  FROM (SELECT *, a11 * a22 - h12 * h12 AS det FROM (
         |    SELECT grp, h12, g1, g2, h11 + lam AS a11, h22 + lam AS a22
         |    FROM (SELECT *, 1e-10 * ((h11 + h22) / 2.0 + 1.0) AS lam FROM ms$k)))
         |)""".stripMargin
    }
    s"""WITH mpts AS (
       |  SELECT l_linestatus AS grp, l_quantity AS x1, l_extendedprice AS yv
       |  FROM lineitem WHERE l_linestatus IN ('F', 'O')
       |),
       |ms0 AS (
       |  SELECT grp, sum(1.0) AS h11, sum(x1) AS h12, sum(x1*x1) AS h22,
       |    sum(yv) AS g1, sum(x1*yv) AS g2
       |  FROM mpts GROUP BY grp
       |),
       |mit0 AS (
       |  SELECT grp,
       |    (g1 * h22 - h12 * g2) / det AS b0,
       |    (h11 * g2 - h12 * g1) / det AS b1
       |  FROM (SELECT *, h11 * h22 - h12 * h12 AS det FROM ms0)
       |),
       |${irlsStep(1)},
       |${irlsStep(2)},
       |${irlsStep(3)},
       |preds AS (
       |  SELECT 'AA' AS pool, b.b0 + b.b1 * p.x1 AS v
       |    FROM mpts p, (SELECT * FROM mit3 WHERE grp = 'F') b
       |    WHERE p.grp = 'F'
       |  UNION ALL
       |  SELECT 'AB', b.b0 + b.b1 * p.x1
       |    FROM mpts p, (SELECT * FROM mit3 WHERE grp = 'O') b
       |    WHERE p.grp = 'F'
       |  UNION ALL
       |  SELECT 'BB', b.b0 + b.b1 * p.x1
       |    FROM mpts p, (SELECT * FROM mit3 WHERE grp = 'O') b
       |    WHERE p.grp = 'O'
       |),
       |ranked AS (
       |  SELECT pool, v, row_number() OVER (PARTITION BY pool ORDER BY v) AS rn,
       |    count(*) OVER (PARTITION BY pool) AS n
       |  FROM preds
       |),
       |qlist AS (SELECT * FROM (VALUES (0.1), (0.5), (0.9)) t(q)),
       |picks AS (
       |  SELECT q.q, r.pool, r.v
       |  FROM ranked r JOIN qlist q
       |    ON r.rn = least(CAST(floor(r.n * q.q) AS BIGINT), r.n - 1) + 1
       |)
       |SELECT 'q' || CAST(CAST(q * 100 AS INT) AS VARCHAR) AS quantile,
       |  round(aa.v - bb.v, 6) AS gap,
       |  round(ab.v - bb.v, 6) AS characteristics,
       |  round(aa.v - ab.v, 6) AS coefficients
       |FROM (SELECT q, v FROM picks WHERE pool = 'AA') aa
       |JOIN (SELECT q, v FROM picks WHERE pool = 'AB') ab USING (q)
       |JOIN (SELECT q, v FROM picks WHERE pool = 'BB') bb USING (q)
       |ORDER BY quantile""".stripMargin
  }

  /** Pinned-logit propensity-score matching: 3 IRLS iterations on
    * [1, c_acctbal] (2x2 plain Cramer — `Logit.fit` uses no ridge),
    * clamped sigmoid scores, then the q_matching_knn crossJoin + rank
    * match on squared score distance with ties broken by control id. */
  private val psmNewton3Sql = {
    def logit2Step(k: Int): String = {
      val prev = if (k == 1) "lit0" else s"lit${k - 1}"
      s"""ls$k AS (
         |  SELECT
         |    sum(w) AS h11, sum(w*x1) AS h12, sum(w*x1*x1) AS h22,
         |    sum(w*z) AS g1, sum(w*x1*z) AS g2
         |  FROM (
         |    SELECT x1, w, xb + (y - p) / w AS z FROM (
         |      SELECT x1, y, xb, p, p * (1.0 - p) AS w FROM (
         |        SELECT x1, y, xb,
         |          greatest(least(1.0 / (1.0 + exp(-xb)), 1.0 - 1e-10), 1e-10) AS p
         |        FROM (
         |          SELECT x1, y, b.b0 + b.b1 * x1 AS xb
         |          FROM pcust CROSS JOIN $prev b)
         |      )
         |    )
         |  )
         |), lit$k AS (
         |  SELECT
         |    (g1 * h22 - h12 * g2) / det AS b0,
         |    (h11 * g2 - h12 * g1) / det AS b1
         |  FROM (SELECT *, h11 * h22 - h12 * h12 AS det FROM ls$k)
         |)""".stripMargin
    }
    s"""WITH pcust AS (
       |  SELECT c_custkey AS cid, c_acctbal AS x1, c_mktsegment AS seg,
       |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS y
       |  FROM customer
       |), lit0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
       |${logit2Step(1)},
       |${logit2Step(2)},
       |${logit2Step(3)},
       |scored AS (
       |  SELECT cid, seg,
       |    least(greatest(1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1))), 1e-10),
       |      1.0 - 1e-10) AS ps
       |  FROM pcust CROSS JOIN lit3 b
       |),
       |pairs AS (
       |  SELECT t.cid AS tid, c.cid AS ccid, (t.ps - c.ps) * (t.ps - c.ps) AS d2
       |  FROM (SELECT * FROM scored WHERE seg = 'BUILDING') t,
       |       (SELECT * FROM scored WHERE seg <> 'BUILDING') c
       |),
       |ranked AS (SELECT ccid, row_number() OVER (
       |  PARTITION BY tid ORDER BY d2, ccid) AS rn FROM pairs),
       |cw AS (SELECT ccid, count(*) / 3.0 AS w FROM ranked
       |  WHERE rn <= 3 GROUP BY ccid)
       |SELECT c_custkey, round(CASE WHEN c_mktsegment = 'BUILDING'
       |  THEN 1.0 ELSE coalesce(w, 0.0) END, 6) AS weight
       |FROM customer LEFT JOIN cw ON c_custkey = ccid
       |ORDER BY c_custkey""".stripMargin
  }

  /** One exact AKM round as edge-table algebra (see q_akm_step1): the
    * zig-zag's first Gauss-Seidel iteration from p = 0, a scalar OLS on
    * the demeaned pair (one control, no intercept), the first FE
    * alternating-projection round on the edge residual sums, and the
    * first-firm (lexicographic min) normalization. */
  private val akmStep1Sql =
    """WITH pts AS (
      |  SELECT 'w' || CAST(l_suppkey % 200 AS VARCHAR) AS w,
      |         'f' || CAST(l_partkey % 50 AS VARCHAR) AS f,
      |         l_extendedprice AS yv, l_quantity AS xv
      |  FROM lineitem
      |),
      |edges AS (
      |  SELECT w, f, count(*) * 1.0 AS n, sum(yv) AS s0, sum(xv) AS s1
      |  FROM pts GROUP BY w, f
      |),
      |aw AS (
      |  SELECT w, sum(n) AS wn,
      |    sum(s0) / sum(n) AS a0, sum(s1) / sum(n) AS a1
      |  FROM edges GROUP BY w
      |),
      |fs AS (
      |  SELECT f, sum(n) AS fn, sum(s0) AS fs0, sum(s1) AS fs1
      |  FROM edges GROUP BY f
      |),
      |pf AS (
      |  SELECT e.f,
      |    (max(fs.fs0) - sum(e.n * a.a0)) / max(fs.fn) AS p0,
      |    (max(fs.fs1) - sum(e.n * a.a1)) / max(fs.fn) AS p1v
      |  FROM edges e
      |    JOIN aw a ON a.w = e.w
      |    JOIN fs ON fs.f = e.f
      |  GROUP BY e.f
      |),
      |bsolve AS (
      |  SELECT sum(d1 * d0) / sum(d1 * d1) AS b FROM (
      |    SELECT p.yv - a.a0 - q.p0 AS d0, p.xv - a.a1 - q.p1v AS d1
      |    FROM pts p JOIN aw a ON a.w = p.w JOIN pf q ON q.f = p.f)
      |),
      |aw2 AS (
      |  SELECT e.w, sum(e.s0 - b.b * e.s1) / max(a.wn) AS alpha
      |  FROM edges e CROSS JOIN bsolve b JOIN aw a ON a.w = e.w
      |  GROUP BY e.w
      |),
      |pf2 AS (
      |  SELECT e.f,
      |    (sum(e.s0 - b.b * e.s1) - sum(e.n * w2.alpha)) / max(fs.fn) AS psi
      |  FROM edges e CROSS JOIN bsolve b
      |    JOIN aw2 w2 ON w2.w = e.w
      |    JOIN fs ON fs.f = e.f
      |  GROUP BY e.f
      |)
      |SELECT f AS firm,
      |  round(psi - (SELECT psi FROM pf2 WHERE f = (SELECT min(f) FROM pf2)), 6)
      |    AS effect
      |FROM pf2 ORDER BY firm""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_logit_newton3" -> logitNewton3Sql,
    "q_probit_newton3" -> probitNewton3Sql,
    "q_dfl_newton3" -> dflNewton3Sql,
    "q_heckman_newton3" -> heckmanNewton3Sql,
    "q_quantreg_newton3" -> quantregNewton3Sql,
    "q_mm_newton3" -> mmNewton3Sql,
    "q_bootstrap8" -> bootstrap8Sql,
    "q_matching_psm_newton3" -> psmNewton3Sql,
    "q_akm_step1" -> akmStep1Sql,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_mktseg_revenue" ->
      """SELECT c_mktsegment,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_top_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_union" ->
      """SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 6) AS sum_qty
        |FROM (
        |  SELECT * FROM lineitem WHERE l_linestatus = 'F'
        |  UNION ALL SELECT * FROM lineitem WHERE l_linestatus = 'O'
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_with_orders FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_without_orders FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_group_means" ->
      """SELECT l_returnflag,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_weighted_mean" ->
      """SELECT l_linestatus,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_quantile_t7" ->
      """SELECT idx, round(q, 6) AS quantile FROM (
        |  SELECT 1 AS idx, quantile_cont(l_extendedprice, 0.10) AS q FROM lineitem
        |  UNION ALL SELECT 2, quantile_cont(l_extendedprice, 0.25) FROM lineitem
        |  UNION ALL SELECT 3, quantile_cont(l_extendedprice, 0.50) FROM lineitem
        |  UNION ALL SELECT 4, quantile_cont(l_extendedprice, 0.75) FROM lineitem
        |  UNION ALL SELECT 5, quantile_cont(l_extendedprice, 0.90) FROM lineitem
        |) ORDER BY idx""".stripMargin,

    "q_silverman" ->
      """SELECT l_linestatus,
        |  round(0.9 * least(stddev_samp(l_extendedprice),
        |    (quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25)) / 1.34)
        |    * pow(count(*), -0.2), 6) AS bandwidth
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_onehot_means" ->
      """SELECT l_linestatus,
        |  round(avg(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END), 6) AS "mean_l_returnflag_N",
        |  round(avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6) AS "mean_l_returnflag_R"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_total_gap" ->
      """SELECT round(
        |  avg(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END) -
        |  avg(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 6) AS total_gap
        |FROM lineitem""".stripMargin,

    "q_ols_group" ->
      """SELECT l_returnflag,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(sqrt(regr_syy(l_extendedprice, l_quantity)
        |    * (1 - pow(corr(l_extendedprice, l_quantity), 2))
        |    / (count(*) - 2)), 6) AS resid_stddev
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_wls_group" ->
      """WITH s AS (
        |  SELECT l_linestatus AS lvl, sum(l_quantity) AS sw,
        |    sum(l_quantity * l_discount) AS swx,
        |    sum(l_quantity * l_extendedprice) AS swy,
        |    sum(l_quantity * l_discount * l_discount) AS swxx,
        |    sum(l_quantity * l_discount * l_extendedprice) AS swxy
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT lvl AS l_linestatus,
        |  round((swy - (swxy - swx * swy / sw) / (swxx - swx * swx / sw) * swx) / sw, 6) AS intercept,
        |  round((swxy - swx * swy / sw) / (swxx - swx * swx / sw), 6) AS slope
        |FROM s ORDER BY 1""".stripMargin,

    "q_vif" ->
      """WITH c AS (SELECT corr(l_quantity, l_discount) AS r FROM lineitem)
        |SELECT variable, round(1.0 / (1.0 - r * r), 6) AS vif FROM c,
        |  (VALUES ('l_quantity'), ('l_discount')) AS v(variable)
        |ORDER BY variable""".stripMargin,

    "q_decomp_twofold" -> (gRegCte +
      """
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * b.slope, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * b.slope, 6) AS unexplained
        |FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin),

    "q_decomp_threefold" -> (gRegCte +
      """
        |SELECT round((a.xbar - b.xbar) * b.slope, 6) AS endowments,
        |  round((a.icept - b.icept) + b.xbar * (a.slope - b.slope), 6) AS coefficients,
        |  round((a.xbar - b.xbar) * (a.slope - b.slope), 6) AS interaction
        |FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin),

    "q_decomp_detailed" -> (gRegCte +
      """
        |SELECT variable, round(explained, 6) AS explained,
        |  round(unexplained, 6) AS unexplained FROM (
        |  SELECT 'intercept' AS variable, 0.0 AS explained,
        |    a.icept - b.icept AS unexplained
        |  FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'
        |  UNION ALL
        |  SELECT 'l_quantity', (a.xbar - b.xbar) * b.slope,
        |    a.xbar * (a.slope - b.slope)
        |  FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'
        |) ORDER BY variable""".stripMargin),

    "q_decomp_pooled" ->
      """WITH g AS (
        |  SELECT l_linestatus AS lvl, avg(l_extendedprice) AS ybar,
        |         avg(l_quantity) AS xbar
        |  FROM lineitem GROUP BY 1
        |), p AS (
        |  -- pooled OLS of y on [1, x, d] via 3x3 normal equations (Cramer)
        |  SELECT count(*) AS n, sum(l_quantity) AS sx,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sd,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_quantity * CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sxd,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sdd,
        |    sum(l_extendedprice) AS sy,
        |    sum(l_quantity * l_extendedprice) AS sxy,
        |    sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0.0 END) AS sdy
        |  FROM lineitem
        |), beta AS (
        |  SELECT
        |    ((sxy - sx * sy / n) * (sdd - sd * sd / n) - (sdy - sd * sy / n) * (sxd - sx * sd / n))
        |    / ((sxx - sx * sx / n) * (sdd - sd * sd / n) - (sxd - sx * sd / n) * (sxd - sx * sd / n))
        |      AS slope_star
        |  FROM p
        |)
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * beta.slope_star, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * beta.slope_star, 6) AS unexplained
        |FROM g a, g b, beta WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin,

    "q_jmp" ->
      """WITH g1 AS (
        |  SELECT l_linestatus AS lvl, avg(l_extendedprice) AS ybar,
        |    avg(l_quantity) AS xbar,
        |    regr_slope(l_extendedprice, l_quantity) AS slope
        |  FROM lineitem WHERE year(l_shipdate) <= 1997 GROUP BY 1
        |), g2 AS (
        |  SELECT l_linestatus AS lvl, avg(l_extendedprice) AS ybar,
        |    avg(l_quantity) AS xbar,
        |    regr_slope(l_extendedprice, l_quantity) AS slope
        |  FROM lineitem WHERE year(l_shipdate) > 1997 GROUP BY 1
        |), c1 AS (
        |  SELECT a.ybar - b.ybar AS gap,
        |    (a.xbar - b.xbar) * b.slope AS explained,
        |    a.xbar - b.xbar AS dx, b.slope AS slopeb
        |  FROM g1 a, g1 b WHERE a.lvl = 'O' AND b.lvl = 'F'
        |), c2 AS (
        |  SELECT a.ybar - b.ybar AS gap,
        |    (a.xbar - b.xbar) * b.slope AS explained,
        |    a.xbar - b.xbar AS dx
        |  FROM g2 a, g2 b WHERE a.lvl = 'O' AND b.lvl = 'F'
        |)
        |SELECT round(c2.gap - c1.gap, 6) AS total_change,
        |  round((c2.dx - c1.dx) * c1.slopeb, 6) AS quantity_effect,
        |  round((c2.explained - c1.explained) - (c2.dx - c1.dx) * c1.slopeb, 6)
        |    AS price_effect,
        |  round((c2.gap - c2.explained) - (c1.gap - c1.explained), 6) AS gap_effect
        |FROM c1, c2""".stripMargin,

    "q_matching_knn" ->
      """WITH t AS (SELECT c_custkey AS tid, c_acctbal AS tx
        |  FROM customer WHERE c_mktsegment = 'BUILDING'),
        |c AS (SELECT c_custkey AS cid, c_acctbal AS cx
        |  FROM customer WHERE c_mktsegment <> 'BUILDING'),
        |pairs AS (SELECT tid, cid, (tx - cx) * (tx - cx) AS d2 FROM t, c),
        |ranked AS (SELECT cid, row_number() OVER (
        |  PARTITION BY tid ORDER BY d2, cid) AS rn FROM pairs),
        |cw AS (SELECT cid, count(*) / 3.0 AS w FROM ranked
        |  WHERE rn <= 3 GROUP BY cid)
        |SELECT c_custkey, round(CASE WHEN c_mktsegment = 'BUILDING'
        |  THEN 1.0 ELSE coalesce(w, 0.0) END, 6) AS weight
        |FROM customer LEFT JOIN cw ON c_custkey = cid
        |ORDER BY c_custkey""".stripMargin,

    "q_fair_wages" -> (fairCte +
      """
        |SELECT row_id, round(fair, 6) AS fair_wage,
        |  round(fair - margin, 6) AS fair_lower,
        |  round(fair + margin, 6) AS fair_upper,
        |  round(diff, 6) AS diff
        |FROM pi ORDER BY diff DESC, row_id LIMIT 20""".stripMargin),

    "q_equity_optimize" -> (fairCte +
      """, cand AS (
        |  SELECT row_id, y, diff,
        |    sum(diff) OVER (ORDER BY diff DESC, row_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        |  FROM pi WHERE diff > 1e-6
        |)
        |SELECT row_id, round(pay, 6) AS adjustment,
        |  round(y + pay, 6) AS new_wage
        |FROM (
        |  SELECT row_id, y, least(diff,
        |    greatest(0.0, 500000.0 - coalesce(prefix, 0.0))) AS pay
        |  FROM cand
        |) WHERE pay > 1e-9 ORDER BY row_id""".stripMargin),

    "q_frontier" -> (fairCte +
      """, cand AS (
        |  SELECT row_id, x, y, round(diff, 6) AS rdiff, diff,
        |    sum(round(diff, 6)) OVER (ORDER BY round(diff, 6) DESC, row_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        |  FROM pi WHERE diff > 1e-6
        |), need AS (SELECT sum(diff) * 1.1 / 4 AS stepsize FROM cand
        |), pool AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sd,
        |    sum(l_quantity) AS sx,
        |    sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END) AS sdx,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_extendedprice) AS sy,
        |    sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0.0 END) AS sdy,
        |    sum(l_quantity * l_extendedprice) AS sxy,
        |    sum(l_extendedprice * l_extendedprice) AS syy
        |  FROM lineitem
        |), delta AS (
        |  SELECT step, coalesce(sum(pay), 0.0) AS dy,
        |    coalesce(sum(pay * x), 0.0) AS dxy,
        |    coalesce(sum(2.0 * y * pay + pay * pay), 0.0) AS dyy
        |  FROM (
        |    SELECT s.step, c.x, c.y, least(c.rdiff, greatest(0.0,
        |      s.step * (SELECT stepsize FROM need) - coalesce(c.prefix, 0.0))) AS pay
        |    FROM (SELECT CAST(range AS INTEGER) AS step FROM range(5)) s
        |    CROSS JOIN cand c
        |  ) GROUP BY step
        |), solved AS (
        |  SELECT d.step, d.step * (SELECT stepsize FROM need) AS budget,
        |    p.n, p.sd, p.sx, p.sdx, p.sxx,
        |    p.sy + d.dy AS syt, p.sdy + d.dy AS sdyt,
        |    p.sxy + d.dxy AS sxyt, p.syy + d.dyy AS syyt,
        |    p.n * (p.sd * p.sxx - p.sdx * p.sdx)
        |      - p.sd * (p.sd * p.sxx - p.sdx * p.sx)
        |      + p.sx * (p.sd * p.sdx - p.sd * p.sx) AS det
        |  FROM delta d, pool p
        |), beta AS (
        |  SELECT step, budget, n, syt, sdyt, sxyt, syyt,
        |    ((syt) * (sd * sxx - sdx * sdx) - sd * (sdyt * sxx - sdx * sxyt)
        |      + sx * (sdyt * sdx - sd * sxyt)) / det AS b0,
        |    (n * (sdyt * sxx - sdx * sxyt) - (syt) * (sd * sxx - sdx * sx)
        |      + sx * (sd * sxyt - sdyt * sx)) / det AS b1,
        |    (n * (sd * sxyt - sdyt * sdx) - sd * (sd * sxyt - sdyt * sx)
        |      + (syt) * (sd * sdx - sd * sx)) / det AS b2,
        |    (n * sxx - sx * sx) / det AS inv11
        |  FROM solved
        |)
        |SELECT step, round(budget, 2) AS budget, round(t, 4) AS t_stat,
        |  abs(t) > 1.9599639845400545 AS is_significant
        |FROM (
        |  SELECT step, budget,
        |    b1 / sqrt(((syyt - (b0 * syt + b1 * sdyt + b2 * sxyt)) / (n - 3))
        |      * inv11) AS t
        |  FROM beta
        |) ORDER BY step""".stripMargin),

    "q_rif" -> (rifCte +
      """
        |SELECT s.g AS l_linestatus, round(s.q, 6) AS q_tau,
        |  round(b.h, 6) AS bandwidth, round(d.f, 6) AS density,
        |  round(avg(s.q + (0.5 - CASE WHEN l.l_extendedprice <= s.q
        |    THEN 1.0 ELSE 0.0 END) / d.f), 6) AS avg_rif
        |FROM lineitem l JOIN s ON l.l_linestatus = s.g
        |  JOIN bw b ON b.g = s.g JOIN dens d ON d.g = s.g
        |GROUP BY s.g, s.q, b.h, d.f ORDER BY 1""".stripMargin),

    "q_rif_decomp" -> (rifCte +
      """, rifd AS (
        |  SELECT l.l_linestatus AS g, l.l_quantity AS x,
        |    s.q + (0.5 - CASE WHEN l.l_extendedprice <= s.q
        |      THEN 1.0 ELSE 0.0 END) / d.f AS y
        |  FROM lineitem l JOIN s ON l.l_linestatus = s.g
        |    JOIN dens d ON d.g = s.g
        |), rg AS (
        |  SELECT g, avg(y) AS ybar, avg(x) AS xbar, regr_slope(y, x) AS slope
        |  FROM rifd GROUP BY 1
        |)
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * b.slope, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * b.slope, 6) AS unexplained
        |FROM rg a, rg b WHERE a.g = 'O' AND b.g = 'F'""".stripMargin),

    "q_kde" ->
      """WITH grid AS (
        |  SELECT CAST(range AS INTEGER) AS idx,
        |         range * CAST(0.01 AS DOUBLE) AS g
        |  FROM range(11)
        |), n AS (SELECT count(*) AS c FROM lineitem)
        |SELECT grid.idx AS idx, round(grid.g, 6) AS grid,
        |  round(sum(exp(-0.5 * pow((grid.g - l.l_discount) / 0.02, 2)))
        |    / sqrt(2 * pi()) / (n.c * 0.02), 6) AS density
        |FROM grid, lineitem l, n
        |GROUP BY grid.idx, grid.g, n.c ORDER BY idx""".stripMargin,

    "q_decomp_groupa" -> (gRegCte +
      """
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * a.slope, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * a.slope, 6) AS unexplained
        |FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin),

    "q_decomp_cotton" -> (gRegCte +
      """
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar)
        |    * (a.slope * a.n / (a.n + b.n) + b.slope * b.n / (a.n + b.n)), 6)
        |    AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar)
        |    * (a.slope * a.n / (a.n + b.n) + b.slope * b.n / (a.n + b.n)), 6)
        |    AS unexplained
        |FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin),

    "q_wls_decomp" ->
      """WITH s AS (
        |  SELECT l_linestatus AS lvl, sum(l_quantity) AS sw,
        |    sum(l_quantity * l_discount) AS swx,
        |    sum(l_quantity * l_extendedprice) AS swy,
        |    sum(l_quantity * l_discount * l_discount) AS swxx,
        |    sum(l_quantity * l_discount * l_extendedprice) AS swxy
        |  FROM lineitem GROUP BY 1
        |), g AS (
        |  SELECT lvl, swy / sw AS ybar, swx / sw AS xbar,
        |    (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS slope
        |  FROM s
        |)
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * b.slope, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * b.slope, 6) AS unexplained
        |FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin,

    "q_verify" -> (fairCte +
      """, pay AS (
        |  SELECT row_id, least(diff,
        |    greatest(0.0, 500000.0 - coalesce(prefix, 0.0))) AS pay
        |  FROM (
        |    SELECT row_id, diff,
        |      sum(diff) OVER (ORDER BY diff DESC, row_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        |    FROM pi WHERE diff > 1e-6
        |  )
        |), mut AS (
        |  SELECT b.l_linestatus, b.l_quantity,
        |    b.l_extendedprice + CASE WHEN coalesce(p.pay, 0.0) > 1e-9
        |      THEN p.pay ELSE 0.0 END AS y
        |  FROM base b LEFT JOIN pay p ON b.row_id = p.row_id
        |), g AS (
        |  SELECT l_linestatus AS lvl, avg(y) AS ybar, avg(l_quantity) AS xbar
        |  FROM mut GROUP BY 1
        |), p2 AS (
        |  SELECT count(*) AS n, sum(l_quantity) AS sx,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sd,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_quantity * CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sxd,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sdd,
        |    sum(y) AS sy, sum(l_quantity * y) AS sxy,
        |    sum(CASE WHEN l_linestatus = 'O' THEN y ELSE 0.0 END) AS sdy
        |  FROM mut
        |), beta AS (
        |  SELECT
        |    ((sxy - sx * sy / n) * (sdd - sd * sd / n) - (sdy - sd * sy / n) * (sxd - sx * sd / n))
        |    / ((sxx - sx * sx / n) * (sdd - sd * sd / n) - (sxd - sx * sd / n) * (sxd - sx * sd / n))
        |      AS slope_star
        |  FROM p2
        |)
        |SELECT round(a.ybar - b.ybar, 6) AS total_gap,
        |  round((a.xbar - b.xbar) * beta.slope_star, 6) AS explained,
        |  round((a.ybar - b.ybar) - (a.xbar - b.xbar) * beta.slope_star, 6) AS unexplained
        |FROM g a, g b, beta WHERE a.lvl = 'O' AND b.lvl = 'F'""".stripMargin),

    "q_defensibility" -> (fairCte +
      """, pay AS (
        |  SELECT row_id, least(diff,
        |    greatest(0.0, 500000.0 - coalesce(prefix, 0.0))) AS pay
        |  FROM (
        |    SELECT row_id, diff,
        |      sum(diff) OVER (ORDER BY diff DESC, row_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix
        |    FROM pi WHERE diff > 1e-6
        |  )
        |)
        |SELECT pi.row_id, round(p.pay, 6) AS adjustment,
        |  round(pi.y + p.pay, 6) AS new_wage,
        |  round(pi.fair, 6) AS fair_wage,
        |  round(pi.fair - pi.margin, 6) AS fair_lower,
        |  (pi.y + p.pay) >= (pi.fair - pi.margin) - 1.0 AS is_defensible
        |FROM pi JOIN pay p ON pi.row_id = p.row_id
        |WHERE p.pay > 1e-9 ORDER BY pi.row_id""".stripMargin),

    "q_decomp_yun" ->
      """WITH cells AS (
        |  SELECT l_linestatus AS g, l_returnflag AS rf,
        |         avg(l_extendedprice) AS m, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), gm AS (
        |  SELECT g,
        |    max(CASE WHEN rf = 'A' THEN m END) AS mA,
        |    max(CASE WHEN rf = 'N' THEN m END) AS mN,
        |    max(CASE WHEN rf = 'R' THEN m END) AS mR,
        |    CAST(sum(CASE WHEN rf = 'N' THEN n ELSE 0 END) AS DOUBLE) / sum(n) AS shN,
        |    CAST(sum(CASE WHEN rf = 'R' THEN n ELSE 0 END) AS DOUBLE) / sum(n) AS shR
        |  FROM cells GROUP BY g
        |), nb AS (
        |  -- per-group OLS on [1, RF_N, RF_R] = cell means; Yun-normalize
        |  -- over m = 3 levels (normalization.rs:5-51)
        |  SELECT g,
        |    mA + ((mN - mA) + (mR - mA)) / 3.0 AS icept,
        |    (mN - mA) - ((mN - mA) + (mR - mA)) / 3.0 AS bN,
        |    (mR - mA) - ((mN - mA) + (mR - mA)) / 3.0 AS bR,
        |    -(((mN - mA) + (mR - mA)) / 3.0) AS bBase,
        |    shN, shR, 1.0 - shN - shR AS shBase
        |  FROM gm
        |)
        |SELECT variable, round(explained, 6) AS explained,
        |  round(unexplained, 6) AS unexplained FROM (
        |  SELECT 'intercept' AS variable, 0.0 AS explained,
        |    a.icept - b.icept AS unexplained
        |  FROM nb a, nb b WHERE a.g = 'O' AND b.g = 'F'
        |  UNION ALL
        |  SELECT 'l_returnflag_N', (a.shN - b.shN) * b.bN,
        |    a.shN * (a.bN - b.bN)
        |  FROM nb a, nb b WHERE a.g = 'O' AND b.g = 'F'
        |  UNION ALL
        |  SELECT 'l_returnflag_R', (a.shR - b.shR) * b.bR,
        |    a.shR * (a.bR - b.bR)
        |  FROM nb a, nb b WHERE a.g = 'O' AND b.g = 'F'
        |  UNION ALL
        |  SELECT 'l_returnflag_A', (a.shBase - b.shBase) * b.bBase,
        |    a.shBase * (a.bBase - b.bBase)
        |  FROM nb a, nb b WHERE a.g = 'O' AND b.g = 'F'
        |) ORDER BY variable""".stripMargin,

    "q_g1_decompose" ->
      """WITH g AS (
        |  SELECT l_linestatus AS lvl, avg(l_extendedprice) AS ybar,
        |         avg(l_quantity) AS xbar, count(*) AS n
        |  FROM lineitem GROUP BY 1
        |), p AS (
        |  SELECT count(*) AS n, sum(l_quantity) AS sx,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sd,
        |    sum(l_quantity * l_quantity) AS sxx,
        |    sum(l_quantity * CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sxd,
        |    sum(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS sdd,
        |    sum(l_extendedprice) AS sy,
        |    sum(l_quantity * l_extendedprice) AS sxy,
        |    sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice ELSE 0.0 END) AS sdy
        |  FROM lineitem
        |), beta AS (
        |  SELECT
        |    ((sxy - sx * sy / n) * (sdd - sd * sd / n) - (sdy - sd * sy / n) * (sxd - sx * sd / n))
        |    / ((sxx - sx * sx / n) * (sdd - sd * sd / n) - (sxd - sx * sd / n) * (sxd - sx * sd / n))
        |      AS slope_star
        |  FROM p
        |), comp AS (
        |  SELECT a.ybar - b.ybar AS total_gap,
        |    (a.xbar - b.xbar) * beta.slope_star AS explained,
        |    a.n AS n_o, b.n AS n_f, a.ybar AS mean_o, b.ybar AS mean_f
        |  FROM g a, g b, beta WHERE a.lvl = 'O' AND b.lvl = 'F'
        |)
        |SELECT round(total_gap, 6) AS total_gap,
        |  round(explained, 6) AS explained_gap,
        |  round(total_gap - explained, 6) AS unexplained_gap,
        |  round(explained / total_gap * 100.0, 6) AS explained_pct,
        |  round((total_gap - explained) / total_gap * 100.0, 6) AS unexplained_pct,
        |  n_o + n_f AS total_count, n_f AS group_a_count, n_o AS group_b_count,
        |  round(mean_f, 6) AS group_a_mean, round(mean_o, 6) AS group_b_mean
        |FROM comp""".stripMargin,

    "q_budget_greedy" -> (gRegCte +
      """, resid AS (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |    l.l_extendedprice - (g.icept + g.slope * l.l_quantity) AS residual
        |  FROM lineitem l JOIN g ON g.lvl = 'F'
        |  WHERE l.l_linestatus = 'F'
        |), gap AS (
        |  SELECT a.ybar - b.ybar AS total_gap, b.n AS n_b
        |  FROM g a, g b WHERE a.lvl = 'O' AND b.lvl = 'F'
        |), cand AS (
        |  SELECT r.*, sum(-residual) OVER (
        |      ORDER BY residual, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS spent_before
        |  FROM resid r WHERE residual < 0
        |)
        |SELECT l_orderkey, l_linenumber, round(residual, 6) AS residual,
        |  round(adjustment, 6) AS adjustment FROM (
        |  SELECT c.*, greatest(0.0, least(-residual,
        |    least(500000.0, (SELECT total_gap * n_b FROM gap)) - coalesce(spent_before, 0.0)))
        |    AS adjustment
        |  FROM cand c
        |) WHERE adjustment > 1e-9
        |ORDER BY residual, l_orderkey, l_linenumber""".stripMargin)
  )
}
