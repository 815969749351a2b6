package graft

import graft.decompose._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: full Oaxaca–Blinder mean
    * decomposition (pooled reference, categorical predictor, bootstrap
    * inference) of the l_extendedprice gap between l_linestatus groups.
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val res = Oaxaca.run(li, OaxacaConfig(
      outcome = "l_extendedprice", group = "l_linestatus", reference = "F",
      predictors = Seq("l_quantity", "l_discount"),
      categorical = Seq("l_returnflag"),
      refCoefficients = RefCoefficients.Pooled,
      bootstrapReps = 20, seed = 42L))
    res.aggregateDf(spark)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.queries ++ QueriesExt.queries

  /** The queries named in `SPARK_GRAFT_ONLY` (comma-separated), or all
    * of them when it is unset: the local-iteration filter that Bench
    * and Verify share. */
  def selected: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    queries.filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.oracleSql ++ QueriesExt.oracleSql
}
