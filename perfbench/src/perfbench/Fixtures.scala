package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic fixture tables shaped like the engine's test data:
  * `lineitem` (600k rows, the sf0.1 size), `documents` (1k rows, some
  * exact and near duplicates) and `embeddings` (1k unit vectors in ten
  * clusters).
  *
  * Every value is a pure function of the row id through `xxhash64`, so
  * the tables are identical on every machine and at any parallelism.
  * Each table is written as ONE parquet file holding one row group, the
  * layout of the original fixtures: a scan of it is a single split, and
  * the operators' own repartitioning decides the parallelism. */
object Fixtures {

  val Tables: Seq[String] = Seq("lineitem", "documents", "embeddings")

  /** Uniform [0, 1) from the row id and a per-column salt. */
  private def u(salt: Int, id: String = "id"): String =
    s"(pmod(xxhash64($salt, $id), 1000000) / 1000000.0)"

  def lineitem(spark: SparkSession, rows: Long = 600000L): DataFrame =
    spark.range(rows).selectExpr(
      s"1 + cast(floor(${u(1)} * 150000) as bigint) as l_orderkey",
      s"1 + cast(floor(${u(2)} * 20000) as bigint) as l_partkey",
      s"1 + cast(floor(${u(3)} * 1000) as bigint) as l_suppkey",
      s"1 + cast(floor(${u(4)} * 7) as int) as l_linenumber",
      s"cast(1 + floor(${u(5)} * 50) as double) as l_quantity",
      s"round(900.0 + ${u(6)} * 104100.0, 2) as l_extendedprice",
      s"floor(${u(7)} * 11) / 100.0 as l_discount",
      s"floor(${u(8)} * 9) / 100.0 as l_tax",
      s"element_at(array('A', 'N', 'R'), 1 + cast(floor(${u(9)} * 3) as int)) as l_returnflag",
      s"if(${u(10)} < 0.5, 'F', 'O') as l_linestatus",
      s"cast(date_add(date'1995-01-02', cast(floor(${u(11)} * 2498) as int)) as timestamp) as l_shipdate")

  private val Vocab = Seq("a", "the", "batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash",
    "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "vector", "customer",
    "join", "index", "shuffle", "plan", "task", "stage", "cache", "disk",
    "memory", "node", "driver")

  /** Documents of 20 to 60 words. About 6% copy an earlier document's word sequence:
    * one in five verbatim (exact duplicates), the rest with one extra
    * word appended (near duplicates above 0.8 word-3-gram Jaccard). */
  def documents(spark: SparkSession, rows: Long = 1000L): DataFrame = {
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(rows)
      .selectExpr("id",
        s"if(${u(20)} < 0.06 and id > 0, cast(floor(${u(21)} * id) as bigint), id) as src",
        s"${u(22)} < 0.2 as verbatim")
      .selectExpr("id", "src", "verbatim",
        s"20 + cast(floor(${u(23, "src")} * 40) as int) as n_words")
      .selectExpr(
        "id as doc_id",
        s"""concat_ws(' ', transform(sequence(0, n_words - 1), j ->
           |  element_at($vocab, 1 + cast(pmod(xxhash64(24, src, j), ${Vocab.size}) as int))))
           |  || if(src = id or verbatim, '', ' edited') as text""".stripMargin,
        s"element_at(array('en', 'en', 'en', 'en', 'de', 'es', 'fr', 'zh'), 1 + cast(floor(${u(25)} * 8) as int)) as lang",
        s"concat('src', cast(floor(${u(26)} * 20) as int)) as source")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
  }

  /** Unit vectors of dimension 64 in ten clusters: each vector is a
    * cluster centre plus independent Gaussian noise, weighted so that a
    * few per cent of same-cluster pairs exceed cosine 0.4. */
  def embeddings(spark: SparkSession, rows: Long = 1000L): DataFrame = {
    def gauss(salt: Int, key: String) =
      s"""(sqrt(-2.0 * ln((pmod(xxhash64($salt, $key, k), 1000000) + 0.5) / 1000000.0))
         |  * cos(2.0 * pi() * (pmod(xxhash64(${salt + 1}, $key, k), 1000000) / 1000000.0)))""".stripMargin
    spark.range(rows)
      .selectExpr("id as vec_id", s"cast(floor(${u(30)} * 10) as int) as label")
      .selectExpr("vec_id", "label",
        s"transform(sequence(0, 63), k -> 0.33 * ${gauss(31, "label")} + ${gauss(33, "vec_id")}) as raw")
      .selectExpr("vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (s, y) -> s + y * y)) as float)) as embedding",
        "label")
  }

  /** Writes the three tables under `dir` as `<name>.parquet` and marks
    * the directory complete with a `_READY` file. */
  def write(spark: SparkSession, dir: String): Unit = {
    val frames = Seq(lineitem(spark), documents(spark), embeddings(spark))
    Tables.zip(frames).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 256L * 1024 * 1024)
        .parquet(s"$dir/$name.parquet")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_READY"),
      Array.emptyByteArray)
  }

  /** `Fixtures <dir>`: writes the tables into `dir`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir") + "/spark-local")
      .config("spark.sql.warehouse.dir", System.getProperty("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, args(0)) finally spark.stop()
  }
}
