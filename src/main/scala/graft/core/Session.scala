package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session bootstrap: every main and the shared test session
  * build their `SparkSession` here, so one query gets one partition
  * layout and one time zone whichever surface runs it. Gram sums are
  * bit-identical only at a fixed layout, so the defaults must not
  * differ between surfaces. */
object Session {
  /** Session settings from the environment. `SPARK_GRAFT_CPUS` (default
    * 4) sets the local core count and the shuffle partitions;
    * `SPARK_GRAFT_MASTER` overrides the master (default `local[cpus]`).
    * Time zone is pinned to UTC, so hour windows bin the same
    * everywhere. Spark logs at ERROR from the start of its context. */
  def settings(env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Seq(
      "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "ERROR")
  }

  /** The session from [[settings]], with the `graft.*` loggers at WARN
    * so the engine's own warnings print under Spark's root ERROR. */
  def create(appName: String, env: Map[String, String] = sys.env): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(settings(env).toMap).getOrCreate()
    Configurator.setLevel("graft", Level.WARN)
    spark
  }
}
