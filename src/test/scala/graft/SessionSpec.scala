package graft

import graft.core.Session

/** The one session bootstrap: its settings from the environment, and the
  * shared test session built from the same defaults as every main. */
class SessionSpec extends SparkSpec {

  test("defaults: local[4], 4 shuffle partitions, UTC, UI off") {
    assert(Session.settings(Map.empty).toMap == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "ERROR"))
  }

  test("SPARK_GRAFT_CPUS sets both the local cores and the partitions") {
    val s = Session.settings(Map("SPARK_GRAFT_CPUS" -> "8")).toMap
    assert(s("spark.master") == "local[8]")
    assert(s("spark.sql.shuffle.partitions") == "8")
  }

  test("SPARK_GRAFT_MASTER overrides the master, not the partitions") {
    val s = Session.settings(Map(
      "SPARK_GRAFT_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "3")).toMap
    assert(s("spark.master") == "local[2]")
    assert(s("spark.sql.shuffle.partitions") == "3")
  }

  test("the shared test session carries the production defaults") {
    Session.settings(Map.empty).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }
}
