package graft

import graft.core.Session
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  /** The production bootstrap at its defaults (`local[4]`, 4 shuffle
    * partitions, UTC), whatever `SPARK_GRAFT_*` the JVM was started
    * with, so specs run at the layout Verify pins. */
  lazy val spark: SparkSession = Session.create("graft-test", env = Map.empty)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(path: String): String = s"/root/testdata/$path"
}
