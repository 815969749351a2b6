package graft

import graft.core.{Jobs, Session}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.collection.mutable

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

  /** The labels of the jobs `body` submits, in submission order. A
    * sentinel job closes the window: listener events arrive in order,
    * so once its start is seen every earlier job start has been too. */
  protected def labelsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }
    }
    val sentinel = s"spec sentinel ${System.nanoTime}"
    sc.addSparkListener(listener)
    try {
      body
      Jobs.labeled(spark, sentinel) { sc.parallelize(Seq(1)).count() }
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.synchronized(seen.contains(sentinel)) &&
          System.nanoTime < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    seen.synchronized(seen.takeWhile(_ != sentinel).toSeq)
  }
}
