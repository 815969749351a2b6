package graft

import graft.core.{Gram, Jobs}
import graft.equity.{EquityConfig, Frontier}
import graft.estimators.Probit
import graft.ext.{Embeddings, Sketches}
import graft.prep.Prep
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `Jobs.par2`'s failure path, `Jobs.labeled`'s nesting, and
  * `Jobs.treeReduce`'s result and job labels. */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  /** The labels of the jobs `body` submits, in submission order. A
    * sentinel job closes the window: listener events arrive in order,
    * so once its start is seen every earlier job start has been too. */
  private def labelsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }
    }
    val sentinel = s"jobs-spec sentinel ${System.nanoTime}"
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
}
