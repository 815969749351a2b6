package graft

import graft.core.Jobs
import java.util.concurrent.atomic.AtomicBoolean

/** `Jobs.par2`'s failure path and `Jobs.labeled`'s nesting, on synthetic
  * bodies. */
class JobsSpec extends SparkSpec {

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
}
