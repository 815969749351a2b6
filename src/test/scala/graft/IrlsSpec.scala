package graft

import graft.core._
import graft.prep.Prep
import org.apache.spark.sql.functions._

/** The IRLS design cache accumulates exactly like the Gram scans it
  * stands for. One-partition frames: `treeAggregate` merges task results
  * in arrival order, so bit equality is only defined within a partition. */
class IrlsSpec extends SparkSpec {
  import spark.implicits._

  private def frame = {
    val rng = new scala.util.Random(31)
    Prep.withIntercept((0 until 300).map { i =>
      val x1 = rng.nextGaussian()
      val x2 = rng.nextDouble() * 3.0
      val y = 0.3 + 1.7 * x1 - 0.4 * x2 + rng.nextGaussian()
      (y, x1, x2, 0.5 + rng.nextDouble(), rng.nextInt(3).toDouble,
        rng.nextDouble(), Seq("A", "B", "C")(i % 3))
    }.toDF("y", "x1", "x2", "w0", "w1", "w2", "g")).coalesce(1)
  }
  private val xCols = Seq(Prep.InterceptCol, "x1", "x2")

  private def assertSameBits(a: GramResult, b: GramResult): Unit = {
    def bits(v: Array[Double]) = v.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(bits(a.xtx.toArray) == bits(b.xtx.toArray), "xtx")
    assert(bits(a.xty.toArray) == bits(b.xty.toArray), "xty")
    assert(bits(Array(a.sw, a.swy, a.swyy, a.minW)) ==
      bits(Array(b.sw, b.swy, b.swyy, b.minW)), "sw/swy/swyy/minW")
    assert(a.n == b.n, "n")
  }

  test("gram with the identity working response equals Gram.compute bit for bit") {
    val df = frame
    val design = new IrlsDesign(df, "y", xCols, Seq(col("w0")))
    try {
      val g = design.gram(Array(0.1, -0.2, 0.3)) { (y, wBase, _, out) =>
        out(0) = y
        out(1) = wBase
      }
      assertSameBits(g, Gram.compute(df, "y", xCols, Some("w0")))
    } finally design.unpersist()
  }

  test("gramMulti over 2 lanes and 3 weight columns equals Gram.computeMulti") {
    val df = frame
    // lane C is outside [0, 2): dropped by both passes
    val lane = when(col("g") === "A", 0).when(col("g") === "B", 1)
    val wCols = Seq("w0", "w1", "w2")
    val design = new IrlsDesign(df, "y", xCols, wCols.map(col), lane, 2)
    try {
      val betas = Array.fill(3, 2)(Array(0.5, 0.5, 0.5))
      val g = design.gramMulti(betas, Array(0, 1, 2)) { (y, wBase, _, _, out) =>
        out(0) = y
        out(1) = wBase
      }
      val ref = Gram.computeMulti(df, xCols,
        wCols.map(w => Gram.MultiSystem("y", w)), lane, 2)
      for (l <- 0 until 2; s <- 0 until 3) {
        withClue(s"lane $l system $s: ") { assertSameBits(g(l)(s), ref(l)(s)) }
      }
    } finally design.unpersist()
  }
}
