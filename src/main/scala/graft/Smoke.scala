package graft

import graft.core.Session

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and prints the result (checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.create("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(50, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
  }
}
