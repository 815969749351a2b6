package graft.tools

import graft.core.Session
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for the named declared queries to
  * `<outDir>/<query>_<suffix>.txt` — the plan receipts the round
  * deliverables ask for. Queries whose surface result is a driver-
  * assembled local frame (estimator outputs) dump the trivial
  * LocalTableScan plan; their real receipts are job profiles
  * (`ProfileMain`), which OPTIMIZATION notes cite instead.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  *        [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    Files.createDirectories(outDir)
    val spark = Session.create("graft-plandump")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $n -> ${outDir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
