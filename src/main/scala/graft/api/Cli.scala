package graft.api

import graft.core.Session
import graft.decompose._
import graft.estimators.{Akm, Matching}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** CLI surface (S8) mirroring the reference's clap arguments
  * (`oaxaca_blinder/src/main.rs:43-159`): --data, --outcome, --group,
  * --reference, --predictors, --categorical, --analysis-type
  * {mean,quantile,akm,match}, --ref-coeffs, --quantiles (one value),
  * --bootstrap-reps, --formula, --weights, --worker-col/--firm-col,
  * --k-neighbors, --matching-method, --output-json/--output-markdown.
  * A flag outside [[Flags]] is an error, not silently ignored. The
  * session comes from [[graft.core.Session]] (`SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_MASTER`).
  *
  * The `report` subcommand (first positional token, mirroring the
  * reference's `Commands::Report` — `main.rs:18-24,131-159,334-376` +
  * `templates/report.html`) runs a mean decomposition and writes the
  * standalone HTML report (S7, [[Export.toHtml]]) to `--output`.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = Session.create("oaxaca-cli")
    try execute(args, spark) finally spark.stop()
  }

  /** The whole CLI body minus session lifecycle — the e2e spec drives
    * this with the shared test session ([[main]] owns create/stop). */
  private[graft] def execute(args: Array[String], spark: SparkSession): Unit = {
    val opts0 = parseArgs(args)
    // subcommand form: `report --data ... --output ...` (the reference's
    // clap subcommand); also reachable as --analysis-type report
    val opts =
      if (args.headOption.contains("report")) {
        // a contradictory explicit --analysis-type must not be silently
        // overridden by the subcommand token
        opts0.get("analysis-type").filter(_ != "report").foreach(at =>
          sys.error(s"Conflicting invocation: 'report' subcommand with " +
            s"--analysis-type $at"))
        opts0 + ("analysis-type" -> "report")
      } else opts0
    def req(k: String): String = opts.getOrElse(k,
      sys.error(s"Missing required argument --$k"))

    {
      val data = req("data")
      val df =
        if (data.endsWith(".parquet")) spark.read.parquet(data)
        else spark.read.option("header", "true")
          .option("inferSchema", "true").csv(data)

      opts.getOrElse("analysis-type", "mean") match {
        case "mean" | "quantile" =>
          var b = OaxacaBuilder(df, req("outcome"), req("group"), req("reference"))
          opts.get("formula").foreach(f => b = b.formula(f))
          opts.get("predictors").foreach(p => b = b.predictors(p.split(',').toIndexedSeq: _*))
          opts.get("categorical").foreach(p => b = b.categoricalPredictors(p.split(',').toIndexedSeq: _*))
          opts.get("normalize").foreach(p => b = b.normalize(p.split(',').toIndexedSeq: _*))
          opts.get("weights").foreach(w => b = b.weights(w))
          b = b.bootstrapReps(opts.getOrElse("bootstrap-reps", "50").toInt)
          opts.get("ref-coeffs").foreach { rc =>
            b = b.referenceCoefficients(rc.toLowerCase match {
              case "groupa" => RefCoefficients.GroupA
              case "groupb" => RefCoefficients.GroupB
              case "pooled" | "neumark" => RefCoefficients.Pooled
              case "weighted" | "cotton" => RefCoefficients.Cotton
              case other => sys.error(s"Unknown ref-coeffs '$other'")
            })
          }
          opts.get("selection-outcome").foreach(so => b = b.heckmanSelection(
            so, opts.getOrElse("selection-predictors", "").split(',')
              .filter(_.nonEmpty).toIndexedSeq: _*))
          val res =
            if (opts.getOrElse("analysis-type", "mean") == "quantile")
              opts.getOrElse("quantiles", "0.5").split(',') match {
                case Array(q) => b.decomposeQuantile(q.toDouble)
                case qs => sys.error(s"--quantiles takes one value, got ${qs.length}")
              }
            else b.run()
          println(Export.summary(res))
          opts.get("output-json").foreach(p =>
            Files.writeString(Paths.get(p), Export.toJson(res)))
          opts.get("output-markdown").foreach(p =>
            Files.writeString(Paths.get(p), Export.toMarkdown(res)))

        case "akm" =>
          val res = Akm.run(df, req("outcome"), req("worker-col"),
            req("firm-col"),
            opts.get("predictors").map(_.split(',').toSeq).getOrElse(Nil))
          println(s"AKM: beta=${res.beta} r2=${res.r2} n=${res.nObs}")
          res.firmEffects.show(20, truncate = false)

        case "report" =>
          // mean decomposition -> standalone HTML file, printing the
          // reference's success line (`main.rs:368-372`)
          var b = OaxacaBuilder(df, req("outcome"), req("group"), req("reference"))
          opts.get("predictors").foreach(p =>
            b = b.predictors(p.split(',').toIndexedSeq: _*))
          opts.get("categorical").foreach(p =>
            b = b.categoricalPredictors(p.split(',').toIndexedSeq: _*))
          // the reference's run_report (main.rs:334-376) never sets reps,
          // so an omitted flag keeps the builder default (20,
          // builder.rs:122) — unlike the mean/quantile path's 50
          opts.get("bootstrap-reps").foreach(r =>
            b = b.bootstrapReps(r.toInt))
          val res = b.run()
          val out = Paths.get(req("output"))
          Files.writeString(out, Export.toHtml(res))
          println(s"Report successfully generated at: $out")

        case "match" =>
          val method = opts.getOrElse("matching-method", "euclidean") match {
            case "euclidean" => Matching.Euclidean
            case "mahalanobis" => Matching.Mahalanobis
            case "psm" => Matching.Propensity
            case other => sys.error(s"Unknown matching method '$other'")
          }
          val out = Matching.run(df, req("treatment"),
            req("predictors").split(',').toSeq,
            opts.getOrElse("k-neighbors", "1").toInt, method, req("id-col"))
          out.select(req("id-col"), "__match_weight__").show(20)

        case other => sys.error(s"Unknown analysis type '$other'")
      }
    }
  }

  /** Every flag [[execute]] reads. */
  private val Flags = Set("data", "outcome", "group", "reference",
    "predictors", "categorical", "normalize", "formula", "weights",
    "analysis-type", "ref-coeffs", "quantiles", "bootstrap-reps",
    "selection-outcome", "selection-predictors", "worker-col", "firm-col",
    "treatment", "id-col", "k-neighbors", "matching-method", "output",
    "output-json", "output-markdown")

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (!Flags(a.drop(2))) sys.error(s"Unknown argument $a")
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(a.drop(2)) = args(i + 1); i += 2
        } else { m(a.drop(2)) = "true"; i += 1 }
      } else i += 1
    }
    m.toMap
  }
}
