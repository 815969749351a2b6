package graft

import graft.core.ErfExpr
import graft.ext.TextAnalysis
import graft.functions.PoissonDrawExpr
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Declarative SQL surface for the engine: add
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions(new GraftExtensions)` on a session builder) and the
  * engine's primitives become plain SQL functions — no Scala required:
  *
  *   - `graft_erf(x)` — the native codegen erf kernel behind
  *     probit/IMR/Heckman;
  *   - `poisson_draw(hash, seed)` — the bootstrap lane weight,
  *     bit-identical to the Gram kernel's in-JVM draws;
  *   - `graft_hash56(s)` — the engine-portable 56-bit content hash
  *     (same value as DuckDB's `('0x' || substr(md5(s),1,14))::BIGINT`);
  *   - `graft_token_count(text)`, `graft_lang_id(text)`,
  *     `graft_quality(text)`, `graft_redact_pii(text)` — the text
  *     pipeline as SQL scalars.
  *
  * Every function resolves to the same Catalyst expression tree the
  * Column API builds (via [[GraftSqlBridge]]), so SQL callers get
  * whole-stage codegen, not UDF fences, and results are bit-identical
  * to the `queries()` oracles.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, name)

  /** Lift a Column→Column operator into a SQL function builder. */
  private def lift1(f: Column => Column): Seq[Expression] => Expression =
    exprs =>
      GraftSqlBridge.resolvableExpression(f(GraftSqlBridge.column(exprs.head)))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // explicit casts: SQL literals arrive as decimal/int, and the
    // native kernels take exactly double/long (AbstractDataType is
    // private[sql] in Spark 4, so ImplicitCastInputTypes is not
    // implementable from library code)
    ext.injectFunction((FunctionIdentifier("graft_erf"), info("graft_erf"),
      (exprs: Seq[Expression]) => ErfExpr(Cast(exprs.head, DoubleType))))
    ext.injectFunction((FunctionIdentifier("poisson_draw"),
      info("poisson_draw"),
      (exprs: Seq[Expression]) => PoissonDrawExpr(
        Cast(exprs(0), LongType), Cast(exprs(1), LongType))))
    ext.injectFunction((FunctionIdentifier("graft_hash56"),
      info("graft_hash56"), lift1(TextAnalysis.hash56)))
    ext.injectFunction((FunctionIdentifier("graft_token_count"),
      info("graft_token_count"), lift1(TextAnalysis.tokenCount)))
    ext.injectFunction((FunctionIdentifier("graft_lang_id"),
      info("graft_lang_id"), lift1(TextAnalysis.langId)))
    ext.injectFunction((FunctionIdentifier("graft_quality"),
      info("graft_quality"), lift1(c =>
        TextAnalysis.qualityCols(c).find(_._1 == "quality_score").get._2)))
    ext.injectFunction((FunctionIdentifier("graft_redact_pii"),
      info("graft_redact_pii"), lift1(TextAnalysis.redactPii)))
  }
}
