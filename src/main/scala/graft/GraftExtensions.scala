package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Expression, ExpressionInfo, Literal}

import graft.functions.{DotProduct, FieldExpr}

/** Session-extensions entry point: registers the engine's custom Catalyst
  * expressions at session build time, so a cluster deployment gets them
  * via configuration alone:
  *
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * or `withExtensions(new GraftExtensions)` on a session builder.
  *
  * Functions injected:
  *  - `field(str, v1, ...)` — MySQL FIELD ordering (SURVEY.md §7.3)
  *  - `dayname(d)` — MySQL full-name DAYNAME (shadows Spark's abbreviated
  *    builtin)
  *  - `date_format(d, fmt)` — hybrid shadow: a `%`-bearing format literal
  *    is translated from MySQL specifiers at plan-build time
  *    (graft.functions.MySqlFormat); Spark patterns pass through
  *  - `dot_product(a, b)` — codegen'd vector dot product
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in COUNT(DISTINCT) → HyperLogLog++ rewrite, gated at optimize
    // time on spark.graft.approxDistinct (graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRewrite(_))
    // native as-of join planner strategy (graft.plans.AsOfJoinPlan);
    // AsOfJoinNative.asof also registers it imperatively per session
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("field"),
      info("field", "field(str, v1, ...) - 1-based position of str, 0 if absent"),
      (exprs: Seq[Expression]) => FieldExpr.withStringCoercion(exprs)))
    ext.injectFunction((
      FunctionIdentifier("dayname"),
      info("dayname", "dayname(d) - full English day name"),
      (exprs: Seq[Expression]) => DateFormatClass(exprs.head, Literal("EEEE"))))
    ext.injectFunction((
      FunctionIdentifier("date_format"),
      info("date_format",
        "date_format(d, fmt) - fmt accepts MySQL %-specifiers or Java patterns"),
      (exprs: Seq[Expression]) => {
        val fmt = exprs(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String,
              org.apache.spark.sql.types.StringType) if s.toString.contains("%") =>
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
              graft.functions.MySqlFormat.toJavaPattern(s.toString)),
              org.apache.spark.sql.types.StringType)
          case other => other
        }
        DateFormatClass(exprs.head, fmt)
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of array<double>"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
  }
}
