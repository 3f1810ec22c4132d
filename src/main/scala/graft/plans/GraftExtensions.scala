package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-time registration of the engine's custom expressions:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * The same surface is available at runtime on an existing session via
  * `graft.functions.exprs.register(spark)`. Both surfaces draw from the
  * single `exprs.sqlFunctions` table, so they expose the same function
  * set by construction (ExtensionsSpec asserts it). Joins on
  * `st_contains` are planned by Spark's own planner.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.exprs.sqlFunctions.foreach { case (name, usage, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
}
