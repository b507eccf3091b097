package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst work for SQL use, so `spark.sql("SELECT dot_product(a, b)")`
  * reaches the codegen expression. Wire up by setting the static conf
  * `spark.sql.extensions=graft.plans.GraftExtensions` (e.g. as a JVM
  * `-D` property) before [[graft.Session]] builds the session.
  *
  * Per SURVEY.md §4 no custom Rule/Strategy is needed — Catalyst stock
  * rules + AQE already produce the plans we want (verified by PlanSpec) —
  * so the extension surface is exactly the function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graftexpr.DotProductExpr].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.graftexpr.DotProductExpr(children(0), children(1))))
  }
}
