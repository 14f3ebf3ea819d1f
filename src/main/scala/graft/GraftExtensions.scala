package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes graft's native expressions
  * (every name in [[GraftFunctions.builders]]) and the TopKPerKey
  * planner strategy available in any session whose builder is given
  *
  * {{{
  * .withExtensions(new GraftExtensions)   // or
  * .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * [[Graft.session]] builds every graft session this way, so each one
  * has the strategy from the start and no operator installs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
