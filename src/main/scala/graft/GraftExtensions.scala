package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes graft's native expressions
  * (every name in [[GraftFunctions.builders]]), the TopKPerKey planner
  * strategy and the NativeKernelRule available in any session via
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
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
    // declarative HOF vector folds → native codegen'd kernels
    e.injectOptimizerRule(_ => graft.plans.NativeKernelRule)
  }
}
