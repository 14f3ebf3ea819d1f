package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** One-call library entry point for users switching from the reference:
  * a session with every graft extension attached (native expressions,
  * the TopKPerKey planner strategy, the HOF→native-kernel optimizer
  * rule) and the scale-sensible defaults this engine is tuned with.
  *
  * {{{
  * val spark = Graft.session()                  // new tuned session
  * Graft.attach(existingSpark)                  // or join an existing one
  * SparkEntry.queries("q1_agg")(spark, dataDir) // any operator
  * }}}
  */
object Graft {

  /** Attach graft's extension surface to an already-built session:
    * native functions into the registry (for SQL callers), the planner
    * strategy into experimental methods, the optimizer rule into
    * extraOptimizations. Whatever the session already has — from
    * `spark.sql.extensions` or an earlier attach — is left alone, so
    * each piece is installed once. Operators need none of this: they
    * build the expressions through [[functions.Kernels]]. */
  def attach(spark: SparkSession): SparkSession = {
    val st = spark.sessionState
    functions.GraftFunctions.builders.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!st.functionRegistry.functionExists(id))
        st.functionRegistry.registerFunction(id,
          new ExpressionInfo("graft.functions", name), builder)
    }
    plans.GraftStrategies.register(spark)
    if (!st.optimizer.batches.exists(_.rules.contains(plans.NativeKernelRule)))
      st.experimentalMethods.extraOptimizations =
        st.experimentalMethods.extraOptimizations :+ plans.NativeKernelRule
    spark
  }

  /** Build a tuned session. `shufflePartitions` should track the
    * parallelism actually available — cores locally, 2-3× total
    * executor cores (with AQE coalescing down) on a cluster. The
    * extensions config covers a new session; `attach` covers one that
    * `getOrCreate` returned already built. */
  def session(master: String = "local[*]",
              shufflePartitions: Int =
                Runtime.getRuntime.availableProcessors): SparkSession =
    attach(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate())
}
