package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** One-call library entry point for users switching from the reference,
  * and the one session factory of every graft `main`: a session with
  * every graft extension installed (native expressions, the TopKPerKey
  * planner strategy) and the scale-sensible defaults this engine is
  * tuned with.
  *
  * {{{
  * val spark = Graft.session()                  // new tuned session
  * Graft.attach(existingSpark)                  // or bring your own
  * SparkEntry.queries("q1_agg")(spark, dataDir) // any operator
  * }}}
  */
object Graft {

  /** Attach graft's extension surface to a session the caller built:
    * native functions into the registry (for SQL callers), the planner
    * strategy into experimental methods. Whatever the session already
    * has — from `spark.sql.extensions` or an earlier attach — is left
    * alone, so each piece is installed once. Operators never call
    * this: they build the expressions through [[functions.Kernels]]
    * and plan with whatever strategies their caller's session has. */
  def attach(spark: SparkSession): SparkSession = {
    val st = spark.sessionState
    functions.GraftFunctions.builders.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!st.functionRegistry.functionExists(id))
        st.functionRegistry.registerFunction(id,
          new ExpressionInfo("graft.functions", name), builder)
    }
    if (!st.planner.strategies.contains(plans.TopKPerKeyStrategy))
      st.experimentalMethods.extraStrategies =
        st.experimentalMethods.extraStrategies :+ plans.TopKPerKeyStrategy
    spark
  }

  /** Cores a default session runs on: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build a tuned session; every graft `main` and the test suite get
    * theirs here. `shufflePartitions` should track the parallelism
    * actually available — cores locally, 2-3× total executor cores
    * (with AQE coalescing down) on a cluster. The extensions config
    * covers a new session; `attach` covers one that `getOrCreate`
    * returned already built. */
  def session(master: String = s"local[$cores]",
              shufflePartitions: Int = cores): SparkSession =
    attach(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate())
}
