package graft

/** Diagnostic main: print the optimized and physical plan of named
  * SparkEntry queries, normalised so two checkouts' dumps diff cleanly.
  *
  * {{{
  * runMain graft.Explain <sfDir> [queryName...]
  * }}}
  *
  * With no names it walks every face in sorted order. Each face is
  * built once (its construction runs whatever staged builds and model
  * collects it needs) and planned, never executed; timings belong to
  * `graft.Bench` and perfbench's traced run. Expression ids, lambda
  * variable suffixes, exchange plan ids, JVM lambda class names,
  * object identity hashes and `/tmp/graft_*` staged paths are
  * rewritten to fixed tokens, so `diff` between two dumps shows only
  * plans that really changed (plus the table dir, when the two runs
  * read different copies).
  */
object Explain {
  private val rewrites = Seq(
    "#\\d+L?" -> "#N",
    "\\b(lambda \\w+?)_\\d+" -> "$1_N",
    "plan_id=\\d+" -> "plan_id=N",
    "\\$Lambda[$\\d]*/0x[0-9a-f]+" -> "\\$Lambda",
    "@[0-9a-f]+\\b" -> "@N",
    "/tmp/graft_[^\\s,\\]\\)]*" -> "/tmp/graft_*")

  def normalize(plan: String): String =
    rewrites.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"!! unknown query: $name")
        case Some(fn) =>
          try {
            val qe = fn(spark, sfDir).queryExecution
            println(s"== $name\n-- optimized\n" +
              normalize(qe.optimizedPlan.toString) +
              "-- physical\n" + normalize(qe.executedPlan.toString))
          } catch {
            case scala.util.control.NonFatal(e) =>
              println(s"!! $name failed: ${e.getClass.getName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
