package graft

/** Diagnostic main: time and explain named SparkEntry queries.
  *
  * {{{
  * runMain graft.Explain <sfDir> <queryName> [queryName...]
  * }}}
  *
  * Runs each query twice (cold + warm) and prints the formatted
  * physical plan — the .explain-and-iterate loop the charter asks for.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"!! unknown query: $name")
        case Some(fn) =>
          def run(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val cold = run(); val warm = run()
          println(f"== $name cold=$cold%.2fs warm=$warm%.2fs")
          fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
