package graft

/** Scratch diagnostic: break a query's warm time into construction
  * (model collects + analysis) vs optimization vs execution. */
object Phases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.tail.toSeq
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one cold full run
      fn(spark, sfDir).count()
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"== $name construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f total=${(t3 - t0) / 1e9}%.3f")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
