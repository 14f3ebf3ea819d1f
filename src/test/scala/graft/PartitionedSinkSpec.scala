package graft

import org.apache.spark.sql.functions._

/** Partitioned-sink round trip: the layout that makes 100 TB readable.
  * Writing facts partitioned by a low-cardinality column lets every
  * later query on that column prune whole directories at planning time
  * — the scan never opens the other partitions' files. */
class PartitionedSinkSpec extends SparkSpec {

  test("partitionBy sink + partition-pruned scan") {
    val tmp = SparkSpec.tempDir("graft-partsink")
    val events = Tables.events(spark, sf)
    events.write.partitionBy("event_type").mode("overwrite").parquet(tmp)

    // one subdirectory per type
    val dirs = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("event_type=")).map(_.getName).sorted
    assert(dirs.length >= 4, dirs.mkString(","))

    // read-back equivalence
    val back = spark.read.parquet(tmp)
    assert(back.count() === events.count())

    // the filter must prune partitions at planning time, not scan+filter
    val q = back.filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"))
    val n = q.collect().head.getLong(0)
    assert(n === events.filter(col("event_type") === "click").count())
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in:\n$p")
  }
}
