package graft

import org.apache.spark.sql.functions._

/** The testdata-drift canary must (a) stay silent on healthy fixtures,
  * (b) report a drifted/broken table as a `_probe_*` problem WITHOUT
  * throwing (a drifted table must not zero the round), and (c) enforce
  * the events-ts normalization invariant. */
class TableProbeSpec extends SparkSpec {

  test("healthy fixture dir probes clean") {
    val problems = TableProbe.printAndCheck(spark, sf)
    assert(problems.isEmpty, problems.toString)
  }

  test("a broken table reports a _probe_ problem without throwing") {
    // fixture-shaped dir: real tables symlink-copied, one table replaced
    // by a corrupt file that fails the parquet footer read
    val tmp = SparkSpec.tempDir("graft-probe")
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$t.parquet"),
        new java.io.File(tmp, s"$t.parquet").toPath)
    }
    java.nio.file.Files.write(
      new java.io.File(tmp, "nation.parquet").toPath,
      "not a parquet file".getBytes)
    val problems = TableProbe.printAndCheck(spark, tmp)
    assert(problems.keySet === Set("_probe_nation"), problems.toString)
    assert(problems("_probe_nation").contains("TESTDATA DRIFT"))
  }

  test("events legacy branch: raw long nanos rebuild to the same instants") {
    // write a fixture-shaped events table whose ts is raw BIGINT nanos —
    // the loader's LongType branch must rebuild the exact instants the
    // current-generation load produces
    val tmp = SparkSpec.tempDir("graft-nanos")
    val current = Tables.events(spark, sf)
    current
      .withColumn("ts", (unix_micros(col("ts")) * 1000L).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    val legacy = Tables.events(spark, tmp)
    assert(legacy.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val a = current.select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val b = legacy.select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(a === b)
  }

  test("events normalizes to TimestampType on the current generation") {
    assert(Tables.events(spark, sf).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // and carries real event time, not a mis-decoded epoch artifact
    val minYear = Tables.events(spark, sf)
      .agg(min(year(col("ts")))).collect().head.getInt(0)
    assert(minYear >= 2020, s"events min year $minYear — ts decoded wrong")
  }
}
