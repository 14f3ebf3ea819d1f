package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Diagnostic main: print the optimized and physical plan of named
  * SparkEntry queries, normalised so two checkouts' dumps diff cleanly.
  *
  * {{{
  * runMain graft.Explain <sfDir> [queryName...]
  * runMain graft.Explain --osm <file.osm>
  * }}}
  *
  * With no names it walks every face in sorted order. `--osm` prints
  * the OSM pipeline over one extract instead: `shape`, the six audits,
  * and Q1–Q5 and `wayNodeJoin` over the cached documents. Each face is
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

  private def dump(name: String)(df: => DataFrame): Unit =
    try {
      val qe = df.queryExecution
      println(s"== $name\n-- optimized\n" +
        normalize(qe.optimizedPlan.toString) +
        "-- physical\n" + normalize(qe.executedPlan.toString))
    } catch {
      case scala.util.control.NonFatal(e) =>
        println(s"!! $name failed: ${e.getClass.getName}: ${e.getMessage}")
    }

  private def osm(spark: SparkSession, path: String): Unit = {
    import graft.osm.OsmEngine._
    val elems = elements(spark, path)
    val docs = shape(elems)
    dump("shape")(docs)
    // the queries read the documents cached, as reshapeToJson returns them
    docs.cache()
    dump("a1_tags")(auditTags(spark, path))
    dump("a2_keys")(auditKeys(elems))
    dump("a4_users")(auditUsers(elems))
    dump("a5_street_types")(auditStreetTypes(elems))
    dump("a7_cities")(auditCityNames(elems))
    dump("a10_postcodes")(auditPostcodes(elems))
    dump("q1_users")(q1UniqueUsers(docs))
    dump("q2_types")(q2TypeCounts(docs))
    dump("q3_amenities")(q3Amenities(docs))
    dump("q4_top_shops")(q4TopShops(docs))
    dump("q5_top_highways")(q5TopHighways(docs))
    dump("way_node_join")(wayNodeJoin(docs))
    docs.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("--osm")) osm(spark, args(1))
    else {
      val sfDir = args(0)
      val names = if (args.length > 1) args.tail.toSeq
        else SparkEntry.queries.keys.toSeq.sorted
      names.foreach { name =>
        SparkEntry.queries.get(name) match {
          case None => println(s"!! unknown query: $name")
          case Some(fn) => dump(name)(fn(spark, sfDir))
        }
      }
    }
    spark.stop()
  }
}
