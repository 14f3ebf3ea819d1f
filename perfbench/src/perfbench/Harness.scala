package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.DataFrame

import graft.{Graft, SparkEntry}
import graft.osm.{OsmEngine, OsmXmlSplit}
import graft.osm.pbf.PbfSource

/** One benchmark run in one JVM: build the inputs, set up, run the
  * verification pass and then timed passes for `seconds`, one operation
  * at a time, and write `result.json` into the run directory.
  * `perfbench/run.py` turns that file into metrics and checks the
  * captured outputs.
  *
  * No warm-up pass runs: after the verification pass, pass times stay
  * within pass-to-pass noise (perfbench/README.md).
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * dir (the run directory), cores, nodes, ways, faces (comma-separated),
  * data (the faces input to copy).
  */
object Harness {

  /** One operation of a pass. `mode` is "verify" on the first call, when
    * the operation also leaves its output for the checks, "timed" in a
    * plain pass and "traced" in a traced one. */
  final case class Op(name: String, run: String => Unit)

  private val excludedNs = new java.util.concurrent.atomic.AtomicLong
  /** Time spent on the benchmark's own work (inputs, output capture):
    * kept out of `setup_s`. */
  private def excluded[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally excludedNs.addAndGet(System.nanoTime() - t0)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val dir = a("dir")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val observed = mutable.LinkedHashMap.empty[String, JsonNode]
    val extra = mutable.LinkedHashMap.empty[String, Any]

    // ---- inputs (not part of set-up) --------------------------------
    val xml = s"$dir/extract.osm"
    val pbf = s"$dir/extract.osm.pbf"
    val faceData = s"$dir/data"
    excluded {
      if (workload == "faces") {
        Files.createDirectories(Paths.get(faceData))
        new java.io.File(a("data")).listFiles().filter(_.isFile)
          .foreach(f => Files.copy(f.toPath, Paths.get(faceData, f.getName)))
      } else {
        val facts = OsmGen.write(xml, pbf, a("nodes").toInt,
          a("ways").toInt, a("seed").toLong)
        extra("facts") = facts.toMap
      }
    }

    // ---- session ----------------------------------------------------
    val s0 = System.nanoTime()
    val spark = Graft.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)

    // ---- workload ---------------------------------------------------
    val ops: Seq[Op] = workload match {
      case "osm" =>
        def out(mode: String, fmt: String) =
          s"$dir/${if (mode == "verify") "verify" else "pass"}_${fmt}_docs"
        // audits read the raw extract each time, as the reference's do
        val elems = OsmEngine.elements(spark, xml)
        var docs: DataFrame = null
        def collectOp(name: String, df: => DataFrame) = Op(name, mode => {
          val rows =
            if (mode != "traced") df.collect()
            else {
              val built = tracer.span("construct")(df)
              tracer.span("exec")(built.collect())
            }
          if (mode == "verify") excluded {
            observed(name) = mapper.readTree(rows.map(_.json).mkString("[", ",", "]"))
          }
        })
        Seq(
          Op("load_xml", mode => {
            if (docs != null) docs.unpersist(blocking = true)
            docs = OsmEngine.reshapeToJson(spark, xml, out(mode, "xml"))
          }),
          Op("load_pbf", mode =>
            OsmEngine.shape(PbfSource.elements(spark, pbf))
              .write.mode("overwrite").json(out(mode, "pbf"))),
          collectOp("a1_tags", OsmEngine.auditTags(spark, xml)),
          collectOp("a2_keys", OsmEngine.auditKeys(elems)),
          collectOp("a4_users", OsmEngine.auditUsers(elems)),
          collectOp("a5_street_types", OsmEngine.auditStreetTypes(elems)),
          collectOp("a7_cities", OsmEngine.auditCityNames(elems)),
          collectOp("a10_postcodes", OsmEngine.auditPostcodes(elems)),
          collectOp("q1_users", OsmEngine.q1UniqueUsers(docs)),
          collectOp("q2_types", OsmEngine.q2TypeCounts(docs)),
          collectOp("q3_amenities", OsmEngine.q3Amenities(docs)),
          collectOp("q4_top_shops", OsmEngine.q4TopShops(docs)),
          collectOp("q5_top_highways", OsmEngine.q5TopHighways(docs)),
          collectOp("way_node_join", OsmEngine.wayNodeJoin(docs)))

      case "faces" =>
        val names = a("faces").split(",").toSeq
        val oracle = SparkEntry.oracleSql
        extra("oracle_sql") = names.filter(oracle.contains)
          .map(n => n -> oracle(n)).toMap
        names.map { name =>
          val fn = SparkEntry.queries(name)
          Op(name, mode => {
            try mode match {
              case "verify" =>
                fn(spark, faceData).write.parquet(s"$dir/faces_out/$name")
              case "timed" => noop(fn(spark, faceData))
              case _ =>
                val df = tracer.span("construct")(fn(spark, faceData))
                tracer.span("plan")(df.queryExecution.executedPlan)
                tracer.span("exec")(noop(df))
            } finally spark.catalog.clearCache()
          })
        }

      case other => sys.error(s"unknown workload $other")
    }

    // ---- passes -----------------------------------------------------
    val errors = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    var executions = 0
    def pass(kind: String, mode: String): Unit = {
      tracer.span(s"pass:$kind") {
        ops.foreach { op =>
          // a traced run spans every operation, in the verification pass too
          try {
            if (traced && mode != "timed") tracer.span(s"op:${op.name}")(op.run(mode))
            else op.run(mode)
          } catch {
            case e: Throwable =>
              errors.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) +=
                Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          }
        }
      }
      executions += 1
      PerfbenchBus.drain(spark.sparkContext)
    }

    pass("verify", "verify")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
      excludedNs.get() / 1e9
    val t0 = System.nanoTime()
    var k = 0
    // at least two passes; a traced run alternates traced and plain
    // passes, so the tracing overhead is measured within one run
    while (k < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (traced && k % 2 == 0) pass("traced", "traced")
      else pass("timed", "timed")
      k += 1
    }

    // ---- layer probes (traced run only) ------------------------------
    if (traced && workload == "osm") {
      val xmlElems = OsmXmlSplit.elements(spark, xml)
      val pbfElems = PbfSource.elements(spark, pbf)
      extra("xml_rows") = xmlElems.count()
      extra("pbf_rows") = pbfElems.count()
      val cached = OsmXmlSplit.elements(spark, xml).cache()
      cached.count()
      val shaped = OsmEngine.shape(cached).cache()
      shaped.count()
      (1 to 3).foreach { _ =>
        tracer.span("pass:probe") {
          tracer.span("OsmXmlSplit.elements")(noop(xmlElems))
          tracer.span("PbfSource.elements")(noop(pbfElems))
          // building the shaped frame analyses its expression tree eagerly
          val shapedDf = tracer.span("OsmEngine.shape_construct")(
            OsmEngine.shape(cached))
          tracer.span("OsmEngine.shape_plan")(shapedDf.queryExecution.executedPlan)
          tracer.span("OsmEngine.shape_exec")(noop(shapedDf))
          tracer.span("OsmEngine.json_write")(
            shaped.write.mode("overwrite").json(s"$dir/probe_docs"))
        }
        PerfbenchBus.drain(spark.sparkContext)
      }
      extra("json_bytes") = Files.walk(Paths.get(s"$dir/probe_docs"))
        .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      shaped.unpersist(blocking = true)
      cached.unpersist(blocking = true)
    }

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    spark.stop()

    // ---- result -----------------------------------------------------
    val spans = tracer.allSpans.map(s =>
      Seq(s.id, s.name, s.parent, s.startMs, s.endMs, (s.endNs - s.startNs) / 1e9))
    val jobs = tracer.allJobs.map(j => Seq(j.submittedMs, j.stages, j.tasks,
      j.runMs, j.cpuNs, j.gcMs, j.shuffleRead, j.shuffleWrite, j.spill))
    val result = Map(
      "setup_s" -> setupS, "session_s" -> sessionS,
      "executions" -> executions, "cores" -> cores,
      "peak_rss_mb" -> peakRssMb, "ops" -> ops.map(_.name),
      "errors" -> errors, "observed" -> observed,
      "spans" -> spans, "jobs" -> jobs) ++ extra
    Files.write(Paths.get(s"$dir/result.json"), mapper.writeValueAsBytes(result))
  }
}
