package graft.osm

import graft.osm.pbf.PbfSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Benchmark over a reference-scale OSM extract (~100 MB XML, the size
  * the reference processed) in BOTH formats:
  *
  *  - XML: text-scan census + read→shape→Q1–Q5. Spark's xml source is
  *    NOT splittable, so a single big document parses as ONE task — the
  *    measured seriality is the finding, and the reason planet-scale
  *    pipelines ingest PBF.
  *  - PBF: the same extract through PbfSource, which parallelizes by
  *    blob like parquet row groups — the scale path, measured against
  *    the XML numbers on identical data.
  *
  * Files are generated once into /tmp and reused. Invoked from
  * graft.Bench so the per-round BENCH json carries these numbers.
  */
object OsmBench {

  final case class Result(mb: Double, auditSec: Double, shapeSec: Double,
                          queriesSec: Double, rows: Long, pbfMb: Double,
                          pbfShapeSec: Double, pbfQueriesSec: Double,
                          pbfRows: Long, xsShapeSec: Double,
                          xsRows: Long, dsv2ShapeSec: Double = -1.0,
                          dsv2Rows: Long = -1L, sliceMb: Double = -1.0,
                          sliceShapeSec: Double = -1.0,
                          pbfDecodeSec: Double = -1.0,
                          pbfShapeColdSec: Double = -1.0,
                          xsShapeColdSec: Double = -1.0,
                          pbfQueriesColdSec: Double = -1.0,
                          queriesColdSec: Double = -1.0,
                          builtinShapeSec: Double = -1.0) {
    def json: String =
      f""""osm_mb":$mb%.1f,"osm_audit_sec":$auditSec%.2f,""" +
        f""""osm_shape_sec":$shapeSec%.2f,"osm_queries_sec":$queriesSec%.2f,""" +
        f""""osm_rows":$rows,"osm_pbf_mb":$pbfMb%.1f,""" +
        f""""osm_pbf_shape_sec":$pbfShapeSec%.2f,""" +
        f""""osm_pbf_queries_sec":$pbfQueriesSec%.2f,"osm_pbf_rows":$pbfRows,""" +
        f""""osm_xmlsplit_shape_sec":$xsShapeSec%.2f,"osm_xmlsplit_rows":$xsRows,""" +
        f""""osm_pbf_dsv2_shape_sec":$dsv2ShapeSec%.2f,"osm_pbf_dsv2_rows":$dsv2Rows,""" +
        f""""osm_serial_slice_mb":$sliceMb%.1f,""" +
        f""""osm_serial_slice_shape_sec":$sliceShapeSec%.2f,""" +
        f""""osm_pbf_decode_sec":$pbfDecodeSec%.2f,""" +
        f""""osm_pbf_shape_cold_sec":$pbfShapeColdSec%.2f,""" +
        f""""osm_xmlsplit_shape_cold_sec":$xsShapeColdSec%.2f,""" +
        f""""osm_pbf_queries_cold_sec":$pbfQueriesColdSec%.2f,""" +
        f""""osm_queries_cold_sec":$queriesColdSec%.2f,""" +
        f""""osm_builtin_shape_sec":$builtinShapeSec%.2f"""
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Run one phase under its own wall-clock budget; overrun degrades
    * THAT phase to `fallback` and cancels its Spark jobs, leaving the
    * rest of the section intact. Round 3's single all-or-nothing outer
    * timeout turned one contended phase into `osm_failed:true` for the
    * whole section. */
  private def budgeted[A](spark: SparkSession, seconds: Int, fallback: A)
                         (f: => A): A = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    try Await.result(Future(f), seconds.seconds)
    catch {
      case _: Throwable =>
        spark.sparkContext.cancelAllJobs()
        fallback
    }
  }

  private def queries(shaped: DataFrame): Unit = {
    OsmEngine.q1UniqueUsers(shaped).count()
    OsmEngine.q2TypeCounts(shaped).count()
    OsmEngine.q3Amenities(shaped).count()
    OsmEngine.q4TopShops(shaped).count()
    OsmEngine.q5TopHighways(shaped).count()
  }

  /** Defaults mirror the reference extract exactly: 506,727 nodes and
    * 59,642 ways (reference README.md:118-138), ~97 MB of XML. */
  def run(spark: SparkSession,
          nNodes: Int = 506727, nWays: Int = 59642): Result = {
    val xmlPath = s"/tmp/graft_osm_${nNodes}_$nWays.osm"
    val pbfPath = xmlPath + ".pbf"
    // quarter-scale slice for the SERIAL builtin-XML phase: the full
    // file is one task by construction and its wall time swings 10-200s
    // with host contention — two rounds running, that blew the budget
    // and recorded -1. A single-task XML parse is linear in bytes, so
    // the slice measurement extrapolates to the full size and always
    // lands inside budget, contended or not.
    val sNodes = nNodes / 4
    val sWays = nWays / 4
    val xmlSlicePath = s"/tmp/graft_osm_${sNodes}_$sWays.osm"
    // generate via tmp-name + rename: a budget overrun mid-write must
    // not leave a truncated file that passes the exists() check on the
    // next round's run.
    def genAtomic(path: String, gen: String => Unit): Boolean = {
      if (new java.io.File(path).exists()) return true
      val tmp = new java.io.File(path + ".tmp")
      tmp.delete()
      gen(tmp.getPath)
      tmp.renameTo(new java.io.File(path))
    }
    val genOk = budgeted(spark, 120, false) {
      genAtomic(xmlPath, OsmSynth.generate(_, nNodes, nWays)) &&
        genAtomic(pbfPath, OsmSynth.generatePbf(_, nNodes, nWays)) &&
        genAtomic(xmlSlicePath, OsmSynth.generate(_, sNodes, sWays))
    }
    if (!genOk)
      return Result(-1, -1, -1, -1, -1L, -1, -1, -1, -1L, -1, -1L)
    val mb = new java.io.File(xmlPath).length() / 1e6
    val pbfMb = new java.io.File(pbfPath).length() / 1e6
    val sliceMb = new java.io.File(xmlSlicePath).length() / 1e6

    val auditSec = budgeted(spark, 45, -1.0)(
      time(OsmEngine.auditTags(spark, xmlPath).count()))
    // The shape timings deliberately do NOT include a cache write. Round
    // 5 recorded xmlsplit=52s / pbf=15s while the same parses measured
    // 2.7s / 1.1s un-persisted: wrapping `.persist(DISK_ONLY)` inside the
    // timed region made the metric report cache-serialization codegen +
    // host disk I/O (measured 67s cold vs 4.3s warm on identical input),
    // not the parse it claims to measure. So: shape+count is timed bare,
    // min of two runs (first kept as the cold number so a contention
    // burst shows as cold≫min); the DISK_ONLY cache for the query phase
    // is then built OUTSIDE the timed region — queries still read a
    // deterministic on-disk snapshot, unpersisted blocking so no phase's
    // storage overlaps the next.
    // query batteries are min-of-2 like every other phase: round 6's
    // driver record showed 35.2s here (vs 1.8s isolated) because a
    // host-contention burst landed in the ONE phase still measured
    // with a single run; the first run is kept as the cold number so
    // a burst is triageable as cold >> min, never invisible.
    val (pbfDecodeSec, pbfShapeColdSec, pbfShapeSec,
         pbfQueriesColdSec, pbfQueriesSec, pbfRows) =
      budgeted(spark, 150, (-1.0, -1.0, -1.0, -1.0, -1.0, -1L)) {
        val dSec = time(PbfSource.elements(spark, pbfPath).count())
        def shaped() = OsmEngine.shape(PbfSource.elements(spark, pbfPath))
        val s1 = time(shaped().count())
        val s2 = time(shaped().count())
        val cached = shaped().persist(StorageLevel.DISK_ONLY)
        val n = cached.count() // untimed: materializes the cache
        val q1 = time(queries(cached))
        val q2 = time(queries(cached))
        cached.unpersist(blocking = true)
        (dSec, s1, math.min(s1, s2), q1, math.min(q1, q2), n)
      }

    // range-parallel XML (graft's splittable reader) on the same file.
    // The Q1–Q5 battery and the row count run HERE, at full scale —
    // these carry the osm_queries_sec / osm_rows keys, whose meaning
    // (full-file numbers) must not drift across rounds; the serial
    // phase below times ONLY the XML parse (its one finding).
    val (xsShapeColdSec, xsShapeSec, queriesColdSec, queriesSec, xsRows) =
      budgeted(spark, 150, (-1.0, -1.0, -1.0, -1.0, -1L)) {
        def shaped() = OsmEngine.shape(OsmXmlSplit.elements(spark, xmlPath))
        val s1 = time(shaped().count())
        val s2 = time(shaped().count())
        val cached = shaped().persist(StorageLevel.DISK_ONLY)
        val n = cached.count() // untimed: materializes the cache
        val q1 = time(queries(cached))
        val q2 = time(queries(cached))
        cached.unpersist(blocking = true)
        // cold kept alongside the min: a contention burst must be
        // triageable from the record as cold >> min, not invisible
        (s1, math.min(s1, s2), q1, math.min(q1, q2), n)
      }

    // PBF through the DataSource V2 connector (same blobs, planned as
    // BatchScan InputPartitions) — the connector's overhead vs the
    // RDD-path number above is the integration cost being measured
    val (dsv2ShapeSec, dsv2Rows) = budgeted(spark, 90, (-1.0, -1L)) {
      var n = 0L
      val sSec = time {
        n = OsmEngine.shape(spark.read
          .format("graft.sources.PbfDataSource").load(pbfPath)).count()
      }
      (sSec, n)
    }

    // The builtin-XML phase is ONE task by construction (the source is
    // not splittable — that seriality is the finding). It runs on the
    // quarter-scale slice so it ALWAYS completes inside budget on a
    // contended host (rounds 3 and 4 recorded -1 at full size);
    // osm_builtin_shape_sec is the linear byte-ratio extrapolation to
    // the full file, with the raw slice measurement recorded
    // alongside. r15: the split reader is now the DEFAULT ingest
    // (OsmEngine.elements routes plain .osm through OsmXmlSplit), so
    // osm_shape_sec — "the shape time users get" — is the full-file
    // split number; this serial phase is the retired default kept as
    // the verification twin and the baseline being beaten.
    val sliceShapeSec = budgeted(spark, 100, -1.0) {
      time(OsmEngine.shape(
        OsmEngine.builtinElements(spark, xmlSlicePath)).count())
    }
    val builtinShapeSec =
      if (sliceShapeSec < 0 || sliceMb <= 0) -1.0
      else sliceShapeSec * mb / sliceMb

    Result(mb, auditSec, xsShapeSec, queriesSec, xsRows,
      pbfMb, pbfShapeSec, pbfQueriesSec, pbfRows, xsShapeSec, xsRows,
      dsv2ShapeSec, dsv2Rows, sliceMb, sliceShapeSec,
      pbfDecodeSec, pbfShapeColdSec, xsShapeColdSec,
      pbfQueriesColdSec, queriesColdSec, builtinShapeSec)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark)
    println(s"""{"metric":"osm_scale",${r.json}}""")
    spark.stop()
  }
}
