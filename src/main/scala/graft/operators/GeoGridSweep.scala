package graft.operators

import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Dev sweep for geo8's grid knob (r14 verdict item 6): for each cell
  * size, the candidate-volume ledger ([[Spatial.polygonGridProfile]] —
  * computed on the exact frames the face joins) plus the face's wall
  * time at that size, and the density-adaptive default the face would
  * pick (r̄/4 clamped to [2.5e5, 2e6]). True matches must be identical
  * across every row — the grid only generates candidates — so the
  * sweep doubles as a correctness pin on the knob.
  *
  * Usage: GeoGridSweep <sfDir> [g1,g2,...]
  */
object GeoGridSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gs = args.lift(1).map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(250000L, 500000L, 1000000L, 2000000L, 4000000L,
        8000000L))
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    // the default the face would self-select on this corpus
    def h(salt: String) = pmod(md5Base60(
      concat(lit(salt), col("s_suppkey").cast("string"))),
      lit(3000001L))
    val row = graft.Tables.supplier(spark, sfDir)
      .select((lit(1000000L) + h("gpr:")).as("r"))
      .agg(sum(col("r")), count(lit(1))).collect()(0)
    val rBar = if (row.getLong(1) == 0) 2500000L
      else row.getLong(0) / row.getLong(1)
    val gDefault = math.max(250000L, math.min(2000000L, rBar / 4))
    println(s"""{"sf":"$sfDir","r_bar":$rBar,"g_default":$gDefault}""")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    gs.foreach { g =>
      val prof = Spatial.polygonGridProfile(spark, sfDir, g).collect()(0)
      // face wall at this g: min of 2 (the bench convention)
      val t1 = time(Spatial.polygonContains(spark, sfDir, g).count())
      val t2 = time(Spatial.polygonContains(spark, sfDir, g).count())
      println(f"""{"g":$g,"n_pol_cells":${prof.getLong(1)},""" +
        f""""n_candidates":${prof.getLong(2)},""" +
        f""""n_bbox_survivors":${prof.getLong(3)},""" +
        f""""n_true_matches":${prof.getLong(4)},""" +
        f""""face_sec":${math.min(t1, t2)}%.2f}""")
    }
    spark.stop()
  }
}
