package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Round-13 pins: the hard-negative miner's physical plan (the one
  * TopKPerKey-shaped face that had no plan assertion), and the
  * near-dup stream's horizon-cap headroom at gate scale (the guard
  * that keeps the 4096 default from silently becoming a recall loss
  * as fixtures grow). */
class Round13Spec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("sim_hard_negatives: broadcast anchor scan + TopKPerKey heap, " +
    "no global sort, no Window") {
    val p = plan(Similarity.hardNegatives(spark, sf))
    // anchors (≤10 rows at every SF) must come in as a broadcast —
    // the corpus side is never shuffled for the join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"anchor side not broadcast:\n$p")
    // the per-anchor top-k rank filter must compile through the custom
    // heap exec (partial before the exchange, final after), replacing
    // Window/WindowGroupLimit and every sort they would plan
    assert(p.contains("TopKPerKey (partial)"), s"no map-side heap:\n$p")
    assert(p.contains("TopKPerKey (final)"), s"strategy did not fire:\n$p")
    assert(!p.contains("Window"), s"rank fell back to a window:\n$p")
    assert(!p.contains("Sort "), s"heap exec must remove all sorts:\n$p")
  }

  test("r3/r4 way assembly: hash join on ref, rollup on way_id/htype, " +
    "no global sort, no cartesian") {
    val p3 = plan(Audits.r3WayAssembly(spark, sf))
    // the explode→join is an equi-join on ref (shuffled or broadcast,
    // never a nested-loop scan of the node set)
    assert(!p3.contains("CartesianProduct") &&
      !p3.contains("BroadcastNestedLoopJoin"), p3)
    assert(p3.contains("HashAggregate"), p3)
    assert(!p3.contains("Sort [way_id"), s"centroid rollup must not sort:\n$p3")
    val p4 = plan(Audits.r4HighwayLength(spark, sf))
    assert(!p4.contains("CartesianProduct") &&
      !p4.contains("BroadcastNestedLoopJoin"), p4)
    // the polyline window is PARTITIONED by way_id (bounded ≤8-row
    // frames): its sort must be partition-local, never global
    assert(!p4.matches("(?s).*Sort \\[[^\\]]*\\], true,.*"),
      s"global sort leaked into the polyline reassembly:\n$p4")
  }

  test("r4 determinism: segment quantization is stable under " +
    "re-evaluation and column order") {
    val a = Audits.r4HighwayLength(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val b = Audits.r4HighwayLength(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
    // every htype present: the 6-class rollup is exercised, not vacuous
    assert(a.map(_._1).toSet.size === 6, a.map(_._1).mkString(","))
  }

  test("octagon_contains kernel == the retired declarative 8-edge " +
    "CASE tree, point for point") {
    // the native kernel replaced an inline Column expression purely for
    // compiled shape (the CASE tree blew HotSpot's JIT method limit in
    // the join condition); this pin re-derives that retired form and
    // holds the kernel to it on a dense probe grid around one octagon
    import org.apache.spark.sql.Column
    val (cx0, cy0, r0) = (50000000L, 50000000L, 2345678L)
    val pts = spark.range(0, 10000).toDF("i")
      .select((lit(cx0 - 3000000L) + (col("i") % 100) * 60000L).as("x"),
        (lit(cy0 - 3000000L) + expr("i div 100") * 60000L).as("y"))
    val px = col("x"); val py = col("y")
    val cxc = lit(cx0); val cyc = lit(cy0); val r = lit(r0)
    val a = lit(r0 * 70711L / 100000L)
    val verts: Seq[(Column, Column)] = Seq(
      (cxc + r, cyc), (cxc + a, cyc + a), (cxc, cyc + r),
      (cxc - a, cyc + a), (cxc - r, cyc), (cxc - a, cyc - a),
      (cxc, cyc - r), (cxc + a, cyc - a))
    val crossings = verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      val d = y2 - y1
      val lhs = (px - x1) * d
      val rhs = (py - y1) * (x2 - x1)
      when(((y1 > py) =!= (y2 > py)) &&
        (when(d > 0, lhs < rhs).otherwise(lhs > rhs)), 1L).otherwise(0L)
    }
    val cmp = pts.select(
      (pmod(crossings.reduce(_ + _), lit(2L)) === 1L).as("legacy"),
      octagonContains(px, py, cxc, cyc, r).as("kernel"))
    assert(cmp.filter(col("legacy") =!= col("kernel")).count() === 0L)
    val inside = cmp.filter(col("kernel")).count()
    assert(inside > 0 && inside < 10000, s"vacuous probe grid: $inside")
  }

  test("rank-filter faces plan through the heap exec on the factory session") {
    val p1 = plan(EventAnalytics.streaks(spark, sf))
    val p2 = plan(Privacy.dpMedian(spark, sf))
    val p3 = plan(Similarity.knnClassify(spark, sf))
    assert(p1.contains("TopKPerKey (final)"), s"streaks argmax:\n$p1")
    assert(p2.contains("TopKPerKey (final)"), s"dpMedian argmax:\n$p2")
    assert(p3.contains("TopKPerKey (final)"), s"knnClassify top-k:\n$p3")
  }

  test("operators leave the caller's session alone") {
    // the planner strategy comes with the session (Graft.session or
    // Graft.attach); an operator must not install it in a session it
    // was handed
    val s = graft.SparkSpec.isolated()
    val before = s.sessionState.experimentalMethods.extraStrategies
    Seq(EventAnalytics.streaks(s, sf), Privacy.dpMedian(s, sf),
      Similarity.knnClassify(s, sf)).foreach(_.queryExecution.executedPlan)
    assert(s.sessionState.experimentalMethods.extraStrategies === before)
    assert(!s.sessionState.planner.strategies
      .contains(graft.plans.TopKPerKeyStrategy))
  }

  test("nearDupStream horizon: gate-scale band buckets sit far below " +
    "the 4096 default cap") {
    // The capPerBucket=4096 default is a dedup HORIZON: members beyond
    // it are evicted and can no longer match. That is the documented
    // forever-stream contract, but at gate scale the stream face must
    // still be equivalent to dedup-against-everything (the batch LSH
    // index) — which holds exactly while no band bucket outgrows the
    // cap. Pin the headroom with the batch kernel the stream head
    // shares, so fixture growth that erodes it fails loudly instead of
    // silently losing recall.
    val docs = graft.Tables.documents(spark, sf)
    val maxBucket = Dedup.bandSignatureRows(docs)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxBucket > 0)
    assert(maxBucket <= 4096 / 4,
      s"largest band bucket ($maxBucket docs) is within 4x of the " +
        "4096 stream horizon — stream/batch parity at gate scale is " +
        "about to stop holding; raise capPerBucket or shrink the fixture")
  }
}
