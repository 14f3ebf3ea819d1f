package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Round-12 pins: the as-of family's forward/nearest tie rules against
  * a driver replay, the scalable exact rank's equivalence to the
  * window forms it replaced, and the single-partition-window audit's
  * plan guarantees. */
class Round12Spec extends SparkSpec {

  /** Driver-side replay of the orders/shipdates pairing: every
    * (k, ship ts, lid) lookup and (k, order ts, okey) probe collected
    * once; the expected matches re-derived with explicit tie rules. */
  private lazy val shipRows =
    graft.Tables.lineitem(spark, sf)
      .select((col("l_suppkey") % 15).as("k"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("ts"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
          .as("lid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  private lazy val orderRows =
    graft.Tables.orders(spark, sf)
      .select((col("o_custkey") % 15).as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
        col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("asof3_forward == driver replay: earliest ship ts >= order ts, " +
    "ties to the smallest lid") {
    val byK = shipRows.groupBy(_._1)
    val want = orderRows.map { case (k, ots, okey) =>
      val cand = byK.getOrElse(k, Array.empty)
        .filter(_._2 >= ots)
      okey -> (if (cand.isEmpty) None
               else Some(cand.minBy(c => (c._2, c._3))._3))
    }.toMap
    val got = AsOf.asofOrderShipForward(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.size === want.size)
    assert(got === want)
    // the tie rule must actually be exercised: some order date carries
    // more than one same-day shipment in its bucket
    val tied = orderRows.exists { case (k, ots, _) =>
      byK.getOrElse(k, Array.empty).count(_._2 == ots) > 1
    }
    assert(tied, "no same-day shipment tie in the corpus — vacuous pin")
  }

  test("asof4_nearest == driver replay: backward <= (ties largest " +
    "lid) vs strictly-later forward (ties smallest lid), equal " +
    "distance pins backward") {
    // both sides are midnight-aligned micros, so day distances divide
    // exactly
    val dayUs = 86400L * 1000000L
    val byK = shipRows.groupBy(_._1)
    val want = orderRows.map { case (k, ots, okey) =>
      val cand = byK.getOrElse(k, Array.empty)
      val b = cand.filter(_._2 <= ots) match {
        case a if a.isEmpty => None
        case a => Some(a.maxBy(c => (c._2, c._3)))
      }
      val f = cand.filter(_._2 > ots) match {
        case a if a.isEmpty => None
        case a => Some(a.minBy(c => (c._2, c._3)))
      }
      val (lid, dist) = (b, f) match {
        case (Some(bb), None) => (bb._3, (ots - bb._2) / dayUs)
        case (None, Some(ff)) => (ff._3, (ff._2 - ots) / dayUs)
        case (Some(bb), Some(ff)) =>
          val db = (ots - bb._2) / dayUs
          val df = (ff._2 - ots) / dayUs
          if (db <= df) (bb._3, db) else (ff._3, df)
        case (None, None) => (-1L, -1L)
      }
      okey -> (lid, dist)
    }.toMap
    val got = AsOf.asofOrderShipNearest(spark, sf).collect()
      .map(r => r.getLong(0) ->
        // an empty bucket (possible at tiny SF: few suppliers) yields
        // a NULL match — encoded (-1, -1) like the replay
        (if (r.isNullAt(1)) (-1L, -1L)
         else (r.getLong(1), r.getLong(2)))).toMap
    assert(got.size === want.size)
    want.foreach { case (okey, w) =>
      assert(got(okey) === w, s"order $okey")
    }
    // both directions must win somewhere, and a distance-0 (same-day)
    // match must exist, or the comparison logic is untested
    val dists = got.values.map(_._2)
    assert(dists.exists(_ == 0L), "no same-day nearest match")
    val fwdWins = orderRows.exists { case (k, ots, okey) =>
      val cand = byK.getOrElse(k, Array.empty)
      cand.exists(_._2 <= ots) && cand.exists(_._2 > ots) && {
        val bb = cand.filter(_._2 <= ots).maxBy(c => (c._2, c._3))
        val ff = cand.filter(_._2 > ots).minBy(c => (c._2, c._3))
        (ff._2 - ots) < (ots - bb._2)
      }
    }
    assert(fwdWins, "forward never wins — vacuous direction choice")
  }

  test("withGlobalRank + ntileOfRank == the window forms, on an " +
    "adversarial frame (ties only in the value, n % k != 0)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 103 rows, 7 tiles (103 = 7*14 + 5), heavy value ties broken by id
    val df = (1 to 103).map(i => (i.toLong, (i % 9).toLong))
      .toDF("id", "v")
    val want = df
      .withColumn("rn", row_number().over(
        Window.orderBy(col("v").asc, col("id").asc)).cast("long"))
      .withColumn("t", ntile(7).over(
        Window.orderBy(col("v").asc, col("id").asc)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val ranked = Ranking.withGlobalRank(df, "rn", "n",
      Seq(col("v").asc, col("id").asc), parts = 5, smallThreshold = 0L)
    val got = ranked
      .withColumn("t", Ranking.ntileOfRank(col("rn"), col("n"), 7))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rn"),
        r.getAs[Long]("t")))
      .sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // tileStart inverts ntileOfRank: rank-within-tile restates the
    // partitioned row_number
    val wantRk = df
      .withColumn("t", ntile(7).over(
        Window.orderBy(col("v").asc, col("id").asc)).cast("long"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("t"))
        .orderBy(col("v").asc, col("id").asc)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    val gotRk = ranked
      .withColumn("t", Ranking.ntileOfRank(col("rn"), col("n"), 7))
      .withColumn("rk",
        col("rn") - Ranking.tileStart(col("t"), col("n"), 7) + lit(1L))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rk")))
      .sortBy(_._1)
    assert(gotRk.toSeq === wantRk.toSeq)
  }

  test("asof forward/nearest plan with ONE exchange (the union is " +
    "partitioned once; nearest's two carries are two sorts of the " +
    "same shuffle, no unbounded-following frame)") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val fwd = plan(AsOf.asofOrderShipForward(spark, sf))
    assert(fwd.split("Exchange").length - 1 === 1, fwd)
    val near = plan(AsOf.asofOrderShipNearest(spark, sf))
    assert(near.split("Exchange").length - 1 === 1, near)
    // both carries must be growing frames — the unbounded-following
    // form is O(n^2) per partition (re-evaluated per row)
    assert(!near.contains("unboundedfollowing"),
      near.linesIterator.filter(_.contains("windowspecdefinition"))
        .mkString("\n"))
  }

  test("geo8 polygon-contains: the cell stencil is lossless (bit-equal " +
    "to the degenerate one-cell grid) and the ray-cast prunes inside " +
    "the bbox") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val got = key(Spatial.polygonContains(spark, sf))
    // g = the whole domain → one cell → candidates are the full bbox
    // join; identical output proves the stencil loses no candidate
    val want = key(Spatial.polygonContains(spark, sf,
      gridMicros = Spatial.DomainMicros))
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq)
    // the octagon must genuinely prune bbox corners: total contained
    // count is strictly below the bbox candidate count (area ratio
    // π-ish < 1), or the ray-cast is vacuous
    def coin(salt: String, m: Long) =
      pmod(md5Base60(
        concat(lit(salt), col("s_suppkey").cast("string"))), lit(m))
    val pol = graft.Tables.supplier(spark, sf).select(
      coin("gpx:", Spatial.DomainMicros).as("cx"),
      coin("gpy:", Spatial.DomainMicros).as("cy"),
      (lit(1000000L) + coin("gpr:", 3000001L)).as("r"))
    val bboxHits = Spatial.points(spark, sf).crossJoin(pol)
      .filter(abs(col("x") - col("cx")) <= col("r") &&
        abs(col("y") - col("cy")) <= col("r"))
      .count()
    val contained = got.map(_._2).sum
    assert(contained > 0, "no contained point anywhere")
    assert(contained < bboxHits,
      s"ray-cast pruned nothing: $contained of $bboxHits")
    val plan = Spatial.polygonContains(spark, sf)
      .queryExecution.executedPlan.toString
    // candidates come from an equi-join on the cell key, never a
    // cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("cell"), plan)
  }

  test("pipe2 funnel: stage counts are monotone, the tercile keep is " +
    "exactly n - n/3, and every stage drops someone") {
    val rows = Preprocess.ccnetFunnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nq, ndd, np) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_quality"), r.getAs[Long]("n_dedup"),
        r.getAs[Long]("n_ppl_kept"))
      assert(nq <= nd && ndd <= nq && np <= ndd, s"$r")
    }
    val nDedup = rows.map(_.getAs[Long]("n_dedup")).sum
    val nKept = rows.map(_.getAs[Long]("n_ppl_kept")).sum
    // ntile(3) keeps tiles 1-2 = n - floor(n/3) rows exactly
    assert(nKept === nDedup - nDedup / 3, s"$nKept of $nDedup")
    // non-vacuity: the quality gate and the tercile gate both bite
    assert(rows.map(_.getAs[Long]("n_docs")).sum >
      rows.map(_.getAs[Long]("n_quality")).sum)
    assert(nKept < nDedup)
    assert(rows.map(_.getAs[Long]("tokens_kept")).sum > 0L)
  }

  test("the rank helper is size-adaptive: the distributed path plans " +
    "with NO WindowExec, the small-frame path takes the bounded " +
    "window, and both are bit-equal") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "v")
    val srt = Seq(col("v").asc, col("id").asc)
    // forced distributed path: zero WindowExec anywhere — the rank is
    // the range-stamp plan the serving faces take above the threshold
    val big = Ranking.withGlobalRank(df, "rn", "n", srt, parts = 4,
      smallThreshold = 0L)
    assert(!big.queryExecution.executedPlan.toString.contains("Window"),
      big.queryExecution.executedPlan.toString)
    // default path on a tiny frame: the bounded single-partition
    // window (≤ SmallFrameRows by the guard, never corpus-sized)
    val small = Ranking.withGlobalRank(df, "rn", "n", srt)
    assert(small.queryExecution.executedPlan.toString.contains("Window"))
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rn"),
        r.getAs[Long]("n"))).sortBy(_._1).toSeq
    assert(key(big) === key(small))
  }
}
