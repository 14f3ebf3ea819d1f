package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-7 batch 5: permutation test, ALS fit readout, two boosting
  * rounds, persisted co-occurrence index — each restated driver-side
  * from first principles (and the index's pruning plan-asserted).
  */
class Round7eSpec extends SparkSpec {

  private def rnd(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  private def ordersRows: Array[(Long, Long, Long)] =
    Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .withColumn("o_totalprice", round(col("o_totalprice") * 100)
        .cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.getString(2) == "1-URGENT") 1L else 0L))

  test("permutation test equals an md5-replayed relabeling sweep") {
    val o = ordersRows
    def gap(s1: Long, n1: Long, s0: Long, n0: Long): Long =
      rnd(1e6 * (s1.toDouble / n1.toDouble - s0.toDouble / n0.toDouble))
    val n1 = o.count(_._3 == 1L).toLong
    val n0 = o.length - n1
    val gObs = gap(o.filter(_._3 == 1L).map(_._2).sum, n1,
      o.filter(_._3 == 0L).map(_._2).sum, n0)
    val gaps = (0 until 100).map { b =>
      val lbl = o.map(r => (r._2, md5_60(s"perm:$b:${r._1}") % 2))
      gap(lbl.filter(_._2 == 1L).map(_._1).sum,
        lbl.count(_._2 == 1L).toLong,
        lbl.filter(_._2 == 0L).map(_._1).sum,
        lbl.count(_._2 == 0L).toLong)
    }
    val nExtreme = gaps.count(g => math.abs(g) >= math.abs(gObs)).toLong
    val row = Relational.stat31Permutation(spark, sf).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5)) ===
      ((o.length.toLong, n1, gObs, 100L, nExtreme,
        rnd(1e6 * (nExtreme + 1).toDouble / 101.0))))
    // the urgent flag is assigned independently of value in TPC-H, so
    // the test must NOT reject: p should be comfortably non-tiny
    assert(row.getLong(5) > 10000L)
  }

  test("ALS fit eval: the half-step explains a real share of SSE") {
    // factor replay (the Round7dSpec normal-equations restatement)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).round))
    val ok2cust = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ratings = li.groupBy(x => (ok2cust(x._1), x._2)).toSeq
      .map { case ((c, p), xs) => (c, p, xs.map(_._3).sum) }
    def q(comp: Int, part: Long): Long =
      md5_60(s"alsq$comp:$part") % 2001L - 1000L
    val factors = ratings.groupBy(_._1).map { case (cust, xs) =>
      val s11 = xs.map(x => q(1, x._2) * q(1, x._2)).sum
      val s12 = xs.map(x => q(1, x._2) * q(2, x._2)).sum
      val s22 = xs.map(x => q(2, x._2) * q(2, x._2)).sum
      val t1 = xs.map(x => x._3 * q(1, x._2)).sum
      val t2 = xs.map(x => x._3 * q(2, x._2)).sum
      val nI = xs.size
      val (a11, a12, a22) = (s11 / 1e6 + 0.1 * nI, s12 / 1e6,
        s22 / 1e6 + 0.1 * nI)
      val det = a11 * a22 - a12 * a12
      cust -> (rnd(1e6 * (a22 * (t1 / 1e3) - a12 * (t2 / 1e3)) / det),
        rnd(1e6 * (a11 * (t2 / 1e3) - a12 * (t1 / 1e3)) / det))
    }
    val (sse0, sse1) = ratings.foldLeft((0L, 0L)) {
      case ((a0, a1), (c, p, r)) =>
        val (p1, p2) = factors(c)
        val err = r.toDouble - (p1 * q(1, p) + p2 * q(2, p)).toDouble / 1e9
        (a0 + r * r * 1000000L, a1 + rnd(1e6 * err * err))
    }
    val row = Recommend.alsFitEval(spark, sf).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3)) === ((ratings.size.toLong, sse0, sse1,
      rnd(1e6 * (1.0 - sse1.toDouble / sse0.toDouble)))))
    // the solve minimizes SSE + λ‖p‖², so it can never do worse than
    // p = 0 — improvement must be strictly positive. Its magnitude is
    // small by construction: zero-mean random item factors carry no
    // bias dimension, so the rating MEAN (most of Σr²) is unreachable
    assert(row.getLong(3) > 0L && row.getLong(2) < row.getLong(1))
  }

  test("two boosting rounds equal a driver-side replay, MSE decreases") {
    val lc = Tables.lineitem(spark, sf).select("l_orderkey").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.size.toLong }
    val base = ordersRows.filter(o => lc.contains(o._1)).map { o =>
      (o._2 / 1000000L, lc(o._1), o._3) // bin1 = floor(cents/1e6)=10k$
    }
    val n = base.length.toLong
    val f0 = rnd(1e6 * base.map(_._3).sum.toDouble / n.toDouble)
    def fit(rows: Seq[(Long, Long)]): (Long, Long, Long) = {
      // rows = (bin, residual); returns (t, lvL, lvR)
      val bins = rows.groupBy(_._1).toSeq.sortBy(_._1)
      val nTot = rows.size.toLong
      val sTot = rows.map(_._2).sum
      val best = bins.indices.dropRight(1).map { i =>
        val nl = bins.take(i + 1).map(_._2.size).sum.toLong
        val sl = bins.take(i + 1).flatMap(_._2).map(_._2).sum
        val (nr, sr) = (nTot - nl, sTot - sl)
        val score = sl.toDouble * sl.toDouble / nl.toDouble +
          sr.toDouble * sr.toDouble / nr.toDouble
        (bins(i)._1, score, rnd(0.5 * sl.toDouble / nl.toDouble),
          rnd(0.5 * sr.toDouble / nr.toDouble))
      }.sortBy(x => (-x._2, x._1)).head
      (best._1, best._3, best._4)
    }
    val r1 = base.map(b => (b._1, b._2, b._3 * 1000000L - f0))
    val (t1, lv1l, lv1r) = fit(r1.map(x => (x._1, x._3)).toSeq)
    val r2 = r1.map(x => (x._1, x._2,
      x._3 - (if (x._1 <= t1) lv1l else lv1r)))
    val (t2, lv2l, lv2r) = fit(r2.map(x => (x._2, x._3)).toSeq)
    val r3 = r2.map(x => x._3 - (if (x._2 <= t2) lv2l else lv2r))
    def mseOf(rs: Seq[Long]): Long =
      rnd(rs.map(r => BigInt(r) * BigInt(r)).sum.toDouble / n.toDouble)
    val want = Set(
      (0L, "const_f0", -1L, f0, f0, mseOf(r1.map(_._3).toSeq)),
      (1L, "totalprice_k10", t1, lv1l, lv1r, mseOf(r2.map(_._3).toSeq)),
      (2L, "linecount", t2, lv2l, lv2r, mseOf(r3.toSeq)))
    val got = Training.ml22GbdtRound(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got === want)
    // boosting must strictly reduce training MSE each round
    val trail = got.toSeq.sortBy(_._1).map(_._6)
    assert(trail(0) > trail(1) && trail(1) > trail(2),
      s"MSE not decreasing: $trail")
  }

  test("co-occurrence index: pruned read equals a from-scratch replay") {
    val df = Recommend.cooccurIndexed(spark, sf)
    // the head items' buckets must land as a static partition filter
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bucket#\\d+ IN".r.findFirstIn(p)
      .isDefined, s"no static partition pruning on the index scan:\n$p")
    // from-scratch replay of build + head selection + lookup
    val it = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = it.map(_._1).distinct.length.toLong
    val sup = it.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val pairs = it.groupBy(_._1).values.flatMap { b =>
      val items = b.map(_._2).sorted
      for (i <- items.indices; j <- i + 1 until items.length)
        yield (items(i), items(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2L)
    val sym = pairs.toSeq.flatMap { case ((a, b), nab) =>
      Seq((a, b, nab), (b, a, nab)) }
    val head = sym.groupBy(_._1).toSeq
      .map { case (i, xs) => (i, xs.map(_._3).sum) }
      .sortBy { case (i, m) => (-m, i) }.take(5).map(_._1).toSet
    val want = sym.filter(x => head(x._1)).groupBy(_._1).toSeq
      .flatMap { case (i, xs) =>
        xs.sortBy(x => (-x._3, x._2)).take(5).zipWithIndex.map {
          case ((_, nbr, nab), idx) =>
            (i, idx + 1L, nbr, nab, rnd(1e6 * (nab * nOrders).toDouble /
              (sup(i) * sup(nbr)).toDouble))
        }
      }.toSet
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("co-occurrence index: each minSupport reads its own postings") {
    assert(Recommend.cooccurIndexed(spark, sf, minSupport = 2).count() > 0L)
    // no pair reaches a support of one million, whatever was built first
    assert(Recommend.cooccurIndexed(spark, sf, minSupport = 1000000)
      .count() === 0L)
  }
}
