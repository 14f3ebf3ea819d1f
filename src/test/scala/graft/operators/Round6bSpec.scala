package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-6 continuation operators: out-of-fold target encoding, PSI
  * drift, mutual information, readability, EWMA spikes. Values are
  * pinned by the DuckDB oracle; these tests restate the math
  * independently (driver-side Scala over the collected fixture) and pin
  * the semantic invariants the oracle can't express.
  */
class Round6bSpec extends SparkSpec {

  /** Half away from zero — SQL round() in both Spark and DuckDB;
    * Scala's math.round is half toward +∞ and differs on negative
    * halves, so replays of micro-quantized scores must not use it. */
  private def rnd6(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  private lazy val docs: Seq[(Long, String, String, Long)] =
    Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("targetEncode: encoding excludes the fold's own rows (driver replay)") {
    val out = Training.targetEncode(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent replay: md5-60 fold assignment + exact long sums
    val folded = docs.map { case (id, _, lang, nc) =>
      (lang, (md5_60(id.toString) % 100) % 5, nc)
    }
    val byFold = folded.groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val byLang = folded.groupBy(_._1)
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val (nAll, sumAll) = (folded.size.toLong, folded.map(_._3).sum)
    assert(out.keySet === byFold.keySet)
    assert(out.values.map(_._1).sum === nAll, "cells partition the corpus")
    byFold.foreach { case ((lang, fold), (nF, sumF)) =>
      val (nL, sumL) = byLang(lang)
      val expected = rnd6(1e6 *
        ((sumL - sumF).toDouble + 10.0 * (sumAll.toDouble / nAll)) /
        ((nL - nF).toDouble + 10.0))
      assert(out((lang, fold)) === ((nF, sumF, expected)), s"$lang/$fold")
    }
  }

  test("driftPsi: halves partition the corpus; psi total matches driver replay") {
    val rows = Profiling.driftPsi(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum + rows.map(_.getLong(2)).sum ===
      docs.size.toLong)
    val k = rows.length.toLong
    val (totRef, totCur) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    val expectTerms = rows.map { r =>
      val p = (r.getLong(1).toDouble + 0.5) / (totRef.toDouble + 0.5 * k)
      val q = (r.getLong(2).toDouble + 0.5) / (totCur.toDouble + 0.5 * k)
      rnd6(1e6 * (p - q) * math.log(p / q))
    }
    assert(rows.map(_.getLong(3)).toSeq === expectTerms.toSeq)
    val total = expectTerms.sum
    rows.foreach(r => assert(r.getLong(4) === total))
  }

  test("mutualInfo: independent margins give MI ≈ 0 only when independent; replay is exact") {
    val rows = Profiling.mutualInfo(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nAll = rows.map(_._3).sum
    val nx = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ny = rows.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val expect = rows.map { case (l, s2, nxy, _, _) =>
      rnd6(1e6 * (nxy.toDouble / nAll) *
        math.log(nxy.toDouble * nAll / (nx(l).toDouble * ny(s2))))
    }
    assert(rows.map(_._4).toSeq === expect.toSeq)
    val total = expect.sum
    rows.foreach(t => assert(t._5 === total))
    // MI is non-negative up to per-cell rounding (±1 micro-nat per cell)
    assert(total >= -rows.length)
  }

  test("readability: counts and score match a driver-side regex replay") {
    val out = TextAnalysis.readability(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text, _, _) =>
      def cnt(s: String, pat: String): Long =
        pat.r.findAllIn(s).length.toLong
      val w = cnt(text, "[A-Za-z]+")
      val sn = math.max(cnt(text, "[.!?]+"), 1L)
      val sy = cnt(text.toLowerCase, "[aeiouy]+")
      val r = out(id)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((w, sn, sy)), s"doc $id")
      if (w > 0) {
        val score = rnd6(1e6 * (206.835 -
          1.015 * (w.toDouble / sn) - 84.6 * (sy.toDouble / w)))
        assert(r.getLong(4) === score, s"doc $id flesch")
      }
    }
  }

  test("bigramLogProb: bigram counts and smoothed scores match a driver replay") {
    val out = TextAnalysis.bigramLogProb(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // replay: tokenize, build the bigram model, score
    val toks = docs.map { case (id, text, _, _) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }.toMap
    val allPairs = toks.toSeq.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.size == 2).map(p => (id, (p(0), p(1)))).toSeq
    }
    val c12 = allPairs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val v = c12.keySet.map(_._2).size.toLong
    toks.foreach { case (id, ts) =>
      val expected = math.max(ts.size - 1, 0).toLong
      assert(out(id)._1 === expected, s"doc $id n_bigrams")
      if (expected > 0) {
        val lps = ts.sliding(2).filter(_.size == 2).map { p =>
          val pair = (p(0), p(1))
          rnd6(math.log((c12(pair).toDouble + 0.5) /
            (c1(pair._1).toDouble + 0.5 * v)) * 1e6)
        }.toSeq
        val mean = BigDecimal(lps.sum.toDouble / (lps.size.toDouble * 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(out(id)._2.contains(mean), s"doc $id mean_logprob")
      } else assert(out(id)._2.isEmpty)
    }
  }

  test("oovRate: top-1000 vocabulary coverage matches a driver replay") {
    val out = TextAnalysis.oovRate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val toks = docs.map { case (id, text, _, _) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val vocabTop = toks.flatMap(_._2).groupBy(identity)
      .map { case (t, v) => (t, v.size) }.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(1000).map(_._1).toSet
    toks.foreach { case (id, ts) =>
      val oov = ts.count(t => !vocabTop.contains(t)).toLong
      assert(out(id) === ((ts.size.toLong, oov)), s"doc $id")
    }
  }

  test("attribution: segments reset at each purchase; credits split evenly") {
    val rows = EventAnalytics.attribution(spark, sf).collect()
    assert(rows.nonEmpty)
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        round(col("value") * 1e6).cast("long").as("vm"))
      .as[(Long, Long, java.sql.Timestamp, String, Long)].collect()
    val byUser = evs.groupBy(_._1).map { case (u, v) =>
      u -> v.sortBy(t => (t._3.getTime, t._3.getNanos, t._2))
    }
    val out = rows.map(r => r.getLong(0) ->
      (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    var checked = 0
    byUser.foreach { case (_, series) =>
      var clicks = Vector.empty[Long] // click ids since last purchase
      series.foreach { case (_, id, _, typ, _) =>
        if (typ == "click") clicks :+= id
        else if (typ == "purchase") {
          val (n, first, last) = out(id)
          assert(n === clicks.size.toLong, s"purchase $id n_touches")
          assert(first === clicks.headOption, s"purchase $id first")
          assert(last === clicks.lastOption, s"purchase $id last")
          clicks = Vector.empty
          checked += 1
        }
      }
    }
    assert(checked === rows.length, "every purchase row accounted for")
  }

  test("mmrSelect: ranks unique, top pick = brute top-1, sims match the native kernel") {
    val out = Similarity.mmrSelect(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to 8L))
    assert(out.map(_.getLong(1)).distinct.length === 8, "no repeats")
    val brute1 = Similarity.annBruteForce(spark, sf, k = 1)
      .collect().head.getLong(0)
    assert(out.head.getLong(1) === brute1, "rank 1 is pure relevance")
    // cross-check the driver loop's pairwise sims against the native
    // cosine kernel: for each rank ≥ 2, max_sim must equal the max
    // kernel-computed similarity to all PRIOR selections
    val ids = out.map(_.getLong(1))
    val vecs = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    import spark.implicits._
    (1 until out.length).foreach { i =>
      val prior = ids.take(i)
      val kernelMax = prior.map { p =>
        Seq((vecs(ids(i)).toArray, vecs(p).toArray)).toDF("a", "b")
          .select(round(Similarity.cosine(col("a"), col("b")), 6))
          .collect().head.getDouble(0)
      }.max
      assert(out(i).getDouble(3) === kernelMax, s"rank ${i + 1} max_sim")
      // emitted score is consistent with its own columns
      val expect = BigDecimal(1e6 *
        (0.7 * out(i).getDouble(2) - 0.3 * out(i).getDouble(3)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(out(i).getLong(4) === expect, s"rank ${i + 1} score")
    }
  }

  test("approxQuantiles: contract flag holds and exact quantiles match a driver replay") {
    val out = Sketches.approxQuantiles(spark, sf).collect()
      .map(r => r.getDouble(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out.keySet === Set(0.25, 0.5, 0.75, 0.9))
    assert(out.values.forall(_._3), "every GK answer inside its rank window")
    // exact quantiles replayed driver-side: linear interpolation over
    // the sorted cents (the percentile() definition)
    val cents = graft.Tables.lineitem(spark, sf)
      .select(round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(_.getLong(0)).sorted
    out.foreach { case (q, (n, exact, _)) =>
      assert(n === cents.length.toLong)
      val pos = q * (cents.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val expect = cents(lo) + (pos - lo) * (cents(hi) - cents(lo))
      assert(exact === expect, s"q=$q")
    }
  }

  test("tfidfLabels + epochOrder: rank filters plan through TopKPerKeyExec; orders replay") {
    val p1 = TextAnalysis.tfidfLabels(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p1.contains("TopKPerKey (final)"),
      s"tfidf rank filter must use the custom heap exec:\n$p1")
    val p2 = Sampling.epochOrder(graft.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(p2.contains("TopKPerKey (final)"),
      s"epoch order must use the custom heap exec:\n$p2")
    // epoch orders replay from the md5 bridge and differ across epochs
    val rows = Sampling.epochOrder(graft.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byEpoch = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byEpoch.keySet === Set(0L, 1L))
    assert(byEpoch(0L) !== byEpoch(1L), "epochs must shuffle differently")
    (0L to 1L).foreach { e =>
      val expect = docs.map(_._1)
        .sortBy(id => (md5_60(s"$e:$id"), id)).take(50)
      assert(byEpoch(e) === expect, s"epoch $e order")
    }
  }

  test("logisticGd: training reduces log-loss vs the zero model; deterministic") {
    val w = Training.logisticGd(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w.keySet === Set("chars_k", "tokens_h", "vowel_ratio", "bias"))
    // replay features driver-side and compare log-loss before/after
    val feats = docs.map { case (_, text, lang, nc) =>
      val toks = text.toLowerCase.split("\\s+").count(_.nonEmpty)
      val vowels = text.count("aeiou".contains(_))
      val x3 = BigDecimal(1e6 * vowels.toDouble / math.max(text.length, 1))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (Array(nc * 1000L, toks * 10000L, x3, 1000000L),
        if (lang == "en") 1.0 else 0.0)
    }
    def loss(wv: Array[Long]): Double = feats.map { case (x, y) =>
      val z = x.zip(wv).map { case (a, b) => a.toDouble * b }.sum / 1e12
      val p = 1.0 / (1.0 + math.exp(-z))
      -(y * math.log(p) + (1 - y) * math.log(1 - p))
    }.sum / feats.size
    val trained = Array(w("chars_k"), w("tokens_h"), w("vowel_ratio"),
      w("bias"))
    assert(loss(trained) < loss(Array(0L, 0L, 0L, 0L)),
      s"training must beat the zero model: ${loss(trained)}")
    val again = Training.logisticGd(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === w)
  }

  test("rollingSlope: frame sums match a driver replay; constant series has zero slope") {
    import spark.implicits._
    val rows = EventAnalytics.rollingSlope(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 1e6).cast("long"))
      .as[(Long, Long, java.sql.Timestamp, Long)].collect()
    evs.groupBy(_._1).foreach { case (_, v) =>
      val series = v.sortBy(t => (t._3.getTime, t._3.getNanos, t._2))
        .map(t => (t._2, t._4))
      series.indices.foreach { i =>
        val frame = series.slice(math.max(0, i - 15), i + 1)
        val xs = frame.indices.map(j =>
          (math.max(0, i - 15) + j + 1).toLong)
        val ys = frame.map(_._2)
        val n = frame.size.toLong
        val (sx, sy) = (xs.sum, ys.sum)
        val sxx = xs.map(x => x * x).sum
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
        val den = n * sxx - sx * sx
        val expect =
          if (den > 0)
            Some(BigDecimal(1e6 * (n * sxy - sx * sy).toDouble / den)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
          else None
        assert(rows(frame.last._1) === ((n, expect)),
          s"event ${frame.last._1}")
      }
    }
  }

  test("shotBounds: cut flags match an md5 replay; shot count = cuts + 1") {
    val out = Multimodal.shotBounds(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    docs.filter(_._1 < 20).foreach { case (id, text, _, _) =>
      val nf = math.max(1L, text.getBytes("UTF-8").length / 64)
      val lumas = (0L until nf).map(j => md5_60(s"$id#$j") % 1000000L)
      val cuts = (1 until lumas.size)
        .filter(j => math.abs(lumas(j) - lumas(j - 1)) > 500000L)
      assert(out(id) === ((nf, cuts.size + 1L,
        cuts.headOption.map(_.toLong))), s"doc $id")
    }
  }

  test("markovTransitions: rows sum to transition counts; probabilities normalize") {
    val rows = EventAnalytics.markovTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
    val pairs = evs.groupBy(_._1).toSeq.flatMap { case (_, v) =>
      val s2 = v.sortBy(t => (t._3.getTime, t._3.getNanos, t._2)).map(_._4)
      s2.zip(s2.drop(1))
    }
    val expect = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows.map(t => (t._1, t._2) -> t._3).toMap === expect)
    // each from-row's probabilities sum to ~1e6 (rounding ±1 per cell)
    rows.groupBy(_._1).foreach { case (from, cells) =>
      val tot = cells.map(_._4).sum
      assert(math.abs(tot - 1000000L) <= cells.length, s"$from sums to $tot")
    }
  }

  test("ngramNovelty: earliest doc owns its grams; replay is exact") {
    val out = TextAnalysis.ngramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val grams = docs.map { case (id, text, _, _) =>
      val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> ts.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }
    val firstSeen = grams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, v) => g -> v.map(_._2).min }
    grams.filter(_._2.nonEmpty).foreach { case (id, gs) =>
      val novel = gs.count(g => firstSeen(g) == id).toLong
      assert(out(id) === ((gs.size.toLong, novel)), s"doc $id")
    }
    // the corpus's first document is 100% novel by construction
    val firstDoc = grams.filter(_._2.nonEmpty).map(_._1).min
    assert(out(firstDoc)._1 === out(firstDoc)._2)
  }

  test("plans: readability is shuffle-free; EWMA shuffles exactly once") {
    val p1 = TextAnalysis.readability(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"),
      s"readability must be a pure narrow projection:\n$p1")
    val p2 = EventAnalytics.ewmaSpikes(spark, sf)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p2).length
    assert(hashEx === 1, s"EWMA must shuffle once (by user):\n$p2")
  }

  test("pcaPower: unit direction, dominant over every axis, deterministic") {
    val out = Training.pcaPower(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    assert(out.length === 64)
    // unit norm to within quantization
    val norm2 = out.map(x => x.toDouble * x).sum
    assert(math.abs(norm2 / 1e12 - 1.0) < 1e-3, s"norm² $norm2")
    // Rayleigh quotient of the found direction beats every axis
    // direction e_k (true for the dominant eigendirection; 5 rounds
    // converge far past axis quality on this corpus)
    val g = Tables.embeddings(spark, sf)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("ms"))
      .select(posexplode(col("ms")).as(Seq("i", "mi")), col("ms"))
      .select(col("i"), col("mi"), posexplode(col("ms")).as(Seq("j", "mj")))
      .groupBy(col("i"), col("j")).agg(sum(col("mi") * col("mj")).as("g"))
      .collect()
    val gm = Array.ofDim[Double](64, 64)
    g.foreach(r => gm(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble)
    def rayleigh(v: Array[Double]): Double = {
      val gv = Array.tabulate(64)(i =>
        (0 until 64).map(j => gm(i)(j) * v(j)).sum)
      v.zip(gv).map { case (a, b) => a * b }.sum /
        v.map(x => x * x).sum
    }
    val rv = rayleigh(out.map(_.toDouble))
    (0 until 64).foreach { k =>
      val e = Array.fill(64)(0.0); e(k) = 1.0
      assert(rv >= rayleigh(e), s"axis $k beats the found direction")
    }
    // deterministic end to end
    val again = Training.pcaPower(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    assert(again.toSeq === out.toSeq)
  }

  test("ssspWeighted: matches a driver Bellman-Ford replay; frontier opt is lossless") {
    val out = Graphs.ssspWeighted(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.size.toLong
    val edges = docs.map(_._1).flatMap { i =>
      Seq((i + 1) % n, (i + 2) % n, (i * i + 3) % n)
        .filter(_ != i).map(d => (i, d, 1L + (i + d) % 7))
    }
    // classic full-relaxation Bellman-Ford, 8 rounds — NO frontier
    // optimization, so agreement proves the optimization lossless
    var dist = Map(0L -> 0L)
    (1 to 8).foreach { _ =>
      val next = scala.collection.mutable.Map(dist.toSeq: _*)
      edges.foreach { case (s2, d2, w) =>
        dist.get(s2).foreach { c =>
          if (!next.contains(d2) || next(d2) > c + w) next(d2) = c + w
        }
      }
      dist = next.toMap
    }
    assert(out === dist)
  }

  test("ksTest: D statistic matches an exact driver replay in integers") {
    val r = Profiling.ksTest(spark, sf).collect().head
    val halves = docs.map { case (id, _, _, nc) =>
      (nc, md5_60(id.toString) % 100 < 50)
    }
    val nA = halves.count(_._2).toLong
    val nB = halves.size - nA
    val values = halves.map(_._1).distinct.sorted
    var (cumA, cumB) = (0L, 0L)
    var dNum = -1L; var vAt = -1L
    values.foreach { v =>
      cumA += halves.count(t => t._1 == v && t._2)
      cumB += halves.count(t => t._1 == v && !t._2)
      val diff = math.abs(cumA * nB - cumB * nA)
      if (diff > dNum) { dNum = diff; vAt = v }
    }
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((nA, nB, dNum, nA * nB, vAt)))
    // the final cumulative point has F_A = F_B = 1 → diff 0: sanity
    assert(cumA === nA && cumB === nB)
  }

  test("ewmaSpikes: first-event EWMA equals the value; constant series never spikes") {
    import spark.implicits._
    val rows = EventAnalytics.ewmaSpikes(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay: group by user in (ts, event_id) order from the fixture
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 1e6).cast("long").as("m"))
      .as[(Long, Long, java.sql.Timestamp, Long)].collect()
    val byUser = evs.groupBy(_._1).map { case (u, v) =>
      u -> v.sortBy(t => (t._3.getTime, t._3.getNanos, t._2))
        .map(t => (t._2, t._4))
    }
    val out = rows.map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val wts = Iterator.iterate(1.0)(_ * 0.75).take(8).toSeq
    byUser.foreach { case (_, series) =>
      // first event: no history → EWMA is the value itself, no spike
      val (firstId, firstM) = series.head
      assert(out(firstId) === ((firstM, 0L)), s"first event $firstId")
      series.indices.foreach { i =>
        val window = (0 until math.min(8, i + 1)).map(j => series(i - j)._2)
        val num = window.zip(wts).map { case (m, w) => w * m.toDouble }
          .foldLeft(0.0)(_ + _)
        val den = wts.take(window.size).foldLeft(0.0)(_ + _)
        assert(out(series(i)._1)._1 === rnd6(num / den),
          s"event ${series(i)._1}")
      }
    }
  }
}
