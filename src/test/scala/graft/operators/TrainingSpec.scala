package graft.operators

import graft.{SparkSpec, Tables}

class TrainingSpec extends SparkSpec {

  // round half away from zero, restated independently of the operator
  private def rnd(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  test("linear GD weights equal an independent driver-side replay") {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val got = Training.linearGd(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // plain-Scala replay: features from raw string ops, GD in a loop —
    // no Spark expressions shared with the operator under test
    val feats = Tables.documents(spark, sf)
      .select("text", "lang", "n_chars").collect().map { r =>
        val text = r.getString(0)
        val x2 = text.toLowerCase.split("\\s+").count(_.nonEmpty) * 10000L
        val vowels = text.count(c => "aeiou".contains(c))
        val x3 = rnd(1e6 * vowels.toDouble / math.max(text.length, 1))
        val y = if (r.getString(1) == "en") 1000000L else 0L
        (Array(r.getLong(2) * 1000L, x2, x3, 1000000L), y)
      }
    val n = feats.length
    var w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to 8) {
      val g = Array(0L, 0L, 0L, 0L)
      for ((x, y) <- feats) {
        val p = rnd(x.indices.map(j => w(j) * x(j)).sum.toDouble / 1e6)
        val r = p - y
        for (j <- 0 until 4) g(j) += rnd(r.toDouble * x(j) / 1e6)
      }
      w = Array.tabulate(4)(j => w(j) - rnd(0.05 * g(j).toDouble / n))
    }
    assert(got == Map("chars_k" -> w(0), "tokens_h" -> w(1),
      "vowel_ratio" -> w(2), "bias" -> w(3)))
    assert(w.exists(_ != 0L)) // the probe actually moved
    // the checkpointed feature projection is unpersisted before return
    assert((spark.sparkContext.getPersistentRDDs.keySet -- pre).isEmpty)
  }

  test("feature hashing equals a plain-Scala replay and conserves sign mass") {
    val got = Training.featureHash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = collection.mutable.Map.empty[(Long, Long), Long]
    var signSum = 0L
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .foreach { r =>
        for (t <- r.getString(1).toLowerCase.split("\\s+") if t.nonEmpty) {
          val b = md5_60("fh_" + t) % 64
          val sg = if (md5_60("fs_" + t) % 2 == 0) 1L else -1L
          expect((r.getLong(0), b)) = expect.getOrElse((r.getLong(0), b), 0L) + sg
          signSum += sg
        }
      }
    assert(got == expect.filter(_._2 != 0L).toMap)
    // dropped zero-weight slots are exactly the collision cancellations:
    // total signed mass is conserved by the kept slots
    assert(got.values.sum == signSum)
    assert(got.values.exists(_ < 0L) && got.values.exists(_ > 1L))
  }

  test("BPE merge table equals a plain-Scala replay of the training loop") {
    val got = Training.bpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // replay: vocab from raw string ops, merges via java.lang.String
    // .replace (literal, left-to-right non-overlapping — same contract
    // as the engine's replace function)
    val vocab = collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      for (t <- r.getString(0).toLowerCase.split("\\s+")
           if t.nonEmpty && t.forall(c => c >= 'a' && c <= 'z'))
        vocab(t) = vocab.getOrElse(t, 0L) + 1L
    }
    var segs = vocab.toList.map { case (w, c) =>
      (" " + w.map(_ + " ").mkString, c)
    }
    val expect = collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to 10) {
      val pc = collection.mutable.Map.empty[String, Long]
      for ((seg, c) <- segs) {
        val parts = seg.trim.split(" ")
        for (i <- 0 until parts.length - 1) {
          val p = parts(i) + " " + parts(i + 1)
          pc(p) = pc.getOrElse(p, 0L) + c
        }
      }
      if (pc.nonEmpty) {
        val (pair, cnt) = pc.toList.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        expect += ((r, pair, merged, cnt))
        val (pat, rep) = (" " + pair + " ", " " + merged + " ")
        segs = segs.map { case (s, c) =>
          (s.replace(pat, rep).replace(pat, rep).replace(pat, rep), c)
        }
      }
    }
    assert(got.toList == expect.toList)
    assert(got.length == 10)
    // rounds actually compound: some later rule merges an earlier output
    assert(got.exists(r => r._2.split(" ").exists(_.length > 1)))

    // encode: token table equals the replay's final segmentations,
    // and is consistent with the training run (every merged rule
    // symbol that survives to the final segs appears as a token)
    val preRdds = spark.sparkContext.getPersistentRDDs.keySet
    val enc = Training.bpeEncode(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expTok = collection.mutable.Map.empty[String, (Set[String], Long)]
    for ((seg, c) <- segs; w = seg.trim.replace(" ", "");
         t <- seg.trim.split(" ")) {
      val (ws, n) = expTok.getOrElse(t, (Set.empty[String], 0L))
      expTok(t) = (ws + w, n + c)
    }
    assert(enc == expTok.map { case (t, (ws, n)) => t -> (ws.size.toLong, n) })
    // token mass conservation: Σ n_occurrences = Σ word-count × seg-len
    assert(enc.values.map(_._2).sum ==
      segs.map { case (s, c) => s.trim.split(" ").length * c }.sum)
    // the loop's checkpoints are unpersisted before return
    assert((spark.sparkContext.getPersistentRDDs.keySet -- preRdds).isEmpty)
    assert(enc.keys.exists(_.length > 1)) // merges reached the output
    // the trained model is STAGED (rules + vocab parquet) at THIS
    // corpus's exact registry key: the encode calls above — and any
    // later session over the same corpus — read it instead of
    // replaying the loop, and their outputs matched the replay, which
    // validates the cache-hit path end-to-end
    val modelBase = Staging.base("bpe_v1", sf, "10", "documents")
    assert(new java.io.File(s"$modelBase/_built").exists(), modelBase)

    // doc-level encode: n_bpe_tokens = Σ over the doc's alpha words of
    // that word's final segmentation length (replay from `segs`)
    val segLen = segs.map { case (s2, _) =>
      s2.trim.replace(" ", "") -> s2.trim.split(" ").length.toLong
    }.toMap
    val docTok = Training.bpeDocTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expDoc = collection.mutable.Map.empty[Long, (Long, Long)]
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .foreach { r =>
        for (t <- r.getString(1).toLowerCase.split("\\s+")
             if t.nonEmpty && t.forall(c => c >= 'a' && c <= 'z')) {
          val (w, n) = expDoc.getOrElse(r.getLong(0), (0L, 0L))
          expDoc(r.getLong(0)) = (w + 1, n + segLen(t))
        }
      }
    assert(docTok == expDoc.toMap)
    // encoding compresses: fewer BPE tokens than characters, more than
    // (or equal to) whitespace words
    assert(docTok.values.forall { case (w, n) => n >= w })
  }

  test("bpeApply encodes in-vocab words like training and OOV words by rule replay") {
    // replay the trainer (independent, as above) to get rules + segs
    val vocab = collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      for (t <- r.getString(0).toLowerCase.split("\\s+")
           if t.nonEmpty && t.forall(c => c >= 'a' && c <= 'z'))
        vocab(t) = vocab.getOrElse(t, 0L) + 1L
    }
    var segs = vocab.toList.map { case (w, c) =>
      (" " + w.map(_ + " ").mkString, c)
    }
    val rules = collection.mutable.ListBuffer.empty[(String, String)]
    for (_ <- 1 to 10) {
      val pc = collection.mutable.Map.empty[String, Long]
      for ((seg, c) <- segs; parts = seg.trim.split(" ");
           i <- 0 until parts.length - 1) {
        val p = parts(i) + " " + parts(i + 1)
        pc(p) = pc.getOrElse(p, 0L) + c
      }
      val (pair, _) = pc.toList.minBy { case (p, c) => (-c, p) }
      rules += ((pair, pair.replace(" ", "")))
      val (pat, rep) = (" " + pair + " ", " " + pair.replace(" ", "") + " ")
      segs = segs.map { case (s2, c) =>
        (s2.replace(pat, rep).replace(pat, rep).replace(pat, rep), c)
      }
    }
    def applyRules(w: String): Long = {
      var seg = " " + w.map(_ + " ").mkString
      for ((pair, merged) <- rules) {
        val (pat, rep) = (" " + pair + " ", " " + merged + " ")
        seg = seg.replace(pat, rep).replace(pat, rep).replace(pat, rep)
      }
      seg.trim.split(" ").length.toLong
    }
    val got = Training.bpeApply(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // in-vocab rows equal the trainer's final segmentation lengths
    val segLen = segs.map { case (s2, _) =>
      s2.trim.replace(" ", "") -> s2.trim.split(" ").length.toLong }.toMap
    for ((w, n) <- segLen) assert(got((w, 0L)) == n, w)
    // OOV rows: genuinely unseen, encoded by the same rule replay
    val oov = got.keys.filter(_._2 == 1L).map(_._1)
    assert(oov.nonEmpty && oov.forall(w => !vocab.contains(w)))
    for (w <- oov) assert(got((w, 1L)) == applyRules(w), w)
    // OOV words fall back toward characters: no learned rule matches a
    // zz-probe better than rarely, so mean OOV length ≈ word length
    assert(oov.map(w => got((w, 1L))).sum >= oov.map(_.length.toLong).sum / 2)
  }

  test("adaptive quality filter keeps exactly the per-source top 80%") {
    import org.apache.spark.sql.functions.col
    val got = TextAnalysis.qualityAdaptive(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("\\s+").count(_.nonEmpty).toLong))
    val expect = docs.groupBy(_._2).toList.flatMap { case (src, ds) =>
      val ranked = ds.toList.sortBy(d => (d._3, d._1)).zipWithIndex
        .map { case ((id, _, n), i) => (id, src, n, i + 1L) }
      val cut = ranked.length * 20 / 100
      ranked.filter(_._4 > cut)
    }.toSet
    assert(got.toSet == expect)
    // the filter actually dropped the bottom slice of every source
    val bySrc = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val keptBySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    for ((src, n) <- bySrc)
      assert(keptBySrc.getOrElse(src, 0) == n - n * 20 / 100, src)
  }

  test("min-max scaling summary equals a driver-side replay") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val micros = vecs.map { case (_, v) =>
      v.map(x => rnd(x.toDouble * 1e6))
    }
    val got = Training.minmaxScale(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == (0L until 64L).toSet)
    for (d <- 0 until 64) {
      val colVals = micros.map(_(d))
      val (mn, mx) = (colVals.min, colVals.max)
      val sumScaled =
        if (mx > mn) colVals.map(m => rnd(1e6 * (m - mn) / (mx - mn))).sum
        else 0L
      assert(got(d.toLong) == ((mn, mx, sumScaled, vecs.length.toLong)),
        s"dim $d")
    }
    // scaled values live in [0, 1e6]: the checksum is bounded by n·1e6
    assert(got.values.forall { case (_, _, s, n) =>
      s >= 0 && s <= n * 1000000L })
  }

  test("L2 normalization is exchange-free and equals a driver replay") {
    val df = Training.l2Normalize(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"row-local normalization must not shuffle:\n$plan")
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for ((id, v) <- vecs) {
      val ms = v.map(x => rnd(x.toDouble * 1e6))
      val norm = rnd(math.sqrt(ms.map(m => m * m).sum.toDouble))
      val cks = if (norm > 0) ms.map(m => rnd(1e6 * m / norm)).sum else 0L
      assert(got(id) == ((norm, cks)), s"vec $id")
      // a unit vector's micro-components square-sum to ~1e12
      val unit = ms.map(m => 1e6 * m / norm)
      assert(math.abs(unit.map(u => u * u).sum - 1e12) < 1e9)
    }
  }

  test("bpe dropout refuses a vocab that breaks its sentinel invariant") {
    import spark.implicits._
    val rules = List((1, "a b", "ab", 2L))
    val vocab = Seq(("ab", 1L), ("a\u0000b", 1L)).toDF("word", "cnt")
    val e = intercept[IllegalArgumentException](
      Training.bpeDropout(rules, vocab, pTenths = 3))
    assert(e.getMessage.contains("^[a-z]+$"), e.getMessage)
    // the same rules over a vocab that keeps the invariant encode
    val ok = Training.bpeDropout(rules, vocab.filter($"word" === "ab"), 3)
    assert(ok.select("n_tok").as[Long].collect().toSeq === Seq(1L))
  }
}
