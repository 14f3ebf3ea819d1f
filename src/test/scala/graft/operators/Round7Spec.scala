package graft.operators

import graft.SparkSpec

/** Round-7 batch: the documented degradation paths get their tests —
  * the BPE encode join when the vocabulary outgrows a broadcast, per
  * the scaladoc contract on [[Training.bpeDocTokens]].
  */
class Round7Spec extends SparkSpec {

  test("bpe encode: the shuffle-join fallback (vocab too big to " +
      "broadcast) is plan-shaped as claimed and bit-identical") {
    // the documented 100 TB degradation: drop the broadcast hint and
    // (with auto-broadcast off, simulating an oversized vocab) the SAME
    // plan must run as a shuffle join on `word` with identical results
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fallback = Training.bpeDocTokens(spark, sf,
        broadcastModel = false)
      fallback.collect()
      val p = fallback.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!p.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"fallback is not a shuffle join:\n$p")
      assert("Exchange hashpartitioning\\(word".r.findFirstIn(p).isDefined,
        s"no hash partitioning on the join key:\n$p")
      val got = fallback.collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      val want = Training.bpeDocTokens(spark, sf).collect()
        .map(_.toSeq).toSet
      assert(got === want,
        "shuffle-join fallback diverged from the broadcast path")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("incremental IVF index: base build + frozen-model delta append " +
      "== in-session IVF over the full corpus with the base quantizer") {
    import org.apache.spark.sql.functions._
    val df = Similarity.annIvfIndexedIncremental(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the incremental index scan:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    // the in-session twin: full-corpus IVF under the base-only
    // quantizer (frozen-model contract — appends shift nothing)
    val e = graft.Tables.embeddings(spark, sf)
    val splitAt = e.agg(max(col("vec_id"))).head().getLong(0) / 2
    val baseCents = Similarity.centsOf(
      e.filter(col("vec_id") <= splitAt))
    val want = Similarity.annIvf(spark, sf,
      sharedCents = Some(baseCents)).collect().map(_.toSeq).toSeq
    assert(got === want,
      "append path diverged from the frozen-quantizer in-session IVF")
  }

  test("incremental BM25: both postings generations are statically " +
      "pruned to the query terms' buckets") {
    val terms = Seq("spark", "query", "filter")
    val df = TextAnalysis.bm25Incremental(spark, sf, terms)
    val p = df.queryExecution.executedPlan.toString
    // one pruned scan per generation (base + delta)
    assert("PartitionFilters: \\[tb#\\d+ IN".r.findAllIn(p).size >= 2,
      s"expected tb partition pruning on both generation scans:\n$p")
    // merged stats + unioned postings score exactly like the full corpus
    val want = TextAnalysis.bm25(graft.Tables.documents(spark, sf), terms)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(df.collect().map(_.toSeq).toSeq === want,
      "incremental BM25 diverged from the in-session bm25")
  }

  test("incremental LSH index: base + delta signature generations are " +
      "statically pruned and bit-identical to in-session annLsh") {
    val df = Similarity.annLshIncremental(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one band/bval-pruned scan per generation — band values are
    // append-invariant so full-corpus annLsh is the exact twin (no
    // frozen-model caveat); the only other scan is the 1-row query
    // vector read, which is legitimately unpartitioned
    assert("PartitionFilters: \\[\\(+band#\\d+".r.findAllIn(p).size >= 2,
      s"expected band partition pruning on both generation scans:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    val want = Similarity.annLsh(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want,
      "incremental LSH diverged from the in-session annLsh")
  }

  test("compacted indexes: one pruned scan instead of a generation " +
      "union, results bit-identical to the two-generation read") {
    // IVF: compaction keeps the frozen quantizer, so the compacted
    // read must equal the incremental (append) read exactly
    val ivfC = Similarity.annIvfCompacted(spark, sf)
    val pIvf = ivfC.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findAllIn(pIvf).size === 1,
      s"compacted IVF should read exactly one pruned generation:\n$pIvf")
    assert(!pIvf.contains("Union"), s"compacted IVF still unions:\n$pIvf")
    assert(ivfC.collect().map(_.toSeq).toSeq ===
      Similarity.annIvfIndexedIncremental(spark, sf)
        .collect().map(_.toSeq).toSeq)
    // LSH: signatures append-invariant ⇒ compacted == annLsh
    val lshC = Similarity.annLshCompacted(spark, sf)
    val pLsh = lshC.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[\\(+band#\\d+".r.findAllIn(pLsh).size === 1,
      s"compacted LSH should read exactly one pruned generation:\n$pLsh")
    assert(lshC.collect().map(_.toSeq).toSeq ===
      Similarity.annLsh(spark, sf).collect().map(_.toSeq).toSeq)
    // BM25: merged stats + unioned postings == full-corpus bm25
    val bmC = TextAnalysis.bm25Compacted(spark, sf,
      Seq("spark", "query", "filter"))
    val pBm = bmC.queryExecution.executedPlan.toString
    // the scoring kernel legitimately reads the postings twice (df agg
    // + tf join) — the compaction claim is about WHICH generation, not
    // how many reads: every scan must hit the compact root only
    assert("PartitionFilters: \\[tb#\\d+ IN".r.findAllIn(pBm).size === 2,
      s"expected two pruned reads of ONE compacted generation:\n$pBm")
    // the incremental sibling reads each of its two generations twice
    // — the 4-vs-2 scan count is the read-amplification win compaction
    // exists for
    val pBmIncr = TextAnalysis.bm25Incremental(spark, sf,
      Seq("spark", "query", "filter"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[tb#\\d+ IN".r.findAllIn(pBmIncr).size === 4)
    assert(bmC.collect().map(_.toSeq).toSeq ===
      TextAnalysis.bm25(graft.Tables.documents(spark, sf),
        Seq("spark", "query", "filter")).collect().map(_.toSeq).toSeq)
  }

  test("snapshot diff: class counts conserve against the fixture's " +
      "own membership rules") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(spark, sf)
    val byType = Profiling.snapshotDiff(d, Fixtures.crawlSnapshot(d))
      .groupBy("change_type").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n5 = d.filter(pmod(col("doc_id"), lit(5)) === 0).count()
    val n7 = d.filter(pmod(col("doc_id"), lit(5)) =!= 0 &&
      pmod(col("doc_id"), lit(7)) === 0).count()
    val n11 = d.filter(pmod(col("doc_id"), lit(11)) === 0).count()
    assert(byType("removed") === n5)
    assert(byType("changed") === n7)
    assert(byType("added") === n11)
    assert(byType.values.sum === d.count() + n11)
  }

  test("multi-probe LSH: candidate set contains annLsh's, recall never " +
      "lower, and the exact bucket is always probed") {
    val truth = Similarity.annBruteForce(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val plain = Similarity.annLsh(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = Similarity.annLshMultiprobe(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(multi.count(truth) >= plain.count(truth),
      "multiprobe recall fell below single-probe")
  }

  test("personalized pagerank: mass lives near the seeds and totals " +
      "the teleport budget under the frozen-iteration arithmetic") {
    import org.apache.spark.sql.functions._
    val ppr = Graphs.personalizedPagerank(spark, sf)
    val rows = ppr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeds must hold strictly positive rank (they receive teleport
    // every round); total mass stays within rounding slack of 1e6
    val seeds = rows.keys.filter(_ % 97 == 0)
    assert(seeds.nonEmpty && seeds.forall(rows(_) > 0))
    val total = rows.values.sum
    assert(math.abs(total - 1000000L) < 200000L,
      s"mass drifted implausibly: $total")
    // personalization: seed-average rank must exceed global average
    val seedAvg = seeds.map(rows).sum.toDouble / seeds.size
    val globalAvg = total.toDouble / rows.size
    assert(seedAvg > globalAvg, "seeds are not preferentially ranked")
  }

  test("lsh band curve: recall is monotone in probed bands; the full " +
      "depth matches annLsh's own recall") {
    val rows = Similarity.lshBandCurve(spark, sf)
      .orderBy("n_bands").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    val hits = rows.map(_.getLong(1)).toSeq
    // each +1 probed band can only ADD candidate buckets
    assert(hits === hits.sorted, s"recall not monotone: $hits")
    // depth 4 == the production annLsh: same candidates, same recall
    val truth = Similarity.annBruteForce(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val full = Similarity.annLsh(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).count(truth)
    assert(hits.last === full.toLong)
  }

  test("hard negatives: every row is cross-label, ranks are dense per " +
      "anchor, and no unlisted cross-label vector beats a listed one") {
    val got = Similarity.hardNegatives(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("q_label"),
        r.getAs[Long]("rnk"), r.getAs[Long]("neg_id"),
        r.getAs[Int]("neg_label"), r.getAs[Double]("cos_sim")))
    assert(got.nonEmpty)
    assert(got.forall { case (_, ql, _, _, nl, _) => ql != nl })
    val byAnchor = got.groupBy(_._1)
    byAnchor.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length))
      // listed negatives are in descending-sim order
      val sims = rows.sortBy(_._3).map(_._6)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // exhaustive floor check against raw vectors: the 5th-ranked sim
    // per anchor is >= the sim of every unlisted cross-label vector
    val all = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getAs[Int]("label")))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    byAnchor.foreach { case (qid, rows) =>
      val (_, qemb, qlab) = all.find(_._1 == qid).get
      val listed = rows.map(_._4).toSet
      val floor = rows.map(_._6).min
      val bestUnlisted = all
        .filter(v => v._3 != qlab && !listed(v._1))
        .map(v => cos(qemb, v._2))
      assert(bestUnlisted.isEmpty || bestUnlisted.max <= floor,
        s"anchor $qid: an unlisted cross-label vector beats rank-5")
    }
  }
}
