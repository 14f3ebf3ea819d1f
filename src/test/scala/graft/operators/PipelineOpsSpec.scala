package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-3 training-data pipeline operators: dedup clustering, PII
  * redaction, quality filtering, stratified sampling, k-means. */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  test("connectedComponents labels chains, stars and singleton pairs") {
    // components: {1,2,3,4} (chain), {10,11,12} (star at 10), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L), (4L, 1L, 0L),
      (10L, 10L, 1L), (11L, 10L, 0L), (12L, 10L, 0L),
      (20L, 20L, 1L), (21L, 20L, 0L)))
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    val n = 12
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
    assert(got.length === n)
    assert(got.forall(_.getLong(1) === 1L), "all labels must reach the min id")
    assert(got.count(_.getLong(2) === 1L) === 1, "exactly one canonical")
  }

  test("mutant corpus clusters: every mutant joins its original's component") {
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(Fixtures.mutantSlice(spark, sf))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each (d, d+1e6) mutant pair is an edge, so both sides share a label
    clusters.keys.filter(_ >= 1000000L).foreach { m =>
      assert(clusters(m) === clusters(m - 1000000L), s"mutant $m")
    }
  }

  test("piiRedact counts and scrubs every injected PII kind") {
    val doc = Seq((7L, "hello world")).toDF("doc_id", "text")
    val row = TextAnalysis.piiRedact(Fixtures.withPii(doc)).collect().head
    assert(row.getAs[Long]("n_emails") === 1L)
    assert(row.getAs[Long]("n_urls") === 1L)
    assert(row.getAs[Long]("n_ips") === 1L)
    assert(row.getAs[Long]("n_phones") === 1L)
    // the digest equals md5 of the fully-scrubbed text
    val expected = "hello world contact <EMAIL> via <URL> or call <PHONE> from <IP>"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(row.getAs[String]("redacted_hash") === md)
  }

  test("piiRedact leaves clean text untouched") {
    val doc = Seq((1L, "no personal data here at all")).toDF("doc_id", "text")
    val row = TextAnalysis.piiRedact(doc).collect().head
    assert(Seq("n_emails", "n_urls", "n_ips", "n_phones")
      .forall(c => row.getAs[Long](c) === 0L))
  }

  test("gopherFilter applies each rule independently") {
    val docs = Seq(
      // too short (fails len), has stopwords
      (1L, "the cat sat on a mat of the in to the"),
      // 60 words, mean len in range, stopwords present => keep
      (2L, (Seq.fill(28)("the word") :+ "a to of in").mkString(" ")),
      // 60 words but no stopwords => fails pass_stop only
      (3L, Seq.fill(60)("zork").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pass_len"), r.getAs[Long]("pass_stop"),
          r.getAs[Long]("keep"))).toMap
    assert(got(1L)._1 === 0L)
    assert(got(1L)._3 === 0L)
    assert(got(2L) === ((1L, 1L, 1L)))
    assert(got(3L)._1 === 1L)
    assert(got(3L)._2 === 0L)
    assert(got(3L)._3 === 0L)
  }

  test("stratified sample rates approximate the per-stratum targets") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val rates = Map("en" -> 60, "de" -> 30, "zh" -> 10)
    val sampled = Sampling.stratifiedByLang(docs, rates, 20)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val target = rates.getOrElse(lang, 20) / 100.0
      val got = sampled.getOrElse(lang, 0L).toDouble / n
      // md5 buckets are uniform; at ~100 docs/stratum allow wide slack
      assert(math.abs(got - target) < 0.2, s"$lang: got $got want ~$target")
    }
  }

  test("stratified sampling is deterministic across runs") {
    val docs = Tables.documents(spark, sf)
    val a = Sampling.stratifiedByLang(docs, Map("en" -> 50), 20)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val b = Sampling.stratifiedByLang(docs, Map("en" -> 50), 20)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("nearDupLsh candidates are a subset of exact pairs, scores exact") {
    val lsh = Similarity.nearDupLsh(spark, sf, threshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty, "banded candidate gen found nothing at 0.2")
    // exact all-pairs reference over the same corpus
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val exact = e.toDF("vec_a", "emb_a")
      .join(e.toDF("vec_b", "emb_b"), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 6).as("c"))
      .filter(col("c") >= 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score), s"pair $pair")
    }
  }

  test("annRecall grades every method against an independent exact top-10") {
    val got = Similarity.annRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // independent truth: exact cosine top-10 via a driver-side replay
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = e(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = e.toList.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(v, q)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    // each reported hits count is the true overlap of that method's list
    val methods = Map(
      "ivf" -> Similarity.annIvf(spark, sf),
      "lsh" -> Similarity.annLsh(spark, sf),
      "pq" -> Similarity.annPq(spark, sf),
      "sq" -> Similarity.annScalarQuant(spark, sf))
    for ((m, df) <- methods) {
      val ids = df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val overlap = ids.intersect(truth).size.toLong
      assert(got.get(m).map(_._1).contains(overlap), s"$m hits")
      if (overlap > 0)
        assert(got(m)._2 == overlap / 10.0, s"$m recall")
    }
    // the harness would catch a collapsed method: sq shortlists 50 of
    // everything by int8 dot product — it must be near-perfect here
    assert(got("sq")._1 >= 8L)
  }

  test("tokenBudget: greedy per-source prefix, never over budget") {
    val got = TextAnalysis.tokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("\\s+").count(_.nonEmpty).toLong))
    val total = docs.map(_._3).sum
    val budget = total * 2 / 5 / docs.map(_._2).distinct.length
    assert(got.forall(_._5 == budget))
    // kept set per source = the longest-first greedy prefix
    val expect = docs.groupBy(_._2).toList.flatMap { case (src, ds) =>
      var cum = 0L
      ds.toList.sortBy(d => (-d._3, d._1)).flatMap { case (id, _, n) =>
        cum += n
        if (cum <= budget) Some((id, src, n, cum, budget)) else None
      }
    }.toSet
    assert(got.toSet == expect)
    assert(got.nonEmpty)
    // every source spent most of its budget (greedy can't leave more
    // than the largest remaining doc unspent)
    val maxDoc = docs.map(_._3).max
    for ((src, rows) <- got.groupBy(_._2))
      assert(rows.map(_._3).sum >= budget - maxDoc, src)
  }

  test("interleaveOrder: unique positions, sources alternate, no global sort") {
    val got = TextAnalysis.interleaveOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = got.length
    assert(n > 0)
    // positions are unique (an injection — sortable into a total order)
    assert(got.map(_._3).distinct.length === n)
    // within a source: positions strictly increase with doc_id and are
    // congruent to the source's index mod n_src
    val nSrc = got.map(_._2).distinct.length.toLong
    val srcIdx = got.map(_._2).distinct.sorted.zipWithIndex.toMap
    for ((src, rows) <- got.groupBy(_._2)) {
      val sorted = rows.sortBy(_._1)
      assert(sorted.map(_._3).toList ==
        sorted.indices.map(i => i * nSrc + srcIdx(src)).toList, src)
    }
    // the global order round-robins: the first nSrc positions in rank
    // order are nSrc DISTINCT sources
    val firstCycle = got.sortBy(_._3).take(nSrc.toInt).map(_._2)
    assert(firstCycle.distinct.length === nSrc.toInt)
    // no single-partition exchange of the corpus in the plan (the
    // 20-row source-index window is the only Exchange SinglePartition
    // input, and it sits under a BroadcastExchange)
    val p = TextAnalysis.interleaveOrder(spark, sf)
      .queryExecution.executedPlan.toString
    val mainPath = p.substring(0, p.indexOf("BroadcastExchange"))
    assert(!mainPath.contains("Exchange SinglePartition"),
      s"corpus funneled to one partition:\n$p")
  }

  test("exactKSample: exactly k, hash-ordered, plans as TakeOrdered, growth-stable") {
    val docs = Tables.documents(spark, sf)
    val got = Sampling.exactKSample(docs, 100).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.length === 100)
    // matches an independent driver-side recompute of the k smallest
    val all = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, md5_60(id.toString)))
    val expect = all.sortBy { case (id, h) => (h, id) }.take(100)
    assert(got.toList == expect.toList)
    // incremental stability: on the half-corpus, the sample is exactly
    // the k smallest of the remaining hashes — survivors never reshuffle
    val half = docs.filter(col("doc_id") % 2 === 0)
    val gotHalf = Sampling.exactKSample(half, 100).collect()
      .map(r => r.getLong(0)).toSet
    val expHalf = all.filter(_._1 % 2 == 0)
      .sortBy { case (id, h) => (h, id) }.take(100).map(_._1).toSet
    assert(gotHalf == expHalf)
    // per-partition heaps, not a global sort
    val p = Sampling.exactKSample(docs, 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("contamination: exact eval copies score 1.0, disjoint docs 0.0") {
    val got = TextAnalysis.contamination(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("contamination"), r.getAs[Long]("flagged"))).toMap
    assert(got.nonEmpty)
    // scores are valid fractions and the flag matches the threshold
    got.values.foreach { case (c, f) =>
      assert(c >= 0.0 && c <= 1.0)
      assert(f === (if (c >= 0.05) 1L else 0L))
    }
    // eval docs themselves are excluded from the scored corpus
    assert(got.keys.forall(_ >= 10L))
  }

  test("contamination: broadcast-join fallback (oversized eval set) is row-identical to the literal path") {
    // Force the fallback with a cutoff of 0: every doc scores the same
    // under either plan — the guard changes the plan, never the result.
    val lit = TextAnalysis.contamination(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_ngrams"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("contamination"),
        r.getAs[Long]("flagged"))).sortBy(_._1)
    val join = TextAnalysis.contamination(spark, sf, maxLiteralNgrams = 0)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_ngrams"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("contamination"),
        r.getAs[Long]("flagged"))).sortBy(_._1)
    assert(lit.nonEmpty)
    assert(join.toSeq === lit.toSeq)
  }

  test("clusterSplit: normalized duplicates never straddle a split boundary") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    // append exact copies of 5 docs under new ids: every copy must land
    // in the SAME split as its original (the leakage guarantee)
    val copies = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val split = Sampling.clusterSplit(docs.unionByName(copies))
    val perGroup = split.groupBy("canonical_id")
      .agg(countDistinct("split").as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(perGroup === 0L)
    // the copies resolve to their originals' canonical ids
    val copyRows = split.filter(col("doc_id") >= 100000L).collect()
    assert(copyRows.length === 5)
    copyRows.foreach(r =>
      assert(r.getAs[Long]("canonical_id") === r.getAs[Long]("doc_id") - 100000L))
    // all three splits are populated at fixture scale
    assert(split.select("split").distinct().count() === 3L)
  }

  test("robustScale: fences bound the quartiles and outliers are a minority") {
    val rows = Training.robustScale(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (q1, med, q3) = (r.getAs[Double]("q1_micros"),
        r.getAs[Double]("med_micros"), r.getAs[Double]("q3_micros"))
      assert(q1 <= med && med <= q3, s"dim ${r.getAs[Long]("dim")}")
      assert(r.getAs[Double]("iqr_micros") === q3 - q1)
      // 1.5-IQR fences flag at most a small tail on any real distribution
      assert(r.getAs[Long]("n_outliers") <= 50, s"dim ${r.getAs[Long]("dim")}")
    }
  }

  test("topNPerStratum takes exactly min(n, stratum size) per stratum") {
    val docs = Tables.documents(spark, sf)
    val sizes = Sampling.topNPerStratum(docs, 7)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      assert(sizes(lang) === math.min(7L, n), s"stratum $lang")
    }
  }

  test("kmeans cost is non-increasing with more Lloyd iterations") {
    def weightedCost(iters: Int): Double = {
      val rows = Similarity.kmeansLloyd(spark, sf, k = 4, iters = iters)
        .collect()
      val n = rows.map(_.getAs[Long]("n_members")).sum
      rows.map(r => r.getAs[Long]("n_members") *
        r.getAs[Double]("mean_cost")).sum / n
    }
    val c1 = weightedCost(1)
    val c3 = weightedCost(3)
    // Lloyd's algorithm never increases the quantization objective
    // (6dp model rounding can add ~1e-6 noise; allow that slack)
    assert(c3 <= c1 + 1e-5, s"cost went up: $c1 -> $c3")
  }

  test("kmeans covers the corpus and produces a real partition") {
    val rows = Similarity.kmeansLloyd(spark, sf, k = 4, iters = 2).collect()
    val total = rows.map(_.getAs[Long]("n_members")).sum
    val corpus = Tables.embeddings(spark, sf).count()
    assert(total === corpus, "every vector assigned exactly once")
    assert(rows.length >= 2, "more than one surviving cluster")
  }
}
