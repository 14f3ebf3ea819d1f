package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def mutants = Fixtures.mutantDocs(spark, sf)

  test("minhash LSH recovers the injected mutant near-dup pairs") {
    val pairs = Dedup.minhashLsh(spark, mutants).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    // every mutant pair (d, d+1e6) has shingle-jaccard near 1 and must be found
    val mutantPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(mutantPairs.length >= 45, s"found ${mutantPairs.length} of 50")
    assert(mutantPairs.forall(_._3 >= 0.5))
    // and no random word-salad pair sneaks past the jaccard verification
    assert(pairs.forall { case (a, b, j) => b == a + 1000000L || j >= 0.5 })
  }

  test("canonical pick keeps the longest member of every dup cluster") {
    val slice = Fixtures.mutantSlice(spark, sf)
    val got = Dedup.canonicalPick(slice, Dedup.ngramJaccardPairs(slice))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay: union-find over the collected pair list
    // (plain Scala — no Spark machinery shared with the operator),
    // then argmax by (length desc, doc_id asc) per component
    val lens = slice.select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val edges = Dedup.ngramJaccardPairs(slice).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .groupBy(find)
    val expect = members.map { case (root, ms) =>
      val keep = ms.minBy(id => (-lens(id), id))
      (root, keep, lens(keep), ms.length.toLong)
    }.toSet
    assert(got.toSet == expect)
    assert(got.nonEmpty)
    // mutants are strict prefixes-with-a-token-dropped: a mutant id
    // must never be the keeper of a cluster that contains its original
    assert(got.forall { case (_, keep, _, _) =>
      keep < 1000000L || !members(find(keep)).contains(keep - 1000000L)
    })
  }

  test("fuzzy q-gram join recovers every typo mutant at its true distance") {
    val pairs = Dedup.fuzzyPairs(Fixtures.typoSlice(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every substitution mutant (base+1e6) and deletion mutant (base+2e6)
    // must pair with its base at distance <= 1
    val subs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    val dels = pairs.filter { case (a, b, _) => b == a + 2000000L }
    assert(subs.length === 40, s"substitution pairs: ${subs.length}")
    assert(dels.length === 40, s"deletion pairs: ${dels.length}")
    assert((subs ++ dels).forall(_._3 <= 1))
    // exactness: recompute ed on every emitted pair via the builtin
    val strs = Fixtures.typoSlice(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ed(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    pairs.foreach { case (a, b, dist) =>
      assert(ed(strs(a), strs(b)) === dist, s"pair ($a,$b)") }
  }

  test("no cached RDDs outlive the storage-hygiene operators") {
    // a long-lived user session must not accumulate executor storage:
    // minhashLsh and connectedComponents stage intermediates to disk
    // (not .cache/localCheckpoint), kmeansLloyd unpersists in a finally
    spark.catalog.clearCache()
    // snapshot first: earlier suites' localCheckpoint RDDs linger in
    // getPersistentRDDs until the ContextCleaner GCs them — only RDDs
    // persisted BY the operators under test count as leaks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLsh(spark, mutants).count()
    Similarity.kmeansLloyd(spark, sf, k = 4, iters = 2).count()
    import spark.implicits._
    Dedup.connectedComponents((0L until 64L).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")).count()
    val live = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) }
    assert(live.isEmpty, s"leaked cached RDDs: ${live.values.map(_.name)}")
  }

  test("connected components: adversarial path graph converges in O(log n) rounds") {
    import spark.implicits._
    // a 1024-node chain is the worst case for min-label propagation
    // (O(diameter) = 1023 rounds); large-star/small-star must close it
    // within log2(n) + 2 alternations
    val n = 1024
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.ccWithRounds(pairs)
    val rows = labels.collect()
    assert(rows.length === n)
    assert(rows.forall(_.getAs[Long]("component") === 0L),
      "every chain node must label to the component minimum")
    assert(rows.count(_.getAs[Long]("is_canonical") === 1L) === 1)
    assert(rounds <= (math.log(n) / math.log(2)).toInt + 2,
      s"took $rounds rounds for a $n-node path")
    // star components (the common near-dup shape) still close ~instantly
    val stars = (0L until 50L).flatMap(c =>
      (1L to 3L).map(i => (c * 100, c * 100 + i))).toDF("doc_a", "doc_b")
    val (starLabels, starRounds) = Dedup.ccWithRounds(stars)
    assert(starLabels.filter(col("component") % 100 =!= 0).count() === 0)
    assert(starRounds <= 2, s"star graphs took $starRounds rounds")
  }

  test("simhash pairs find mutants within hamming radius") {
    val pairs = Dedup.simhashPairs(spark, mutants).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    val mutantPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(mutantPairs.length >= 40, s"found ${mutantPairs.length} of 50")
  }

  test("simhash is deterministic across runs") {
    val a = Dedup.simhash(mutants).orderBy("doc_id").limit(5).collect()
    val b = Dedup.simhash(mutants).orderBy("doc_id").limit(5).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("exact dedup groups are singletons on the unique corpus") {
    val d = Dedup.exact(Tables.documents(spark, sf))
    assert(d.agg(max(col("n_copies"))).collect().head.getLong(0) === 1)
  }

  test("ANN IVF probes cells and scores consistently with brute force") {
    val ivf = Similarity.annIvf(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    assert(ivf.size === 10)
    val bruteScores = Similarity.annBruteForce(spark, sf, k = 1000).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    ivf.foreach { case (id, s) => assert(bruteScores(id) === s, s"id $id") }
  }

  test("ANN LSH multi-probe returns a full top-k with brute-force scores") {
    val lsh = Similarity.annLsh(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    // banded multi-probe must never return an empty (or short) top-k —
    // the round-1 single-bucket failure mode
    assert(lsh.size === 10, s"expected k=10 results, got ${lsh.size}")
    // scores agree with the exact path for every returned id
    val bruteScores = Similarity.annBruteForce(spark, sf, k = 100000).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    lsh.foreach { case (id, s) => assert(bruteScores(id) === s) }
  }
}
