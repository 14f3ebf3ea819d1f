package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** Every operator that keeps its persisted intermediates in a
  * [[Staging.scratch]] scope leaves no persisted RDD behind, checked
  * on COLD builds: the fixture tables are copied to a fresh directory
  * first, so no staged artifact of an earlier run (they key on the
  * input directory and its files) can serve a call and skip the build
  * whose cleanup is under test. */
class ScratchScopeSpec extends SparkSpec {

  /** A fresh copy of the fixture tables, reaped at exit together with
    * the staged directories keyed on it. */
  private lazy val cold: String = {
    val dir = SparkSpec.tempDir("graft-scratch-cold")
    val src = java.nio.file.Path.of(sf)
    java.nio.file.Files.walk(src).forEach { p =>
      val to = java.nio.file.Path.of(dir).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
    dir
  }

  private def reapStagedOnExit(): Unit = {
    val slug = cold.replaceAll("[^A-Za-z0-9]", "_")
    Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") &&
        f.getName.contains(slug))
      .foreach(f => Staging.reapOnExit(f.getPath))
  }

  private def docs(d: String): DataFrame = Tables.documents(spark, d)

  private val scoped: Seq[(String, String => DataFrame)] = Seq(
    "Graphs.pagerank" -> (Graphs.pagerank(spark, _)),
    "Graphs.personalizedPagerank" -> (Graphs.personalizedPagerank(spark, _)),
    "Graphs.triangleCounts" -> (Graphs.triangleCounts(spark, _)),
    "Graphs.khopDistances" -> (Graphs.khopDistances(spark, _)),
    "Graphs.harmonicCloseness" -> (Graphs.harmonicCloseness(spark, _)),
    "Graphs.randomWalks" -> (Graphs.randomWalks(spark, _)),
    "Graphs.ssspWeighted" -> (Graphs.ssspWeighted(spark, _)),
    "Graphs.communities" -> (Graphs.communities(spark, _)),
    "Graphs.hits" -> (Graphs.hits(spark, _)),
    "Graphs.betweenness" -> (Graphs.betweenness(spark, _)),
    "Graphs.kcore" -> (Graphs.kcore(spark, _)),
    "Graphs.ktruss" -> (Graphs.ktruss(spark, _)),
    "Graphs.mst" -> (Graphs.mst(spark, _)),
    "Graphs.diameter" -> (Graphs.diameter(spark, _)),
    "Graphs.scc" -> (Graphs.scc(spark, _)),
    "Graphs.condense" -> (Graphs.condense(spark, _)),
    "Training.linearGd (gdLoop)" -> (Training.linearGd(spark, _)),
    "Training.bpeTrain (bpeRun)" -> (Training.bpeTrain(spark, _)),
    "TextAnalysis.textrank" -> (TextAnalysis.textrank(spark, _)),
    "Spatial.giStar" -> (Spatial.giStar(spark, _)),
    "Recommend.itemCooccur (basketStats)" ->
      (Recommend.itemCooccur(spark, _)),
    "Dedup.connectedComponents (ccWithRounds)" -> (d =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Fixtures.mutantSlice(spark, d)))),
    "Dedup.nearDupCrossIndexed" -> (d =>
      Dedup.nearDupCrossIndexed(spark, docs(d),
        Fixtures.crawlBatch(docs(d)), d)),
    "Staging.resultOnce (Dedup.nearDupCross)" -> (d =>
      Dedup.nearDupCross(spark, docs(d), Fixtures.crawlBatch(docs(d)))),
    "Retrieval.fusionOverlap" -> (Retrieval.fusionOverlap(spark, _)))

  scoped.foreach { case (name, op) =>
    test(s"$name leaves no persisted RDD behind on a cold build") {
      val sc = spark.sparkContext
      // a snapshot, not an empty set: earlier suites' RDDs stay
      // registered until the ContextCleaner collects them
      val before = sc.getPersistentRDDs.keySet
      try {
        // the count also proves the returned plan reads no scratch RDD
        op(cold).count()
        val leaked = sc.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$name leaked persisted RDDs: $leaked")
      } finally reapStagedOnExit()
    }
  }

  test("a scope whose body throws unpersists what the body persisted, " +
      "keeps what was persisted before it, and rethrows") {
    val sc = spark.sparkContext
    val outer = sc.getPersistentRDDs.keySet
    val kept = spark.range(16).toDF("id").localCheckpoint(true)
    val keptIds = sc.getPersistentRDDs.keySet -- outer
    assert(keptIds.nonEmpty)
    val before = sc.getPersistentRDDs.keySet
    val boom = new IllegalStateException("boom")
    var inside = Set.empty[Int]
    val thrown = intercept[IllegalStateException] {
      Staging.scratch(spark) {
        spark.range(64).toDF("id").localCheckpoint(true).count()
        inside = sc.getPersistentRDDs.keySet.toSet -- before
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(inside.nonEmpty, "the body persisted nothing to release")
    val after = sc.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, s"scope left ${after -- before}")
    assert(keptIds.subsetOf(after), "the scope released an outer RDD")
    assert(kept.count() === 16)
    keptIds.foreach(id => sc.getPersistentRDDs(id).unpersist())
  }
}
