package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.Kernels._

/** The SQL deployment paths: a session built with GraftExtensions gets
  * the native functions and the TopKPerKey strategy at build;
  * `Graft.attach` adds whatever a session the caller built lacks. */
class ExtensionsSpec extends SparkSpec {

  /** A session built with GraftExtensions alone, sharing the test
    * context. */
  private lazy val ext: SparkSession = SparkSpec.isolated(new GraftExtensions)

  private def registered(s: SparkSession) = GraftFunctions.builders.map {
    case (name, _) =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name))
  }

  test("Graft.attach wires functions and strategy into an existing session") {
    val s = SparkSpec.isolated() // graft-free, so attach has work to do
    assert(registered(s).forall(_.isEmpty))
    Graft.attach(s)
    Graft.attach(s) // idempotent
    assert(registered(s).forall(_.isDefined))
    assert(s.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0) === 1.0)
    val st = s.sessionState
    assert(st.experimentalMethods.extraStrategies
      .count(_ == plans.TopKPerKeyStrategy) === 1)
    assert(st.planner.strategies.count(_ == plans.TopKPerKeyStrategy) === 1)
  }

  test("GraftExtensions injects functions and the top-k strategy at build") {
    // Graft.session attaches to the session getOrCreate returns; on an
    // extension-built session that must install nothing a second time
    val before = registered(ext)
    Graft.attach(ext)
    assert(registered(ext).zip(before).forall { case (a, b) => a.get eq b.get },
      "attach re-registered an injected function")
    assert(ext.sessionState.planner.strategies
      .count(_ == plans.TopKPerKeyStrategy) === 1)
    // the factory session every suite shares is built the same way
    assert(spark.sessionState.planner.strategies
      .count(_ == plans.TopKPerKeyStrategy) === 1)
    assert(spark.sessionState.experimentalMethods.extraStrategies.isEmpty)
    // native expression resolves in plain SQL, no attach needed
    val d = ext.sql(
      "SELECT l2_sq(array(0.0d, 2.0d), array(0.0d, 0.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d === 4.0)
    val cos = ext.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(cos === 1.0)
    // the custom Generator resolves and fans out through the
    // injected registry too (LATERAL VIEW path)
    val sh = ext.sql(
      """SELECT shingle FROM (SELECT array('a','b','c','d') AS tk)
         LATERAL VIEW shingle_gen(tk, 3) t AS shingle""")
      .collect().map(_.getString(0)).toSeq
    assert(sh === Seq("a b c", "b c d"))
    // the declarative rank-filter shape plans through the custom exec
    val df = ext.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 1)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      df.queryExecution.executedPlan.toString)
    assert(df.count() > 0)
  }

  test("every SQL function name and its typed constructor give the same column") {
    ext.sql("""SELECT * FROM VALUES
        (array(1.0d, 0.0d, 2.0d), array(0.5d, 1.0d, -1.0d),
         array('the', 'cat', 'sat', 'on', 'the', 'mat'),
         'Mail bob@example.com or http://x.org from 10.0.0.1 the cat sat',
         'unbelievable', array(5L, 3L, 9L, 1L, 7L), 3L, 40L),
        (array(0.0d, 1.0d, 0.0d), array(0.0d, 2.0d, 0.0d),
         array('a', 'b', 'c'), 'Zebra zebra ZZZ call 555-123-4567',
         'playing', array(2L, 2L), 100L, 7L),
        (array(-1.0d, 2.0d, 3.0d), array(1.0d, 1.0d, 1.0d),
         array('solo'), '', 'x', array(1L), 0L, 0L)
        AS t(a, b, tk, text, word, hs, x, y)""")
      .createOrReplaceTempView("graft_fn_in")
    val in = ext.table("graft_fn_in")
    val planes = array(array(lit(1.0), lit(0.0), lit(0.0)),
      array(lit(0.0), lit(-1.0), lit(1.0)))
    val cases: Seq[(String, String, Column)] = Seq(
      ("cosine_sim", "cosine_sim(a, b)", cosineSim(col("a"), col("b"))),
      ("l2_sq", "l2_sq(a, b)", l2Sq(col("a"), col("b"))),
      ("plane_sig",
        "plane_sig(a, array(array(1.0d, 0.0d, 0.0d), array(0.0d, -1.0d, 1.0d)))",
        planeSig(col("a"), planes)),
      ("simhash60", "simhash60(tk)", simhash60(col("tk"))),
      ("md5_base60", "md5_base60(text)", md5Base60(col("text"))),
      ("octagon_contains", "octagon_contains(x, y, 50L, 20L, 60L)",
        octagonContains(col("x"), col("y"), lit(50L), lit(20L), lit(60L))),
      ("minhash_sig16", "minhash_sig16(tk)", minhashSig16(col("tk"))),
      ("bloom_agg", "bloom_agg(x, 100L, 800L)", bloomAgg(col("x"), 100L, 800L)),
      ("bloom_might_contain",
        "bloom_might_contain((SELECT bloom_agg(x, 100L, 800L) FROM graft_fn_in), y)",
        bloomMightContain(in.select(bloomAgg(col("x"), 100L, 800L)).scalar(),
          col("y"))),
      ("mg_topk", "mg_topk(word, 8)", mgTopk(col("word"), 8)),
      ("combo3_gen", "combo3_gen(tk)", combo3Gen(col("tk"))),
      ("shingle_gen", "shingle_gen(tk, 2)", shingleGen(col("tk"), 2)),
      ("token_ngrams", "token_ngrams(tk, 4, false)",
        tokenNgrams(col("tk"), 4, wholeShort = false)),
      ("rolling_min", "rolling_min(hs, 2)", rollingMin(col("hs"), 2)),
      ("unigram_segment", "unigram_segment(word)", unigramSegment(col("word"))),
      ("wordpiece_segment", "wordpiece_segment(word)",
        wordpieceSegment(col("word"))),
      ("cdc_boundaries", "cdc_boundaries(text, 4)", cdcBoundaries(col("text"), 4)),
      ("frame_energies", "frame_energies(text, 8)", frameEnergies(col("text"), 8)),
      ("hilbert_key", "hilbert_key(x, y)", hilbertKey(col("x"), col("y"))),
      ("pii_scan", "pii_scan(text)", piiScan(col("text"))),
      ("gopher_scan", "gopher_scan(text)", gopherScan(col("text"))),
      ("letter_counts", "letter_counts(text)", letterCounts(col("text"))))
    assert(cases.map(_._1).sorted === GraftFunctions.builders.map(_._1).sorted)
    cases.foreach { case (name, sqlCall, typed) =>
      val viaSql = ext.sql(s"SELECT $sqlCall FROM graft_fn_in")
      val viaTyped = in.select(typed)
      assert(viaSql.columns.toSeq === viaTyped.columns.toSeq, name)
      assert(viaSql.collect().toSeq === viaTyped.collect().toSeq, name)
    }
  }
}
