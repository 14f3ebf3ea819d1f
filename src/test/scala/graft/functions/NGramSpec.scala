package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** token_ngrams / rolling_min must be bit-identical to the
  * higher-order-function forms they replaced (same join separator, same
  * whole-short fallback, same window minima) — the HOF twins here are
  * verbatim copies of the pre-native operator bodies.
  */
class NGramSpec extends SparkSpec {

  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Verbatim pre-native gram HOF (TextAnalysis.grams round-5 form). */
  private def hofGrams(tk: org.apache.spark.sql.Column, n: Int) =
    when(size(tk) >= n,
      transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", tk)))

  test("token_ngrams == transform/slice HOF, whole-short mode, n=2..4") {
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), toks(col("text")).as("tk"))
    for (n <- 2 to 4) {
      val bad = d.select(
        tokenNgrams(col("tk"), n).as("native"),
        hofGrams(col("tk"), n).as("hof"))
        .filter(not(col("native") === col("hof")))
      assert(bad.count() === 0, s"n=$n")
    }
  }

  test("token_ngrams empty-array mode matches the novelty when-guard") {
    import spark.implicits._
    val d = Seq("a b c d", "a b", "", "one").toDF("text")
      .select(toks(col("text")).as("tk"))
    val bad = d.select(
      tokenNgrams(col("tk"), 3, false).as("native"),
      when(size(col("tk")) >= 3,
        transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
        .otherwise(array().cast("array<string>")).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(bad.count() === 0)
  }

  test("token_ngrams whole-short edge cases: short doc and empty doc") {
    import spark.implicits._
    val out = Seq("a b", "").toDF("text")
      .select(tokenNgrams(toks(col("text")), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("a b")) // whole-doc fallback gram
    assert(out(1) === Seq(""))    // mirrors array(concat_ws(" ", []))
  }

  test("rolling_min == array_min(slice) HOF over hash arrays") {
    val w = 4
    val hs = Tables.documents(spark, sf)
      .select(toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= w)
      .select(transform(col("tk"),
        t => md5Base60(t)).as("hs"))
    val bad = hs.select(
      rollingMin(col("hs"), w).as("native"),
      transform(sequence(lit(0), size(col("hs")) - w),
        i => array_min(slice(col("hs"), i + 1, lit(w)))).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(bad.count() === 0)
  }

  test("token_ngrams survives whole-stage codegen (doGenCode path)") {
    val d = Tables.documents(spark, sf)
      .select(toks(col("text")).as("tk"))
      .select(explode(tokenNgrams(col("tk"), 3)).as("g"))
    val plan = d.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark whole-stage-codegen'd operators in toString;
    // the Generate over token_ngrams must carry one. Equally important:
    // no InferFiltersFromGenerate `size(…) > 0` filter appears (the
    // optimizer can't infer one for an unknown expression), so the gram
    // pass runs exactly once per row.
    assert(plan.linesIterator.exists(l =>
      l.contains("Generate explode(token_ngrams") && l.contains("*(")))
    assert(!plan.contains("Filter (size(token_ngrams"))
    assert(d.count() > 0)
  }
}
