package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Round-4l operators: TPC-H Q15 face, PSI drift metric, class-balanced
  * sampling. Values are pinned by the DuckDB oracles; these tests pin
  * plans and semantic invariants.
  */
class Round4lSpec extends SparkSpec {

  test("sql15: the winner's revenue equals the global max (exact decimal)") {
    val rows = Relational.sql15TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the max independently
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("1998-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("double").as("rev"))
      .agg(max(col("rev"))).collect().head.getDouble(0)
    rows.foreach(r => assert(r.getAs[Double]("total_revenue") === expected))
  }

  test("psi: identical distributions yield 0, the statistic is symmetricish") {
    val row = Relational.stat10Psi(spark, sf).collect().head
    val psi = row.getAs[Double]("psi")
    // PSI is a sum of (pa-pb)ln(pa/pb) terms — each term nonnegative
    assert(psi >= 0.0)
    assert(row.getAs[Boolean]("major_shift") === (psi > 0.2))
    // self-drift sanity: comparing a distribution against itself is 0
    val self = Relational.stat10Psi(spark, sf, typeA = "click",
      typeB = "click").collect().head.getAs[Double]("psi")
    assert(self === 0.0)
  }

  test("shingle_gen: generator output == HOF shingle form, plan has Generate") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val docs = Tables.documents(spark, sf)
    val gen = TextAnalysis.shingleRows(docs)
    val p = gen.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"custom generator must plan a Generate:\n$p")
    // reference: the array-materializing HOF form + explode
    val hof = docs.filter(col("doc_id") < 40)
      .select(col("doc_id"),
        sexpr("filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)").as("tk"))
      .select(col("doc_id"), sexpr(
        """explode(CASE WHEN size(tk) >= 3
             THEN transform(sequence(0, size(tk) - 3),
                    i -> concat_ws(' ', slice(tk, i + 1, 3)))
             ELSE array(concat_ws(' ', tk)) END)""").as("shingle"))
    val a = gen.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = hof.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a.nonEmpty && a === b)
  }

  test("samp5: output is perfectly balanced at the min stratum size") {
    val rows = Sampling.balancedSample(spark,
      Tables.documents(spark, sf)).collect()
    val perLang = rows.groupBy(_.getString(1)).view.mapValues(_.length)
    val minStratum = Tables.documents(spark, sf)
      .groupBy(col("lang")).count()
      .agg(min(col("count"))).collect().head.getLong(0).toInt
    assert(perLang.values.toSet === Set(minStratum),
      s"every class capped at $minStratum: ${perLang.toMap}")
    // determinism: re-run selects the identical members
    val again = Sampling.balancedSample(spark,
      Tables.documents(spark, sf)).collect()
    assert(rows.map(_.getLong(0)).toSet === again.map(_.getLong(0)).toSet)
  }
}
