package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSpec {

  test("column profile matches independently recomputed statistics") {
    val prof = Profiling.columnProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.keySet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    prof.values.foreach { r =>
      assert(r.getLong(1) == n)       // n_rows
      assert(r.getLong(2) == 0L)      // n_null: synthetic data is dense
    }
    val langRow = prof("lang")
    val langs = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(langRow.getLong(3) == langs.length)
    assert(langRow.getString(4) == langs.head)   // min_str
    assert(langRow.getString(5) == langs.last)   // max_str
    // avg_len_micros replays as round(1e6 * Σlen / n)
    val sumLen = docs.agg(sum(length(col("lang")))).head.getLong(0)
    assert(langRow.getLong(6) ==
      math.round(1e6 * sumLen.toDouble / n))
    // numeric column: min/max computed in the native type, THEN cast —
    // string min of [48..553] would start with "1", not "4"
    assert(prof("n_chars").getString(4).toLong ==
      docs.agg(min(col("n_chars"))).head.getLong(0))
  }

  test("expectations report all-pass on the clean corpus and count " +
    "violations on a corrupted one") {
    val clean = Profiling.expectations(spark, sf).collect()
    assert(clean.length == 6)
    assert(clean.forall(_.getBoolean(3)), "synthetic corpus must pass")
    // corrupt three rows through the same aggregate body: the contract
    // must fail CLOSED (null lang counts as a violation, not a skip)
    val docs = Tables.documents(spark, sf)
      .withColumn("lang",
        when(col("doc_id") === 0, lit(null).cast("string"))
          .when(col("doc_id") === 1, lit("tlh"))
          .otherwise(col("lang")))
      .withColumn("text",
        when(col("doc_id") === 2, lit("")).otherwise(col("text")))
    val dir = SparkSpec.tempDir("graft_prof_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dirty = Profiling.expectations(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(dirty("lang_in_contract") == 2)
    assert(dirty("text_non_empty") == 1)
    assert(dirty("n_chars_matches") == 1) // the emptied text's n_chars
    assert(dirty("doc_id_unique") == 0)
  }
}
