package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize an N× scale-up of a testdata directory as N
  * DISJOINT shards of the source corpus. Replica i offsets every key
  * column by i·U where U is ONE offset unit per KEY DOMAIN (custkey,
  * orderkey, …) shared by every table referencing that domain — so
  * foreign keys stay aligned within a shard and equi-joins scale
  * linearly. Each U is rounded up to a multiple of lcm(1..16) =
  * 720720, so `key % m` residues (m ≤ 16) are replica-invariant and
  * modular joins/bucketings keep their per-shard semantics too.
  * Replica documents get an ALPHABETIC per-replica token suffix
  * ("zqb", "zqc", …) so shingle/term space is disjoint across shards
  * while alpha-token filters (`^[a-z]+$`) still accept the salted
  * tokens; the vec_id = 0 query vector is NOT replicated into the
  * corpus (replicas drop it before offsetting), so ANN work scales
  * without seeding the corpus with exact clones of the query.
  *
  * Net: per-shard join/dup/candidate structure is preserved exactly
  * and candidate pairs, cluster sizes and posting lists scale
  * LINEARLY with the factor — the property a soak needs to expose
  * super-linear operators (a quadratic stage shows as a ≫N× time
  * ratio, never hidden by changed data shape). Deliberately NOT
  * synthetic data generation: every row is a key-shifted copy of a
  * driver-generated testdata row (TESTDATA.md fixtures stay the
  * single source of record structure).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <destDir> <factor>   (≤ 26)
  */
object ScaleUp {

  /** lcm(1..16): offsets that are multiples of this preserve every
    * `key % m` residue for m ≤ 16 across replicas. */
  private val ModLcm = 720720L

  /** Union `factor` copies of `df`; `pre` (per-replica transform —
    * salting, query-row drop) runs BEFORE the key offsets. */
  private def shard(df: DataFrame, offs: Map[String, Long], factor: Int,
                    pre: (DataFrame, Int) => DataFrame = (d, _) => d)
  : DataFrame =
    (0 until factor).map { i =>
      offs.foldLeft(pre(df, i)) { case (d, (k, u)) =>
        d.withColumn(k, (col(k) + lit(i * u)).cast("long"))
      }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor <= 26, "alphabetic replica salt supports factor <= 26")
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(dest).mkdirs()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")
    def maxOf(t: String, c: String): Long =
      read(t).agg(max(col(c)).cast("long")).head().getLong(0)
    // ONE offset unit per key domain, spanning every referencing
    // column's range, rounded to the modular-safe multiple
    def unit(maxes: Long*): Long = (maxes.max / ModLcm + 1) * ModLcm
    val custU = unit(maxOf("customer", "c_custkey"),
      maxOf("orders", "o_custkey"))
    val suppU = unit(maxOf("supplier", "s_suppkey"),
      maxOf("lineitem", "l_suppkey"))
    val partU = unit(maxOf("part", "p_partkey"),
      maxOf("lineitem", "l_partkey"))
    val ordU = unit(maxOf("orders", "o_orderkey"),
      maxOf("lineitem", "l_orderkey"))

    // dims: structure shared by every shard — copy once
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)
    write(shard(read("customer"), Map("c_custkey" -> custU), factor),
      "customer", 4)
    write(shard(read("supplier"), Map("s_suppkey" -> suppU), factor),
      "supplier", 2)
    write(shard(read("part"), Map("p_partkey" -> partU), factor),
      "part", 4)
    write(shard(read("orders"),
      Map("o_orderkey" -> ordU, "o_custkey" -> custU), factor),
      "orders", 8)
    write(shard(read("lineitem"),
      Map("l_orderkey" -> ordU, "l_partkey" -> partU,
        "l_suppkey" -> suppU), factor), "lineitem", 16)
    write(shard(read("events"),
      Map("event_id" -> unit(maxOf("events", "event_id")),
        "user_id" -> unit(maxOf("events", "user_id"))), factor),
      "events", 16)
    // replica > 0 suffixes every token with a pure-ALPHA tag: terms
    // stay disjoint across shards AND still pass ^[a-z]+$ filters
    write(shard(read("documents"),
      Map("doc_id" -> unit(maxOf("documents", "doc_id"))), factor,
      pre = (d, i) => if (i == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1zq" + ('a' + i).toChar))),
      "documents", 16)
    // replicas DROP the vec_id = 0 query row before offsetting: the
    // corpus grows without gaining exact clones of the query vector
    write(shard(read("embeddings"),
      Map("vec_id" -> unit(maxOf("embeddings", "vec_id"))), factor,
      pre = (d, i) => if (i == 0) d else d.filter(col("vec_id") =!= 0)),
      "embeddings", 8)
    println(s"scaled $src -> $dest x$factor")
    spark.stop()
  }
}
