package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Diagnostic decomposition of the `stream_neardup` rate (r13/r14
  * verdict item: is per-arrival signature COMPARE cost the binding
  * term, or something upstream of it?). Times, on the same corpus and
  * micro-batch grain as StreamBench:
  *
  *   1. `head_batch`      — the stateless head alone as a BATCH job
  *                          (shingle → native minhash → band explode →
  *                          count): an upper bound on the projection's
  *                          sustainable rate with zero streaming
  *                          machinery.
  *   2. `cold`            — the face exactly as StreamBench measures it
  *                          today (no warmup: plan + codegen + RocksDB
  *                          provider setup inside the clock).
  *   3. `warm`            — same face, after an untimed quarter-corpus
  *                          warmup feed at the same grain (the sibling
  *                          faces' steady-state methodology).
  *   4. `warm_cap1`       — warm, with capPerBucket = 1: per-arrival
  *                          compare work is ≤1 signature comparison, so
  *                          (warm − warm_cap1) isolates the compare +
  *                          ListState-scan term at the default 4096
  *                          horizon.
  *
  * If warm ≈ warm_cap1, compare cost is NOT the binding term and
  * bucket sharding cannot move the number; the gap between warm and
  * head_batch is then micro-batch machinery (per-batch state-store
  * commit + changelog + shuffle), and the honest fix is methodology
  * (warm the face like its siblings) plus grain, not state layout.
  */
object NearDupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Graft.session()
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")

    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).cache()
    val n = docs.count()
    val payload = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val idSpan = payload.map(_._1).max + 1L
    val nChunks = 4
    val grain = math.max(1, (payload.length + nChunks - 1) / nChunks)

    def time(run: () => Unit): Double = {
      val t0 = System.nanoTime(); run()
      (System.nanoTime() - t0) / 1e9
    }

    // 1. stateless head as a batch job (count forces full evaluation);
    // three runs — first includes codegen+JIT, min is the steady rate
    val headSecs = (1 to 3).map(_ => time(() =>
      graft.operators.Dedup.bandSignatureRows(docs.toDF()).count()))
    val headSec = headSecs.min

    var faceN = 0
    def faceRate(warmRows: Seq[(Long, String)],
                 measured: Seq[(Long, String)], cap: Int): Double = {
      faceN += 1
      val mem = MemoryStream[(Long, String)]
      val q = EventStreams.nearDupStream(spark,
          mem.toDF().toDF("doc_id", "text"), capPerBucket = cap)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          s"/tmp/graft_ndprobe_ck/f$faceN")
        .format("memory").queryName(s"ndp_$faceN").start()
      def feed(p: Seq[(Long, String)]): Unit =
        p.grouped(grain).foreach { c =>
          mem.addData(c: _*); q.processAllAvailable()
        }
      try {
        if (warmRows.nonEmpty) feed(warmRows)
        val sec = time(() => feed(measured))
        measured.length / sec
      } finally {
        q.stop(); spark.catalog.dropTempView(s"ndp_$faceN")
      }
    }

    val warmQuarter = payload.take(payload.length / 4)
    val shifted = payload.map { case (id, t) => (id + idSpan, t) }
    val cold = faceRate(Nil, payload, 4096)
    val warm = faceRate(warmQuarter, shifted, 4096)
    val warmCap1 = faceRate(warmQuarter, shifted, 1)
    // levers on the per-batch commit term
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
    val warmClog = faceRate(warmQuarter, shifted, 4096)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val warmClogNd = faceRate(warmQuarter, shifted, 4096)
    // state-partition sizing: N RocksDB stores each commit per batch,
    // so the fixed term scales with the partition count, not the data
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val warmP4 = faceRate(warmQuarter, shifted, 4096)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val warmP2 = faceRate(warmQuarter, shifted, 4096)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val warmP32 = faceRate(warmQuarter, shifted, 4096)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "trackTotalNumberOfRows", "false")
    val warmNoTrack = faceRate(warmQuarter, shifted, 4096)
    println(f"""{"n_docs":$n,"head_batch_rows_per_sec":${n / headSec}%.0f,""" +
      f""""head_secs":[${headSecs.map(s => f"$s%.2f").mkString(",")}],""" +
      f""""cold_rate":$cold%.0f,"warm_rate":$warm%.0f,""" +
      f""""warm_cap1_rate":$warmCap1%.0f,""" +
      f""""warm_changelog_rate":$warmClog%.0f,""" +
      f""""warm_changelog_nodata_rate":$warmClogNd%.0f,""" +
      f""""warm_all_p4_rate":$warmP4%.0f,"warm_all_p2_rate":$warmP2%.0f,""" +
      f""""warm_all_p32_rate":$warmP32%.0f,""" +
      f""""warm_all_p8_notrack_rate":$warmNoTrack%.0f}""")
    spark.stop()
  }
}
