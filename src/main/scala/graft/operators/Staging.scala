package graft.operators

/** THE staged-artifact protocol shared by every "build once per
  * corpus, read many" operator (IVF index, BM25 postings, BPE model,
  * the iterative graph results): a /tmp directory keyed by
  * (tag, params, corpus dir, source-file fingerprint) plus a `_built`
  * marker committed only after the build completes. One definition so
  * the shared caveats live in one place:
  *
  *  - the fingerprint is an MD5 digest of the SOURCE parquet's
  *    path:size:mtime — a regenerated corpus changes the digest, so a
  *    stale artifact is simply a different (ignored) directory and can
  *    never serve changed data (a real digest, not an XOR fold that
  *    could cancel across inputs);
  *  - `tag` carries the algorithm version (…_v1) — bump it when the
  *    staged computation changes so an old artifact can't serve new
  *    code;
  *  - concurrent FIRST builds in separate JVMs can race the build
  *    directory; a deployment puts a lock (or a scheduler-owned build
  *    step) in front, same as any shared index build. Within one JVM
  *    the marker check is idempotent: rebuilding identical content
  *    over a still-read directory is benign (same input ⇒ same bytes);
  *  - the RDDs a build persists as scratch (loop checkpoints,
  *    multi-consumer frames) are released by [[Staging.scratch]],
  *    which the building operator opts into — see its one
  *    concurrency condition.
  */
/** Eager lineage cut for ITERATIVE loops that also DISCARDS the origin
  * plan's statistics. `Dataset.localCheckpoint` preserves the optimized
  * plan's stats into the replacement LogicalRDD (SPARK-39834:
  * `LogicalRDD.fromDataset` → `rewriteStatsAndConstraints`), and
  * size-only stats estimate a join as the PRODUCT of its children — so
  * a loop whose round tree references the previous round's checkpoint
  * m ≥ 2 times compounds the stored sizeInBytes as
  * bits_r ≈ m·bits_{r−1}: a doubly-exponential BigInt that Catalyst's
  * stats visitor multiplies on the DRIVER at every subsequent
  * checkpoint (observed in round 9's Borůvka rewrite: million-bit
  * ToomCook multiplications pinning the driver for minutes by inner
  * round ~5). Re-wrapping the checkpointed RDD through
  * `createDataFrame` drops the preserved stats so every round starts
  * from fresh default-size leaves; the cost is a lazy
  * InternalRow→Row→InternalRow conversion on consumer reads of the
  * loop-carried (label-, frontier- or contracted-edge-sized) frames.
  * One-shot multi-consumer checkpoints can keep plain
  * `localCheckpoint(true)` — they cannot compound. */
private[operators] object Lineage {
  def cut(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.sparkSession.createDataFrame(df.localCheckpoint(true).rdd,
      df.schema)
}

private[graft] object Staging {

  /** Lowercase-hex MD5 of a string, truncated to 16 chars — the staged
    * artifact fingerprint base (a real digest: no XOR-cancellation
    * across inputs). The fingerprint string itself is still
    * metadata-only (path:size:mtime) — a file regenerated with
    * identical length within the mtime granularity collides; fold a
    * content sample in if that staleness case matters. */
  def digestHex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  def fingerprint(dir: String, table: String): String = {
    val src = new java.io.File(s"$dir/$table.parquet")
    digestHex(s"${src.getAbsolutePath}:${src.length()}:${src.lastModified()}")
  }

  /** `/tmp/graft_<tag>[_<params>]_<dir-slug>_<fingerprint>` */
  def base(tag: String, dir: String, params: String,
           srcTable: String): String = {
    val p = if (params.isEmpty) "" else s"${params}_"
    s"/tmp/graft_${tag}_$p" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fingerprint(dir, srcTable)
  }

  /** The marker file a completed build of `basePath` commits. */
  def marker(basePath: String): java.io.File =
    new java.io.File(s"$basePath/_built")

  /** Run `build` exactly once per base path (marker-committed). */
  def buildOnce(basePath: String)(build: => Unit): Unit = {
    val done = marker(basePath)
    if (!done.exists()) {
      build
      done.createNewFile()
    }
  }

  /** The scratch scope for an operator's persisted intermediates: runs
    * `body` and, whether it returns or throws, unpersists (without
    * blocking) every RDD persisted while it ran. RDDs persisted before
    * the scope are kept. What `body` returns must therefore not read a
    * scratch RDD: stage it to parquet or [[materialized]] first.
    *
    * The one condition: the scope knows its RDDs only as the ones that
    * appeared between its snapshot and its exit, not by the thread
    * that persisted them, so it must not run while other threads
    * persist RDDs they still need on the same context. That is why the
    * scope is opt-in and not part of [[buildOnce]]: a build reached
    * from overlapped arms (the retrieval fusion faces' index roots)
    * would unpersist the local checkpoints its sibling arms create at
    * the same moment. */
  def scratch[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val sc = s.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs
      .filterNot { case (id, _) => preexisting(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  private val matCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize `df` to a per-call /tmp parquet and return a read of
    * it — lets an operator whose inputs are arbitrary in-memory frames
    * close its [[scratch]] scope WITHOUT invalidating the returned plan
    * (a localCheckpoint truncates lineage, so unpersisting one that a
    * still-lazy result plan reads would lose the data). The path is
    * per-(JVM, call) unique, so concurrent calls never clobber a plan
    * another caller still reads; the bytes written are result-sized
    * (rollups/top-K), never corpus-sized. */
  def materialized(df: org.apache.spark.sql.DataFrame, tag: String)
      : org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val path = s"/tmp/graft_mat_${tag}_" +
      ProcessHandle.current().pid() + "_" + matCounter.incrementAndGet()
    // one output file: the payload is rollup-sized, so the 32-task
    // write/read round trip would cost more than the data (measured
    // +0.3-1.0s per call on sub-second faces)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    // per-call scratch, never reused across JVMs (pid+counter key):
    // reap it at JVM exit so bench/spec runs (3+ calls per in-memory
    // face) don't grow /tmp for the life of the host. Result plans
    // only live within this JVM, so exit-time deletion is safe.
    reapOnExit(path)
    s.read.parquet(path)
  }

  private lazy val reapHookInstalled: java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = q.poll()
      while (p != null) {
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          if (Files.exists(Path.of(p)))
            Files.walk(Path.of(p)).sorted(Comparator.reverseOrder())
              .forEach(f => { Files.deleteIfExists(f); () })
        } catch { case _: Throwable => () }
        p = q.poll()
      }
    }, "graft-mat-reaper"))
    q
  }

  private[graft] def reapOnExit(path: String): Unit = reapHookInstalled.add(path)

  /** [[materialized]] with cross-call reuse for PURELY FILE-BACKED
    * inputs (the ccWithRounds convention), running build and
    * materialization in one [[scratch]] scope: when every leaf of
    * every input is a file relation, the result is staged once per
    * (tag, params, input plans, source-file digest) and warm calls
    * read the parquet WITHOUT running `build` (so the expensive
    * checkpointed intermediates are never even created); any
    * in-memory leaf (specs' LocalRelations, streaming micro-batches'
    * LogicalRDDs) has no fingerprint to trust and falls back to
    * per-call materialization — always fresh, exactly the pre-staging
    * semantics. Either way the returned plan depends on no transient
    * storage. */
  def resultOnce(tag: String, params: String,
                 inputs: Seq[org.apache.spark.sql.DataFrame])
                (build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = inputs.head.sparkSession
    val leaves = inputs.flatMap(_.queryExecution.analyzed.collectLeaves())
    val fileBacked = leaves.nonEmpty && leaves.forall { l =>
      val n = l.getClass.getSimpleName
      n == "LogicalRelation" || n == "DataSourceV2Relation"
    }
    val files = inputs.flatMap(_.inputFiles).sorted
    val path =
      if (!fileBacked || files.isEmpty) None
      else {
        val fp = digestHex((files.map { f =>
          val fl = new java.io.File(new java.net.URI(f).getPath)
          s"$f:${fl.length()}:${fl.lastModified()}"
        } ++ inputs.map(i =>
          "plan:" + i.queryExecution.analyzed.semanticHash())).mkString("\n"))
        Some(s"/tmp/graft_res_${tag}_${params}_$fp")
      }
    path match {
      case Some(p) if marker(p).exists() =>
        s.read.parquet(s"$p/data")
      case _ => scratch(s) {
        val df = build
        path match {
          case Some(p) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$p/data")
            marker(p).createNewFile()
            s.read.parquet(s"$p/data")
          case None => materialized(df, tag)
        }
      }
    }
  }

  /** [[materialized]] for results BOUNDED at a driver-safe row count
    * (top-K faces): collect the rows and rebuild a local DataFrame —
    * no filesystem round trip at all. Fails loudly if the bound was a
    * lie rather than silently collecting a corpus. */
  def materializedLocal(df: org.apache.spark.sql.DataFrame, maxRows: Int)
      : org.apache.spark.sql.DataFrame = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"materializedLocal: result exceeded the declared $maxRows-row bound")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
