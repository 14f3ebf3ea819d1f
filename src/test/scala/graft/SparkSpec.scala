package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM), built by the
  * same factory every `main` uses. */
object SparkSpec {

  /** A fresh temp directory, deleted with its contents when the JVM
    * exits. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    operators.Staging.reapOnExit(dir)
    dir
  }

  lazy val spark: SparkSession = {
    // keep saveAsTable (BucketingSpec) out of the repo working dir; a
    // static conf, so it goes in before the context is built
    System.setProperty("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
    val s = Graft.session("local[4]", 4)
    // HDFS-backed store: no RocksDB maintenance threads / snapshot-lag
    // warnings in short-lived test queries
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A new session on the shared context carrying only `extensions`:
    * graft-free by default, for plain Spark's plans and for checking
    * what graft code leaves behind in a session. Every session built
    * on a context reads the context's `spark.sql.extensions`, so the
    * factory's entry is lifted while this one is built. The shared
    * session stays the active and default one. */
  def isolated(extensions: SparkSessionExtensions => Unit = _ => ())
      : SparkSession = {
    val base = spark // materialize the shared session/context first
    val conf = org.apache.spark.LiveConf(base.sparkContext)
    val key = "spark.sql.extensions"
    val factoryExtensions = conf.get(key)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    conf.remove(key)
    try SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(extensions)
      .getOrCreate()
    finally {
      conf.set(key, factoryExtensions)
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** md5-60 restated independently of the Catalyst expression
    * (MessageDigest + hex), the one driver-side oracle every
    * hash-pipeline replay spec shares. */
  def md5_60(k: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
}
