package org.apache.spark

/** The running context's own SparkConf: `SparkContext.getConf` hands
  * out a copy, and static confs such as `spark.sql.extensions` are read
  * from this one whenever a session is built on the context. */
object LiveConf {
  def apply(sc: SparkContext): SparkConf = sc.conf
}
