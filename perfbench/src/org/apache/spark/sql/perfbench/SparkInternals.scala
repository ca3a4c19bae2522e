package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two package-private Spark members the benchmark reads, reached from
  * a package inside `org.apache.spark.sql`. */
object SparkInternals {

  /** Listener events arrive asynchronously; the tracer reads its per-call
    * job, stage and task figures only after the bus has delivered every
    * event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Entries in the session's CacheManager (persisted Datasets). */
  def cacheEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
