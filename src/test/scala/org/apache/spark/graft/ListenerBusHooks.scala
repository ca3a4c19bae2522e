package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; tests that count jobs or actions
  * drain the bus (a package-private member, hence this package) before
  * reading their counters. */
object ListenerBusHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
