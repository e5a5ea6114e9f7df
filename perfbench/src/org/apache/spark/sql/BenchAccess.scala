package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The Spark internals the benchmark needs; they are private to Spark's
  * packages, hence this accessor in one of them. */
object BenchAccess {
  /** Waits until the listener bus has delivered every posted event, so
    * the benchmark's counts are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unloads the state-store providers that stopped streams leave loaded
    * until the next maintenance round. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()
}
