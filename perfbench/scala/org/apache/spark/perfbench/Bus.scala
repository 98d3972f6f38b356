package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark's listener has seen each job and stage it attributes.
  * The bus is package-private to Spark, hence this bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
