package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark's listener has seen each job of an operation before
  * its counts are read. The bus is private to Spark's own package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
