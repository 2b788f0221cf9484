package org.apache.spark

/** Listener events are delivered asynchronously; the traced run reads its
  * job and stage records only after the bus has drained. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
