package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered. The bus is `private[spark]`, so this accessor sits in the
  * `org.apache.spark` package; the traced run calls it before attributing
  * counters, so that no job, task or progress event is still in flight. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
