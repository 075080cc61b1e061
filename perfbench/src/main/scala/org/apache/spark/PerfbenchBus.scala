package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: the traced run
  * waits for every event of an operation to be delivered before it reads
  * the listener's counters, instead of sleeping and hoping.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
