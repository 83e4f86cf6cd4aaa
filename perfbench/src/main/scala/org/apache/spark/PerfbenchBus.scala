package org.apache.spark

/** Access to the driver's listener bus, which is `private[spark]`: the
  * benchmark drains it before reading its listener's counters, so every
  * job, stage and task event of a finished pass has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
