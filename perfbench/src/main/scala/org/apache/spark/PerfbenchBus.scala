package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after every op so that each op's stage, task and stream-progress
  * events are counted against that op before the next one starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
