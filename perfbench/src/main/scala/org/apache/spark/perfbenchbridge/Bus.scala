package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`. The traced
  * run drains the bus after each operation, so late events (block
  * updates carry no job) are charged to the operation that caused them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
