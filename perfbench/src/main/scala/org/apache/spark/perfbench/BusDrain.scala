package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: the traced run waits for
  * every queued listener event of one operation before the next starts,
  * so each event is counted against the operation that caused it.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
