package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]; the benchmark needs a point
  * after which every task-end and streaming-progress event of the work it
  * just ran has been delivered to its listeners.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
