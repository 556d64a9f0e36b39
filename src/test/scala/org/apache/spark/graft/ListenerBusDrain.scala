package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so a
  * spec can count what a `SparkListener` saw without sleeping.
  * `listenerBus` is `private[spark]`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
