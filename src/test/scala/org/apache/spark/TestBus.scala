package org.apache.spark

/** The listener bus is `private[spark]`: this drains it, so a listener
 *  has seen every event posted so far before a spec reads its counts.
 */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
