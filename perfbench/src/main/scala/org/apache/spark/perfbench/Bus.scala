package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Listener events are delivered asynchronously; the traced run waits
 *  for the bus to drain before it reads its listeners' counters.
 */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
