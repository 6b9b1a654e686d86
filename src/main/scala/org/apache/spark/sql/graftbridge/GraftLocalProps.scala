package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/**
 * The calling thread's Spark job properties (job group, job tags,
 * description, scheduler pool, SQL execution) carried onto a pool
 * thread. `SparkContext.getLocalProperties` is private[spark], and a
 * pooled thread otherwise keeps whatever properties the thread that
 * created it held — so its jobs would escape the caller's job group
 * (a cancelled stream or job group would not cancel them) and land in
 * a stale one.
 */
object GraftLocalProps {
  /** The active context and a snapshot of the calling thread's
   *  properties; None without an active context.
   */
  def capture(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc => (sc, Utils.cloneProperties(sc.getLocalProperties)))

  /** `body` on this thread under a private copy of the captured
   *  properties (a job mutates its thread's properties, so concurrent
   *  thunks must not share one object); the thread's own are restored
   *  after.
   */
  def runWith[T](captured: Option[(SparkContext, Properties)])(body: => T): T =
    captured match {
      case None => body
      case Some((sc, props)) =>
        val saved = sc.getLocalProperties
        sc.setLocalProperties(Utils.cloneProperties(props))
        try body finally sc.setLocalProperties(saved)
    }
}
