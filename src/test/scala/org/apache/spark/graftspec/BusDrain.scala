package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * listener read afterwards has seen every job the last action ran.
  * Lives under `org.apache.spark` because the listener bus is
  * `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
