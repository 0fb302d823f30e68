package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Listener callbacks run on the bus thread after the action returns, so
  * a per-request counter delta is only complete after this. Lives in the
  * org.apache.spark package because the bus is `private[spark]`.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
