/** Lives under org.apache.spark to reach the private[spark] listener bus:
  * the traced run flushes pending listener events after each call so
  * every event is booked to the call that caused it.
  */
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
