package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so per-pass listener counters are complete when a pass is read out.
  * The bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
