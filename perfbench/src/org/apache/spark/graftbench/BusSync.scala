package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus barrier: every event posted so far has been delivered once
  * this returns. The bus is only reachable from inside the `spark` package. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
