package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run drains it at each
  * phase boundary so every SparkListener, QueryExecutionListener and
  * StreamingQueryListener event of a phase is delivered before the next
  * phase starts counting.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
