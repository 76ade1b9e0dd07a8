package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus so a traced window can wait
  * until every event posted inside it has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
