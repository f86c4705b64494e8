package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, stage and task events asynchronously;
  * the traced run waits for it to empty before it reads the counts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
