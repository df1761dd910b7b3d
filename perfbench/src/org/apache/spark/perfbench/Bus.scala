package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private to Spark; the traced run drains
  * it so every asynchronously posted job, stage, task and stream-progress
  * event is observed before the run's layers are summed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
