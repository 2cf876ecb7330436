package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced run drains it
  * after every operation so each job, stage and task is attributed to the
  * span that submitted it before the next operation starts.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
