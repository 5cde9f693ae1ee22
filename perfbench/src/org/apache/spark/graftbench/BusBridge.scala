package org.apache.spark.graftbench

/** The listener bus is private[spark]; the traced run drains it after each
  * operation so every task-end event lands in that operation's counters. */
object BusBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
