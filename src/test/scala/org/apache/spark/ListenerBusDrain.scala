package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's job listener has seen every job it scheduled. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
