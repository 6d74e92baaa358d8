package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that
  * the counts a listener keeps for one operation are complete before the
  * next one starts. The bus is private[spark], hence this package. */
object storebenchbus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
