package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced pass is read only after its last job and stage have been
  * recorded. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
