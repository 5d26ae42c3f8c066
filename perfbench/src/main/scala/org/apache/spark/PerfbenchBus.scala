package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run's listener records are complete before they are written.
  * The bus's drain call is package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
