package org.apache.spark

/** Test-only view of the listeners registered on a context's bus (the
  * bus is `private[spark]`), so a spec can check that a recorder it
  * opened was removed.
  */
object ListenerProbe {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
