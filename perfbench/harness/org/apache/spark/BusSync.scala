package org.apache.spark

/** The listener bus delivers task-end events after the action that caused
  * them has returned; a span's counters are read only after the bus has
  * drained. `listenerBus` is private to the `org.apache.spark` package. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
