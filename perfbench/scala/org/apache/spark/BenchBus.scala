package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so span
  * metrics read after an action include all of its jobs and tasks. Lives in
  * this package because the bus is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
