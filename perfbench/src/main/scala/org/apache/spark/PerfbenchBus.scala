package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The
  * recorder calls it after each traced operation (outside the timed
  * interval), so every job, task, execution and progress event lands on
  * the span of the operation that caused it. `listenerBus` is
  * `private[spark]`, hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
