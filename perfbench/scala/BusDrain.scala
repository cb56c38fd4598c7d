package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * counters only after every event posted so far has been handled. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
