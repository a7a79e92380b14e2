package org.apache.spark

/** The listener bus delivers events asynchronously; a span must read its
  * counters only after every event of its jobs has been delivered.
  * `listenerBus` is `private[spark]`, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
