package org.apache.spark

/** The listener bus delivers events asynchronously; a test that counts
  * jobs with a listener must read its count only after every event has been
  * delivered. `listenerBus` is `private[spark]`, hence this file's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
