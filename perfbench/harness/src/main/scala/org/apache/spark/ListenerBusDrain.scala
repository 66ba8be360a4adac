package org.apache.spark

/** The listener bus delivers events asynchronously; a traced round waits
  * for it to drain before it detaches, so no event of the round is lost.
  * (`listenerBus` is package-private to Spark.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
