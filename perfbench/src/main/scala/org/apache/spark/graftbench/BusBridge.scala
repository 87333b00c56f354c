package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the tracer drains it
  * after each op so that op's listener events are all delivered before
  * the next op starts. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
