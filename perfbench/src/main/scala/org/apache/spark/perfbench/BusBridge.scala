package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. Per-layer attribution
  * reads listener state right after a layer's call returns, so it must first
  * wait for every event posted so far; that wait is `private[spark]`.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
