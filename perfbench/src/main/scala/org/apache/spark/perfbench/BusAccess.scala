package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a recorder reads its
  * buffers only after every posted event has reached it. `listenerBus` is
  * package-private to Spark, hence this one-method bridge.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
