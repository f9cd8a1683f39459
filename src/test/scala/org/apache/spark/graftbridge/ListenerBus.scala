package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously, so a spec that counts
  * events reads its counter only after every posted event has reached the
  * listeners. The drain call is package-private to Spark, hence this
  * package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
