package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously and offers no public
  * way to wait for delivery; this package-nested forwarder reaches the
  * bus's own wait so job counts are read only once they are complete. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
