package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; reading a listener's
  * tallies is only exact once the bus has drained. The drain is internal to
  * Spark, hence this one-line bridge inside its package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
