package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: specs that count
  * listener events must wait until every event posted so far has been
  * delivered, or a late job-start event is missed.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
