package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus. */
object ListenerBusBridge {

  /** Deliver every queued listener event before returning. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
