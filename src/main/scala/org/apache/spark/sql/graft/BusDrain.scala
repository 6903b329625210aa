package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain. Listener events are delivered
  * asynchronously; an action posts its SQL execution-end and job-end
  * events before it returns, so waiting for the bus to empty after the
  * action makes every callback for that action complete. `listenerBus`
  * is private[spark], hence this file's package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
