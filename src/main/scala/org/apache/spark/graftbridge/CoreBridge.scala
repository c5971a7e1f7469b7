package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Core-side companion of `sql.graftbridge.Bridge`: the one
  * `private[spark]` accessor the measurement tools need — draining the
  * async listener bus so per-query metric accumulation (tools/JobAudit)
  * reads a complete picture before detaching its listener.
  */
object CoreBridge {
  def waitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
