package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so the traced run reads
  * complete job and task records.
  */
object GraftbenchAccess {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
