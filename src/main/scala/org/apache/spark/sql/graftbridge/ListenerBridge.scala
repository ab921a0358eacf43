package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The listener bus's flush, which Spark keeps `private[spark]`. A listener
  * sees a query's job and stage events only once the bus has delivered
  * them; [[graft.Profile]] waits here before it reads a run's events.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
