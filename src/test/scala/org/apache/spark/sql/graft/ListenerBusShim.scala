package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The driver's listener bus, which Spark keeps `private[spark]`: a spec
  * that watches jobs through a `SparkListener` drains the bus before it
  * reads what the listener saw, since events are delivered asynchronously.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
