package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus drain, which Spark keeps package-private: a
  * measurement reads its listeners only after every posted event has
  * been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
