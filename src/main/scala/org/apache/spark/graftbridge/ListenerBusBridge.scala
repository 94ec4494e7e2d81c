package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark scopes
  * private[spark]. */
object ListenerBusBridge {

  /** Blocks until every event posted so far has reached every
    * listener; throws `java.util.concurrent.TimeoutException` when the
    * bus is not empty after `timeoutMillis`. */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
