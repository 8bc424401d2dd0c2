package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the context's private[spark] listener bus. */
object ListenerBridge {
  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty`: it counts posted against delivered
    * events per queue, so it returns exactly when the backlog is gone, and
    * throws a TimeoutException after 10 s).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
