package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the `org.apache.spark`
  * package. Listener events arrive asynchronously, so a job's last task-end
  * events can still be queued when the action that ran it returns.
  */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
