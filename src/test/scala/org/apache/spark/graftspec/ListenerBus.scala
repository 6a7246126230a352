package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener:
    * the scheduler posts a job's start event before the job runs, so once
    * an action has returned this delivers its job events — no sleep. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
