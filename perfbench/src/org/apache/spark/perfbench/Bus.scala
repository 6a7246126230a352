package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached every listener.
    * The scheduler posts a job's end event before it wakes the thread
    * waiting on that job, so once a phase's actions have returned, this
    * call delivers all of the phase's job, stage and task events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
