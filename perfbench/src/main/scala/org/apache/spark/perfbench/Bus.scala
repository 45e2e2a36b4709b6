package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener, so a
    * traced operation's jobs and query executions are all recorded before
    * the next operation starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
