package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one body ran: how many, and their summed wall seconds
  * (each job's start to end, as the scheduler stamps them). The gap
  * between `seconds` and the body's wall time is driver-side work:
  * analysis, planning, codegen, broadcast builds. */
final case class Jobs(count: Int, seconds: Double)

object Jobs {
  /** Counts that could not be taken: a failed run, or a listener bus
    * that did not drain in time. */
  val Unknown: Jobs = Jobs(-1, -1.0)
}

/** Counts the Spark jobs a body runs, exactly and without sleeping.
  *
  * The body runs under a job group of its own, so a job counts when its
  * start event carries that group: jobs the body submits on its thread,
  * and jobs on threads that inherit its local properties (broadcast
  * builds, subqueries, threads it starts). A job another thread starts
  * outside the group is not counted. The caller's previous group is
  * restored when the body returns or throws.
  *
  * After the body returns, the probe [[drain]]s the listener bus: it
  * waits until every event posted so far is delivered
  * (`LiveListenerBus.waitUntilEmpty`, package-private in Spark, hence
  * this package). The scheduler posts a job's start before the job runs
  * and, for a job that succeeds, its end before the action returns, so
  * the counts are complete once the bus is empty. A failed job's end may
  * arrive later; its seconds are then left out, but it still counts.
  * Each probe has its own listener, so nothing a body leaves behind
  * reaches a later probe. A bus that has not drained within 10 s gives
  * [[Jobs.Unknown]] beside the body's result, never a throw: a slow
  * listener elsewhere must not cost the caller the result it timed.
  */
object JobProbe {

  def apply[T](spark: SparkSession)(body: => T): (T, Jobs) = {
    val sc = spark.sparkContext
    val group = s"graft-job-probe-${java.util.UUID.randomUUID()}"
    val started = new ConcurrentHashMap[Int, java.lang.Long]()
    val millis = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          started.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.get(e.jobId)).foreach(t0 => millis.add(e.time - t0))
    }
    sc.addSparkListener(listener)
    try {
      val previous = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, group)
      val out =
        try body finally sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, previous)
      val jobs =
        try { drain(spark); Jobs(started.size, millis.sum / 1e3) }
        catch { case _: java.util.concurrent.TimeoutException => Jobs.Unknown }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far to every listener (10 s timeout). */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
