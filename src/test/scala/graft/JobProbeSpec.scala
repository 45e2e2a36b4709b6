package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.{JobProbe, Jobs}
import org.scalatest.funsuite.AnyFunSuite

/** `JobProbe` counts exactly the Spark jobs its body runs, with no
  * sleeps: jobs of other threads outside its group stay out, the
  * caller's job group comes back, and a throwing body leaves nothing
  * behind for the next probe. */
class JobProbeSpec extends AnyFunSuite {
  import TestSpark.spark

  private val GroupKey = "spark.jobGroup.id"

  test("one collect is one job; an empty body is none") {
    val (rows, jobs) = JobProbe(spark)(spark.range(10).collect())
    assert(rows.length === 10)
    assert(jobs.count === 1)
    assert(jobs.seconds >= 0.0)
    assert(JobProbe(spark)(())._2.count === 0)
    val (_, two) = JobProbe(spark) {
      spark.range(10).collect(); spark.range(20).collect()
    }
    assert(two.count === 2)
  }

  test("a job another thread starts outside the probe's group is not counted") {
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      try spark.range(100).collect() finally done.countDown()
    })
    other.start()
    val (_, jobs) = JobProbe(spark) {
      go.countDown()
      done.await()
      spark.range(10).collect()
    }
    other.join()
    assert(jobs.count === 1)
  }

  test("a thread the body starts inherits the group and counts") {
    val (_, jobs) = JobProbe(spark) {
      val t = new Thread(() => spark.range(10).collect())
      t.start(); t.join()
    }
    assert(jobs.count === 1)
  }

  test("the caller's previous job group is restored, after a throw too") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try {
      JobProbe(spark)(spark.range(10).collect())
      assert(sc.getLocalProperty(GroupKey) === "caller-group")
      intercept[IllegalStateException](JobProbe(spark)(throw new IllegalStateException("x")))
      assert(sc.getLocalProperty(GroupKey) === "caller-group")
    } finally sc.clearJobGroup()
    JobProbe(spark)(())
    assert(sc.getLocalProperty(GroupKey) === null)
  }

  test("a probe after a throwing body still counts exactly") {
    intercept[IllegalStateException](JobProbe(spark) {
      spark.range(10).collect()
      throw new IllegalStateException("body failed after one job")
    })
    // a failed Spark job: its end event may trail the exception
    intercept[Exception](JobProbe(spark) {
      spark.range(10)
        .selectExpr("IF(id = 7, raise_error('task failed'), id)").collect()
    })
    assert(JobProbe(spark)(spark.range(10).collect())._2.count === 1)
  }

  test("a listener bus that does not drain gives Jobs.Unknown beside the body's result") {
    // a listener stuck on the first job start holds the shared queue past
    // the probe's 10 s drain timeout
    val release = new CountDownLatch(1)
    val stuck = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        release.await(60, TimeUnit.SECONDS)
    }
    spark.sparkContext.addSparkListener(stuck)
    try {
      val (rows, jobs) = JobProbe(spark)(spark.range(10).collect())
      assert(rows.length === 10)
      assert(jobs === Jobs.Unknown)
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(stuck)
    }
    assert(JobProbe(spark)(spark.range(10).collect())._2.count === 1)
  }
}
