package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A clone of [[spark]] with `spark.sql.files.maxPartitionBytes` at
    * 4 KB: every sf0.001 table but region, nation and supplier is then
    * planned as several file splits, so `Tables.table` gives the plain
    * read's multi-partition plan (at the defaults every sf0.001 table is
    * one split and reads as one partition). For plan-shape assertions
    * about the exchanges a multi-split input needs. */
  lazy val multiSplit: SparkSession = org.apache.spark.sql.graft.ScopedConf.session(
    spark, "spark.sql.files.maxPartitionBytes" -> "4096")

  /** A new session on [[spark]]'s SparkContext, built with
    * `withExtensions(new GraftExtensions)`: the only way to get the
    * extension's physical rule, which a live session cannot take. It has
    * its own shared state (catalog, cache). [[spark]] stays the default
    * and active session. */
  lazy val extended: SparkSession = {
    val s = spark
    // create() finds the running SparkContext and leaves its conf as is
    val e = SparkSession.builder().withExtensions(new GraftExtensions).create()
    SparkSession.setDefaultSession(s)
    SparkSession.setActiveSession(s)
    e
  }

  /** Drain an AvailableNow query that cannot self-terminate (stateful
    * ProcessingTimeTimeout keeps the drift detector alive waiting for its
    * 1-hour state-GC timeout; processAllAvailable never settles for the
    * same reason): wait until at least one input batch has been processed
    * AND the memory sink stops growing for four consecutive 500 ms polls,
    * then stop the query explicitly. Hard 90 s cap. */
  def drainAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      sinkTable: String): Unit = {
    val deadlineNs = System.nanoTime + 90L * 1000 * 1000 * 1000
    var prev = -1L
    var stable = 0
    var inputSeen = false
    while (q.isActive && stable < 4 && System.nanoTime < deadlineNs) {
      Thread.sleep(500)
      inputSeen = inputSeen || q.recentProgress.exists(_.numInputRows > 0)
      val n = spark.table(sinkTable).count()
      if (inputSeen && n == prev) stable += 1 else { stable = 0; prev = n }
    }
    q.stop()
  }
}
