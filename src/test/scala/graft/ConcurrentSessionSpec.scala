package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Two threads sharing one session: each opens the sweep's tables through
  * their loaders and runs query keys over them, the first opens racing
  * to resolve the same files. Their rows equal a serial run's, and the
  * session's conf is the same afterwards. */
class ConcurrentSessionSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.customer, Tables.orders, Tables.events, Tables.documents,
    Tables.embeddings)

  /** ts_resample and ad_zscore read events through TimeSeries.base. */
  private val keys = Seq("q_monthly_trend", "ts_resample", "ad_zscore", "tx_normalize")

  private def run(dir: String): Map[String, Seq[String]] = {
    loaders.foreach(_(spark, dir).schema)
    keys.map(k => k -> SparkEntry.queries(k)(spark, dir).collect().map(_.toString).sorted.toSeq)
      .toMap
  }

  test("two threads on one session get a serial run's rows and write no conf") {
    // a fresh copy of the tables, so the two threads' first opens resolve
    // them concurrently
    val dir = Files.createTempDirectory("two-threads")
    Files.list(Paths.get(sf)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val before = spark.conf.getAll
    val pool = Executors.newFixedThreadPool(2)
    val threaded = try {
      val runs = (1 to 2).map(_ => pool.submit(new Callable[Map[String, Seq[String]]] {
        def call(): Map[String, Seq[String]] = run(dir.toString)
      }))
      runs.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val serial = run(dir.toString)
    assert(serial.values.forall(_.nonEmpty))
    threaded.foreach(t => assert(t === serial))
    assert(spark.conf.getAll === before)
  }
}
