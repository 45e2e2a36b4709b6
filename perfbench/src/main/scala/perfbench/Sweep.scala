package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** The sweep workload: a fixed list of `SparkEntry.queries` keys, run in a
  * seeded order pass after pass, each evaluated in full (every column of
  * every row, as `graft.Bench`'s noop sink does). */
object Sweep {

  /** One cheap key for each of the eleven families, plus `q_topk_custom`
    * for `TopKPerKey` (a warm pass is about 6 s at sf0.1 on four cores,
    * each DuckDB twin under 0.3 s), so that a verification pass, a warm-up
    * pass, the timed passes and the oracle comparison fit one run's
    * budget. README.md lists the keys left out and why. */
  val Keys: Seq[String] = Seq(
    "bm_portfolio_summary", "q_monthly_trend", "q_topk_custom", "ts_resample",
    "ad_zscore", "al_summary", "st_dedup", "dd_exact", "sim_topk",
    "tx_normalize", "mm_binary", "ds_split")

  /** The seeded key order of pass `pass` (0: the verification pass). */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000 + pass).shuffle(Keys)

  /** The sf0.1 tables the keys read, through their schema-adaptive loaders. */
  private val Loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.customer, Tables.orders, Tables.events, Tables.documents,
    Tables.embeddings)

  /** One repetition of the sweep's set-up: open every table the keys read
    * through its `Tables` loader (file listing, footer and schema reads,
    * `events`' timestamp canonicalization). */
  def setUp(spark: SparkSession, dir: String): Unit =
    Loaders.foreach(_(spark, dir).schema)

  /** The verification pass runs this many keys at a time: it is the
    * run's coldest phase (about 2 s a key, mostly single-threaded driver
    * work: JIT, codegen, class loading) and is not timed, so overlapping
    * keys shortens a run by about 8 s. */
  val VerifyThreads = 3

  /** Verification pass: every key once, written as parquet under
    * `dumpDir/<key>` for the oracle comparison, [[VerifyThreads]] keys at a
    * time. Returns each key's digest, taken from the dump itself: the
    * verified output every later evaluation is compared with. */
  def verifyPass(spark: SparkSession, runner: Runner, dir: String,
      dumpDir: String, order: Seq[String]): Map[String, Digest] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(VerifyThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try order.map { k =>
      Future(runner.run("verify", k) {
        SparkEntry.queries(k)(spark, dir).write.mode("overwrite").parquet(s"$dumpDir/$k")
        Digest.of(spark.read.parquet(s"$dumpDir/$k"))
      }(_ => None).map(k -> _))
    }.flatMap(Await.result(_, Duration.Inf)).toMap
    finally pool.shutdown()
  }

  /** Untimed warm-up passes, then timed passes until `seconds` of timed
    * operations have run (whole passes only). A key's operation builds its
    * DataFrame and evaluates every column of every row, as the noop sink
    * does, into the order-insensitive digest that is then checked against
    * the verified one. The verification pass leaves the JIT short of steady
    * state (the next pass still runs ~15% slower), hence the warm-up pass,
    * which also compiles the digest's code paths.
    * On a traced run each key is traced on alternate timed passes, at least
    * two, so the same run yields untraced latencies of every key to
    * difference against. Returns the number of timed passes. */
  def passes(spark: SparkSession, runner: Runner, tracer: Tracer,
      dir: String, seed: Long, seconds: Double,
      refs: Map[String, Digest], warmupPasses: Int = 1): Int = {
    var timed = 0.0
    var pass = 0
    val minTimed = if (tracer.enabled) 2 else 0
    while (pass < warmupPasses + minTimed || timed < seconds) {
      pass += 1
      val kind = if (pass <= warmupPasses) "warmup" else "key"
      order(seed, pass).foreach { k =>
        val traced = tracer.enabled && kind == "key" && (Keys.indexOf(k) + pass) % 2 == 0
        runner.run(kind, k, pass, traced) {
          val df = tracer.span("build")(SparkEntry.queries(k)(spark, dir))
          tracer.span("exec")(Digest.of(df))
        } { got =>
          refs.get(k) match {
            case None => Some("no verified output to compare with")
            case Some(ref) =>
              if (got == ref) None else Some(s"digest $got != verified $ref")
          }
        }
        if (kind == "key") timed += runner.ops.last.secs
      }
    }
    pass - warmupPasses
  }
}
