package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What graft's entry points share: one local session shape, the
  * `SPARK_GRAFT_ONLY` key filter, the profilers' stage timer, and the
  * JSON scalars their records print. Every main builds its session
  * here and nowhere else (FrontDoorGuardSpec fails on a
  * `SparkSession.builder` elsewhere in src/main/scala), so all of them
  * run the same core count and shuffle width. */
object Mains {

  /** The local session every main runs on: `local[$SPARK_GRAFT_CPUS]`
    * (default 4 cores), one shuffle partition per core, UTC session time
    * zone, no UI, WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The optional comma-separated `SPARK_GRAFT_ONLY` key filter for local
    * iteration. Unknown names fail loudly: a silent zero-query run reads
    * as a suspiciously fast one. */
  def only(): Option[Set[String]] = {
    val names = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    names.foreach { n =>
      val unknown = n.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    names
  }

  /** Minimum wall seconds of `reps` evaluations of `df` through the noop
    * sink, which drives every column of every row (count() would let
    * Catalyst prune computed columns). */
  def timed(reps: Int)(df: => DataFrame): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** `s` as a JSON string: quote, backslash and every control character
    * escaped, so a tab or CR in a message or in builder-authored SQL
    * cannot break the reader's parse. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Three decimals under Locale.ROOT: the f-interpolator honors the
    * default locale, and a comma decimal separator would corrupt the
    * machine-parsed JSON. */
  def f3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** Seconds as a JSON array, three decimals each. */
  def secsJson(xs: Seq[Double]): String = xs.map(f3).mkString("[", ",", "]")
}
