package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.operators.{AlertStore, Alerts, Pipeline}

/** The alert_api workload: the reference's db.py / api.py surface over a
  * day-partitioned alert lake, driven as a closed loop of one client by a
  * seeded stream of nine reads to one write. Every read is collected to
  * the client and compared with the same filter applied to an in-memory
  * copy of the lake, which the writes keep in step. */
object AlertApi {

  private val DayUs = 86400000000L
  val Limit = 100

  /** One repetition of the set-up: run detection over the events and
    * persist the alerts as a fresh lake at `lake`. */
  def setUp(spark: SparkSession, dir: String, lake: String): Unit =
    Pipeline.runDetection(spark, dir, lake)

  /** One block of the request stream; each block is served in a seeded
    * order, so every run sees the same mix whatever its seed. */
  val Block: Seq[String] = Seq.fill(3)("query_range") ++ Seq.fill(3)("filter_alerts") ++
    Seq.fill(3)("summary_by_rule") :+ "write"

  /** Serve one untimed warm-up block (the first call of each read compiles
    * its code paths, up to three times a warm call), then whole blocks of
    * requests until `seconds` of timed requests have run. */
  def run(spark: SparkSession, runner: Runner, tracer: Tracer, lake: String,
      seed: Long, seconds: Double): Unit = {
    val schema = AlertStore.read(spark, lake).schema
    val rows = mutable.ArrayBuffer.from(AlertStore.read(spark, lake).collect())
    val fi = schema.fieldNames.zipWithIndex.toMap
    val (iTs, iEv, iSev, iRule, iUser, iDay) = (fi("ts_us"), fi("event_id"),
      fi("severity"), fi("rule_name"), fi("user_id"), fi("epoch_day"))
    def ts(r: Row) = r.getLong(iTs)
    def day(r: Row) = ts(r) / DayUs
    val severities = rows.map(_.getString(iSev)).distinct.sorted.toSeq
    val rules = rows.map(_.getString(iRule)).distinct.sorted.toSeq
    // the append template: one mid-range day, re-dated on every append
    val days0 = rows.map(day).distinct.sorted
    val template = rows.filter(r => day(r) == days0(days0.size / 2)).toSeq
    val dataSchema = StructType(schema.filterNot(_.name == "epoch_day"))

    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val dayRange = () => { val ds = rows.map(day); (ds.min, ds.max) }
    var appends = 0
    var clears = 0
    var timed = 0.0
    var i = 0
    var queue: List[String] = Nil
    while (i < Block.size || timed < seconds || queue.nonEmpty) {
      if (queue.isEmpty) queue = rnd.shuffle(Block).toList
      val req = queue.head
      queue = queue.tail
      i += 1
      val warm = i <= Block.size
      val (readKind, writeKind) = if (warm) ("warmup", "warmup") else ("read", "write")
      val traced = !warm && tracer.enabled && i % 2 == 0
      val (lo, hi) = dayRange()
      val d0 = lo + rnd.nextInt((hi - lo + 1).toInt)
      val d1 = math.min(hi, d0 + rnd.nextInt(7))
      val sev = if (rnd.nextBoolean()) Some(pick(severities)) else None
      val rule = pick(rules)
      // raw µs bounds that do not sit on day boundaries: pruning has to be
      // derived by the optimizer rule, not read off the predicate
      val sUs = d0 * DayUs + rnd.nextInt(12) * 3600000000L
      val eUs = (d1 + 1) * DayUs - rnd.nextInt(12) * 3600000000L
      val attrs = if (traced) Map("lake_files" -> lakeFiles(lake).toDouble) else Map.empty[String, Double]
      def keep(r: Row, inRange: Row => Boolean) =
        inRange(r) && sev.forall(_ == r.getString(iSev)) && r.getString(iRule) == rule
      def topN(rs: Seq[Row]) =
        rs.sortBy(r => (-ts(r), r.getLong(iEv))).take(Limit)
      if (req == "query_range") {
        val want = topN(rows.filter(keep(_, r => day(r) >= d0 && day(r) <= d1)).toSeq)
        runner.run(readKind, "query_range", i, traced)(
          AlertStore.queryRange(spark, lake, d0, d1, sev, Some(rule), None, Limit).collect()
        )(got => sameSeq(got.toSeq, want))
      } else if (req == "filter_alerts") {
        val want = topN(rows.filter(keep(_, r => ts(r) >= sUs && ts(r) < eUs)).toSeq)
        runner.run(readKind, "filter_alerts", i, traced)(
          Alerts.filterAlerts(AlertStore.read(spark, lake), Some(sUs), Some(eUs), sev,
            Some(rule), None, Limit).collect()
        )(got => sameSeq(got.toSeq, want))
      } else if (req == "summary_by_rule") {
        val in = rows.filter(r => ts(r) >= sUs && ts(r) < eUs).toSeq
        def counts(f: Row => Row) = in.groupBy(f).map { case (k, v) =>
          Row.fromSeq(k.toSeq :+ v.size.toLong) }
        val want = (counts(r => Row(r.getString(iSev), null, null)) ++
          counts(r => Row(null, r.getString(iRule), null)) ++
          counts(r => Row(null, null, r.getLong(iUser)))).toSeq
        runner.run(readKind, "summary_by_rule", i, traced)(
          Alerts.summaryByRule(AlertStore.read(spark, lake)
            .filter(col("ts_us") >= sUs && col("ts_us") < eUs)).collect()
        )(got => sameSet(got.toSeq, want))
      } else if (appends == clears) {
        val newDay = hi + 1
        val shifted = template.map { r =>
          val v = r.toSeq.toArray
          v(iTs) = ts(r) + (newDay - day(r)) * DayUs
          v(iDay) = if (schema(iDay).dataType == IntegerType) newDay.toInt else newDay
          Row.fromSeq(v.toSeq)
        }
        val df = spark.createDataFrame(
          java.util.Arrays.asList(shifted.map(r =>
            Row.fromSeq(r.toSeq.patch(iDay, Nil, 1))): _*), dataSchema)
        runner.run(writeKind, "append", i, traced)(AlertStore.append(df, lake)) { _ =>
          if (new java.io.File(s"$lake/epoch_day=$newDay").isDirectory) None
          else Some(s"day $newDay missing after append")
        }
        rows ++= shifted
        appends += 1
      } else {
        runner.run(writeKind, "clear", i, traced)(AlertStore.clearRange(spark, lake, lo, lo)) {
          n => if (n == 1L) None else Some(s"cleared $n partitions for one day")
        }
        rows.filterInPlace(r => day(r) != lo)
        clears += 1
      }
      if (attrs.nonEmpty)
        runner.ops(runner.ops.size - 1) = runner.ops.last.copy(attrs = runner.ops.last.attrs ++ attrs)
      if (!warm) timed += runner.ops.last.secs
    }
  }

  private def key(r: Row): String = r.toSeq.mkString("\u0001")

  private def sameSeq(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.map(key) == want.map(key)) None
    else Some(s"${got.size} rows differ from the ${want.size} expected")

  private def sameSet(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.map(key).sorted == want.map(key).sorted) None
    else Some(s"${got.size} summary rows differ from the ${want.size} expected")

  def lakeFiles(lake: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(lake))
    try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
  }
}
