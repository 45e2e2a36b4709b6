package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Alert store / query surface — the Spark-native form of the reference's
  * PostgreSQL alert API (reference: src/db.py, src/api.py,
  * src/dashboard_app.py):
  *   - filtered scans with time range / severity predicates + ORDER BY
  *     ts DESC + LIMIT (db.py:113 `query_anomalies`, api.py:106 `get_alerts`)
  *   - multi-dimension count summaries (db.py:171 `get_anomaly_summary`:
  *     counts by severity / rule / zone) — one GROUPING SETS pass instead
  *     of the reference's three sequential GROUP BY queries
  *   - daily trend counts (dashboard_app.py:408)
  *   - alerts ⋈ source time-series overlay join (dashboard_app.py:147)
  *
  * Scale: the summary is a single expand+aggregate over the alert stream
  * (3 grouped dimensions ⇒ 3× expand, map-side combined); the overlay join
  * keys on (user_id, event_id) and co-partitions with the feature stream.
  *
  * The grouped counts ([[summary]], [[summaryByRule]], [[daily]]) are
  * sorted in one partition: `coalesce(1)` before the presentation
  * `orderBy`. Their row count is bounded by the distinct severities plus
  * rules (or event types) plus entities, or by the days in range, not by
  * the alerts, and the client collects them whole anyway. A range
  * exchange over a few hundred rows would only add a sampling job and a
  * shuffle; in one partition the sort needs neither, and the rows and
  * their order are the same.
  */
object Alerts {

  /** Filtered alert scan with every predicate independently optional —
    * time range, severity, rule name, entity key — newest first, bounded
    * (db.py:113 `query_anomalies` and api.py:106 `GET /alerts` accept each
    * filter independently). Pushdown-friendly: the predicates sit directly
    * above the scan, the sort+limit collapses to a TakeOrderedAndProject. */
  def filterAlerts(alerts: DataFrame,
      startUs: Option[Long] = None, endUs: Option[Long] = None,
      severity: Option[String] = None, ruleName: Option[String] = None,
      userId: Option[Long] = None, limit: Int = 100): DataFrame = {
    val preds = Seq(
      startUs.map(s => col("ts_us") >= s),
      endUs.map(e => col("ts_us") < e),
      severity.map(col("severity") === _),
      ruleName.map(col("rule_name") === _),
      userId.map(col("user_id") === _)).flatten
    preds.foldLeft(alerts)(_ filter _)
      .orderBy(col("ts_us").desc, col("event_id"))
      .limit(limit)
  }

  /** Mandatory-filter convenience form (round-1 signature). */
  def filterAlerts(alerts: DataFrame, startUs: Long, endUs: Long,
      severity: String, limit: Int): DataFrame =
    filterAlerts(alerts, Some(startUs), Some(endUs), Some(severity),
      None, None, limit)

  /** Time-bounded summary: [startUs, endUs) then the GROUPING SETS pass
    * (dashboard_app.py:73 `load_summary(start, end)`). */
  def summary(alerts: DataFrame, startUs: Long, endUs: Long): DataFrame =
    summary(alerts.filter(col("ts_us") >= startUs && col("ts_us") < endUs))

  /** Counts by severity / event type / key in one GROUPING SETS pass
    * (reference runs three separate GROUP BY queries, db.py:203-226). */
  def summary(alerts: DataFrame): DataFrame =
    alerts
      .groupingSets(
        Seq(Seq(col("severity")), Seq(col("event_type")), Seq(col("user_id"))),
        col("severity"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .orderBy("severity", "event_type", "user_id")

  /** The db.py-faithful summary over the STANDARD alert schema
    * (Pipeline.detectAll / the alert store): counts by severity, by
    * rule_name and by entity in one GROUPING SETS pass — exactly
    * get_anomaly_summary's three breakdowns (db.py:171: severity / rule /
    * zone). [[summary]] is the event-stream variant (event_type instead
    * of rule, for single-rule alert frames that carry the source event
    * type). */
  def summaryByRule(alerts: DataFrame): DataFrame =
    alerts
      .groupingSets(
        Seq(Seq(col("severity")), Seq(col("rule_name")), Seq(col("user_id"))),
        col("severity"), col("rule_name"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .orderBy("severity", "rule_name", "user_id")

  /** Hottest entities by alert count — the summary's "by zone (top N)"
    * truncation (db.py:171 get_anomaly_summary breaks down by zone top
    * 10). Deterministic tie-break on the key; the sort+limit collapses to
    * a TakeOrderedAndProject over the aggregated (small) frame. */
  def summaryTopEntities(alerts: DataFrame, n: Int = 10): DataFrame =
    alerts
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_alerts"))
      .orderBy(col("n_alerts").desc, col("user_id"))
      .limit(n)

  /** Daily alert counts (epoch-day index; pure integer µs arithmetic). */
  def daily(alerts: DataFrame): DataFrame =
    alerts
      .groupBy(expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .orderBy("epoch_day")

  /** Overlay join: alerts back onto the rolling-feature stream
    * (dashboard_app.py:147 pd.merge on timestamp). */
  def joinFeatures(alerts: DataFrame, features: DataFrame): DataFrame =
    alerts
      .select("event_id", "user_id", "severity", "score")
      .join(features, Seq("event_id", "user_id"))
      .select("event_id", "user_id", "ts_us", "value", "mean_12", "std_12",
        "severity", "score")
      .orderBy("event_id")
}
