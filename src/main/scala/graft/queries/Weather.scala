package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ingest.Parse
import graft.ops.{Alerts, DayStats, Latest, Recent, Rollup}

/** Weather-parity queries (SURVEY.md §2.13): the reference's REST/CLI query
  * surface re-expressed over the shared `events` corpus via the
  * `eventsAsObservations` adapter (location←user_id, code←event_type,
  * metric←value). Each returns deterministic, oracle-hashable output.
  */
object Weather {

  private def obs(s: SparkSession, dir: String): DataFrame =
    Parse.eventsAsObservations(Tables.events(s, dir))

  /** Shared output shaping: epoch-µs timestamps, stable column names. */
  private val obsOut = Seq(
    col("location"), col("event_id"), col("code"), col("value"),
    unix_micros(col("event_timestamp")).as("event_us"))

  /** Per-code alert thresholds (code, lo, hi, loLabel, hiLabel) — an API
    * fixture like the retrieval queries, rendered into the oracle VALUES
    * so the two sides can never drift. The bands mirror the reference's
    * monitored variables (weather_utils.py:152-174: temperature 0/35,
    * humidity 30/80, precipitation hi-only) mapped onto the corpus codes;
    * the corpus value span (≈0.03–327) exercises hi, lo AND normal. */
  private val AlertThresholds: Seq[(String, Double, Double, String, String)] = Seq(
    ("click", 0.0, 35.0, "cold_alert", "heat_alert"),
    ("view", 30.0, 80.0, "dry_alert", "humid_alert"),
    ("purchase", 0.0, 5.0, "low_alert", "rain_alert"),
    ("error", 25.0, 300.0, "cold_alert", "overload_alert"),
    ("signup", 10.0, 200.0, "low_alert", "surge_alert"))

  private def alertSqlValues: String = AlertThresholds.map {
    case (c, lo, hi, ll, hl) => s"('$c', $lo, $hi, '$ll', '$hl')"
  }.mkString(", ")

  val all: Seq[QuerySpec] = Seq(

    // D1 — latest observation per location (GET /weather).
    QuerySpec.sql("latest_per_key",
      """SELECT CAST(user_id AS VARCHAR) AS location, event_id,
        |       event_type AS code, value, epoch_us(ts) AS event_us
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""") {
      (s, dir) => Latest.latestPerLocation(obs(s, dir)).select(obsOut: _*)
    },

    // D2 — dedupe: latest row per (location, code) pair.
    QuerySpec.sql("dedup_latest_per_pair",
      """SELECT CAST(user_id AS VARCHAR) AS location, event_type AS code,
        |       event_id, value, epoch_us(ts) AS event_us
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""") {
      (s, dir) =>
        Latest.keepFirst(obs(s, dir), Seq("location", "code"),
            Seq(col("event_timestamp").desc, col("event_id").desc))
          .select(col("location"), col("code"), col("event_id"), col("value"),
            unix_micros(col("event_timestamp")).as("event_us"))
    },

    // D1 scale variant — same latest-per-location via max_by (map-side
    // combinable hash agg: one row per key per partition crosses the
    // shuffle instead of every row; the plan for low-cardinality hot keys).
    QuerySpec.sql("latest_per_key_maxby",
      """SELECT CAST(user_id AS VARCHAR) AS location, event_id,
        |       event_type AS code, value, epoch_us(ts) AS event_us
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""") {
      (s, dir) =>
        Latest.latestByMaxBy(obs(s, dir), "location",
            struct(col("event_timestamp"), col("event_id")))
          .select(obsOut: _*)
    },

    // Skew path — the salted two-stage aggregation produces byte-identical
    // results to the direct groupBy (the oracle IS the direct form).
    QuerySpec.sql("salted_code_stats",
      """SELECT event_type AS code, count(*) AS n_rows,
        |       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v_micro,
        |       max(value) AS max_v
        |FROM events GROUP BY 1 ORDER BY code""") {
      (s, dir) => {
        val withQ = obs(s, dir)
          .withColumn("__vq", floor(col("value") * 1000000).cast("long"))
        graft.ops.Skew.saltedAggregate(withQ, Seq("code"), salts = 16,
            "n_rows" -> (count(lit(1)), sum(col("n_rows"))),
            "sum_v_micro" -> (sum(col("__vq")), sum(col("sum_v_micro"))),
            "max_v" -> (max(col("value")), max(col("max_v"))))
          .select(col("code"), col("n_rows"), col("sum_v_micro"), col("max_v"))
          .orderBy(col("code"))
      }
    },

    // A2 + A5/A6 + J1 — hourly rollup with modal code (GET /weather/recent_with_step 24h).
    QuerySpec.sql("hourly_rollup",
      """WITH agg AS (
        |  SELECT CAST(hour(ts) AS INT) AS hour,
        |         epoch_us(min(ts)) AS window_start_us,
        |         epoch_us(max(ts)) AS window_end_us,
        |         count(*) AS n_rows, round(avg(value), 4) AS avg_value
        |  FROM events GROUP BY 1),
        |modal AS (
        |  SELECT hour, event_type AS modal_code, cnt AS modal_count FROM (
        |    SELECT CAST(hour(ts) AS INT) AS hour, event_type, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY CAST(hour(ts) AS INT)
        |             ORDER BY count(*) DESC, event_type ASC) AS rn
        |    FROM events GROUP BY 1, 2) WHERE rn = 1)
        |SELECT agg.*, modal.modal_code, modal.modal_count
        |FROM agg LEFT JOIN modal USING (hour) ORDER BY hour""") {
      (s, dir) =>
        Rollup.hourly(obs(s, dir), avgCols = Seq("value"))
          .select(col("hour"),
            unix_micros(col("window_start")).as("window_start_us"),
            unix_micros(col("window_end")).as("window_end_us"),
            col("n_rows"), round(col("avg_value"), 4).as("avg_value"),
            col("modal_code"), col("modal_count"))
    },

    // A5/A6 alone — the modal code per hour through the typed ModalAgg
    // Aggregator that every Rollup folds into its one aggregate (map-side
    // buffer, one shuffle, count desc / code asc / nulls last).
    QuerySpec.sql("hourly_modal_udaf",
      """SELECT hour, event_type AS modal_code, cnt AS modal_count FROM (
        |  SELECT CAST(hour(ts) AS INT) AS hour, event_type, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY CAST(hour(ts) AS INT)
        |           ORDER BY count(*) DESC, event_type ASC) AS rn
        |  FROM events GROUP BY 1, 2) WHERE rn = 1 ORDER BY hour""") {
      (s, dir) =>
        Rollup.modalCode(obs(s, dir), hour(col("event_timestamp")), "hour")
          .orderBy(col("hour"))
    },

    // A3 — daily rollup (GET /weather/recent_with_step 7d branch).
    QuerySpec.sql("daily_rollup",
      """WITH agg AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day,
        |         epoch_us(min(ts)) AS window_start_us,
        |         epoch_us(max(ts)) AS window_end_us,
        |         count(*) AS n_rows, round(avg(value), 4) AS avg_value
        |  FROM events GROUP BY 1),
        |modal AS (
        |  SELECT day, event_type AS modal_code, cnt AS modal_count FROM (
        |    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY strftime(ts, '%Y-%m-%d')
        |             ORDER BY count(*) DESC, event_type ASC) AS rn
        |    FROM events GROUP BY 1, 2) WHERE rn = 1)
        |SELECT agg.*, modal.modal_code, modal.modal_count
        |FROM agg LEFT JOIN modal USING (day) ORDER BY day""") {
      (s, dir) =>
        Rollup.rollup(obs(s, dir), date_format(col("event_timestamp"), "yyyy-MM-dd"),
            "day", avgCols = Seq("value"))
          .select(col("day"),
            unix_micros(col("window_start")).as("window_start_us"),
            unix_micros(col("window_end")).as("window_end_us"),
            col("n_rows"), round(col("avg_value"), 4).as("avg_value"),
            col("modal_code"), col("modal_count"))
    },

    // A4 + W3 — count-based bucket rollup over the most recent 240 rows, step 12.
    QuerySpec.sql("bucket_rollup",
      """WITH recent AS (
        |  SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 240),
        |idx AS (
        |  SELECT *, CAST(floor((row_number() OVER (ORDER BY ts DESC, event_id DESC) - 1)
        |                 / 12) AS BIGINT) AS bucket
        |  FROM recent),
        |agg AS (
        |  SELECT bucket, epoch_us(min(ts)) AS window_start_us,
        |         epoch_us(max(ts)) AS window_end_us,
        |         count(*) AS n_rows, round(avg(value), 4) AS avg_value
        |  FROM idx GROUP BY 1),
        |modal AS (
        |  SELECT bucket, event_type AS modal_code, cnt AS modal_count FROM (
        |    SELECT bucket, event_type, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY bucket
        |             ORDER BY count(*) DESC, event_type ASC) AS rn
        |    FROM idx GROUP BY 1, 2) WHERE rn = 1)
        |SELECT agg.*, modal.modal_code, modal.modal_count
        |FROM agg LEFT JOIN modal USING (bucket) ORDER BY bucket""") {
      (s, dir) =>
        Rollup.bucketed(obs(s, dir), step = 12, maxRows = 240,
            ordering = Seq(col("event_timestamp").desc, col("event_id").desc),
            avgCols = Seq("value"))
          .select(col("bucket"),
            unix_micros(col("window_start")).as("window_start_us"),
            unix_micros(col("window_end")).as("window_end_us"),
            col("n_rows"), round(col("avg_value"), 4).as("avg_value"),
            col("modal_code"), col("modal_count"))
    },

    // A7 — day-average for one location+day (GET /weather/average_day).
    QuerySpec.sql("day_average",
      """SELECT count(*) AS n_rows, round(avg(value), 4) AS avg_value
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) = '3'
        |  AND CAST(ts AS DATE) = DATE '2024-01-05'""") {
      (s, dir) =>
        DayStats.dayAverage(
          Recent.onDay(obs(s, dir).filter(Recent.locationPredicate("3")), "2024-01-05"),
          Seq("value"))
          .select(col("n_rows"), round(col("avg_value"), 4).as("avg_value"))
    },

    // A8 — distinct observed days for one location (GET /weather/days).
    QuerySpec.sql("distinct_days",
      """SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day
        |FROM events WHERE CAST(user_id AS VARCHAR) = '7' ORDER BY day""") {
      (s, dir) =>
        DayStats.distinctDays(obs(s, dir).filter(Recent.locationPredicate("7")))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"))
    },

    // A1 + P11 + O3 — observations within 6 hours of the data max.
    QuerySpec.sql("recent_hours",
      """SELECT CAST(user_id AS VARCHAR) AS location, event_id,
        |       event_type AS code, value, epoch_us(ts) AS event_us
        |FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 6 HOUR
        |ORDER BY event_us DESC, event_id DESC""") {
      (s, dir) =>
        Recent.recentHours(obs(s, dir), 6)
          .select(obsOut: _*)
          .orderBy(col("event_us").desc, col("event_id").desc)
    },

    // A10 — stats pack per code: min/max/avg/median.
    QuerySpec.sql("stats_pack",
      """SELECT event_type AS code, min(value) AS min_v, max(value) AS max_v,
        |       round(avg(value), 4) AS avg_v, median(value) AS median_v,
        |       count(value) AS n_v
        |FROM events GROUP BY 1 ORDER BY code""") {
      (s, dir) =>
        DayStats.statsPack(obs(s, dir), Seq("code"), "value")
          .select(col("code"), col("min_v"), col("max_v"),
            round(col("avg_v"), 4).as("avg_v"), col("median_v"), col("n_v"))
          .orderBy(col("code"))
    },

    // A10 extension — exact quantile bands per code (interpolating
    // percentile, the same formula DuckDB's quantile_cont uses).
    QuerySpec.sql("stats_quantiles",
      """SELECT event_type AS code,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.50), 4) AS p50,
        |       round(quantile_cont(value, 0.75), 4) AS p75,
        |       round(quantile_cont(value, 0.90), 4) AS p90
        |FROM events GROUP BY 1 ORDER BY code""") {
      (s, dir) =>
        obs(s, dir).groupBy(col("code"))
          .agg(
            round(percentile(col("value"), lit(0.25)), 4).as("p25"),
            round(percentile(col("value"), lit(0.50)), 4).as("p50"),
            round(percentile(col("value"), lit(0.75)), 4).as("p75"),
            round(percentile(col("value"), lit(0.90)), 4).as("p90"))
          .orderBy(col("code"))
    },

    // Conditional + boolean aggregates per code.
    QuerySpec.sql("q_conditional_aggs",
      """SELECT event_type AS code,
        |       count(*) FILTER (value > 50.0) AS n_high,
        |       bool_or(value > 99.0) AS any_extreme,
        |       bool_and(value >= 0.0) AS all_nonneg
        |FROM events GROUP BY 1 ORDER BY code""") {
      (s, dir) =>
        obs(s, dir).groupBy(col("code"))
          .agg(
            count(when(col("value") > 50.0, 1)).as("n_high"),
            bool_or(col("value") > 99.0).as("any_extreme"),
            bool_and(col("value") >= 0.0).as("all_nonneg"))
          .orderBy(col("code"))
    },

    // O5 — top-5 locations by average metric.
    QuerySpec.sql("topk_locations",
      """SELECT CAST(user_id AS VARCHAR) AS location,
        |       round(avg(value), 4) AS avg_value, count(*) AS n_rows
        |FROM events GROUP BY 1
        |ORDER BY avg(value) DESC, location LIMIT 5""") {
      (s, dir) =>
        Recent.topKByAvg(obs(s, dir), "location", "value", 5)
          .select(col("location"), round(col("avg_value"), 4).as("avg_value"), col("n_rows"))
    },

    // P2/P3 — payload map parse: extract props.k, aggregate per decade.
    QuerySpec.sql("parse_props",
      """SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10) AS BIGINT)
        |         AS k_decade,
        |       count(*) AS n_rows,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY k_decade""") {
      (s, dir) => {
        val k = col("payload").getItem("k").cast("int")
        obs(s, dir)
          .groupBy(floor(k / 10).as("k_decade"))
          .agg(count(lit(1)).as("n_rows"), round(avg(k), 4).as("avg_k"))
          .orderBy(col("k_decade"))
      }
    },

    // Alert-threshold classification + °C→°F/K conversions over the
    // latest observation per (location, code) — the reference's
    // get_weather_alerts + convert_temperature (weather_utils.py:10-26,
    // 142-179) as one broadcast-join + narrow projection; strict
    // inequalities, in-band values classify 'normal'.
    QuerySpec.sql("alert_levels",
      s"""WITH th(code, lo, hi, lo_label, hi_label) AS (VALUES $alertSqlValues),
        |latest AS (
        |  SELECT CAST(user_id AS VARCHAR) AS location, event_type AS code,
        |         value, epoch_us(ts) AS event_us
        |  FROM events
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT location, latest.code AS code, value,
        |       CASE WHEN value > hi THEN hi_label
        |            WHEN value < lo THEN lo_label
        |            ELSE 'normal' END AS alert_level,
        |       value * 9 / 5 + 32 AS value_f,
        |       value + 273.15 AS value_k,
        |       event_us
        |FROM latest JOIN th USING (code)
        |ORDER BY location, code""".stripMargin) {
      (s, dir) =>
        Alerts.alertLevels(obs(s, dir), AlertThresholds)
          .orderBy(col("location"), col("code"))
    },

    // Cross-location comparison (weather_utils.py:58-84, 182-213): latest
    // 'click' value per location ranked descending, with min/max/avg and
    // the reference's UPPER median (values[len // 2], not interpolated)
    // attached to every row.
    QuerySpec.sql("location_compare",
      """WITH latest AS (
        |  SELECT CAST(user_id AS VARCHAR) AS location, value
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
        |st AS (SELECT min(value) AS min_v, max(value) AS max_v,
        |              round(avg(value), 4) AS avg_v,
        |              CAST(count(*) AS BIGINT) AS __n
        |       FROM latest),
        |srt AS (SELECT value,
        |          row_number() OVER (ORDER BY value ASC, location ASC) AS rn
        |        FROM latest),
        |med AS (SELECT value AS median_v FROM srt CROSS JOIN st
        |        WHERE rn = __n // 2 + 1)
        |SELECT CAST(row_number() OVER (ORDER BY value DESC, location ASC) AS BIGINT) AS rank,
        |       location, value, min_v, max_v, avg_v, median_v
        |FROM latest CROSS JOIN st CROSS JOIN med
        |ORDER BY rank""") {
      (s, dir) =>
        Alerts.compareLocations(obs(s, dir), "click")
          .orderBy(col("rank"))
    },

    // P5 — multi-format timestamp fallback chain, checked against ground truth.
    QuerySpec.sql("timestamp_parse",
      """SELECT event_id,
        |       epoch_us(CASE CAST(event_id % 3 AS INT)
        |         WHEN 2 THEN date_trunc('minute', ts)
        |         ELSE date_trunc('second', ts) END) AS parsed_us
        |FROM events ORDER BY event_id""") {
      (s, dir) => {
        val e = Tables.events(s, dir)
        val raw = e.withColumn("raw",
          when(col("event_id") % 3 === 0,
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
          .when(col("event_id") % 3 === 1,
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm")))
        raw.select(col("event_id"),
            unix_micros(Parse.resolveEventTime(col("raw"), col("ts"))).as("parsed_us"))
          .orderBy(col("event_id"))
      }
    }
  )
}
