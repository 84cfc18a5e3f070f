package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-day / per-location statistics (SURVEY.md §2.4 A7, A8, A10).
  *
  * Reference: day-average triple after location+day filter
  * (prediction/preprocessing/spark.py:1328-1368), distinct observed days
  * (spark.py:1297-1306), and the driver-side Python stats pack
  * (crawl_data/weather_utils.py:58-84) which we lift into Spark aggregates —
  * the median becomes exact `percentile` (matches DuckDB's interpolating
  * median; `percentile_approx` would not hash-match an oracle).
  */
object DayStats {

  /** A7: global averages over the given metrics after the caller's filters. */
  def dayAverage(obs: DataFrame, metrics: Seq[String]): DataFrame =
    obs.agg(
      count(lit(1)).as("n_rows"),
      metrics.map(m => avg(col(m)).as(s"avg_$m")): _*)

  /** A8: distinct days with observations, ascending. `to_date` keys (not
    * formatted strings) so date-partition pruning stays possible. One row
    * per observed day, so the result is sorted in one partition: a global
    * `orderBy` would add a range-partition sampling job and an exchange. */
  def distinctDays(obs: DataFrame): DataFrame =
    obs.select(to_date(col("event_timestamp")).as("day")).distinct()
      .coalesce(1).sortWithinPartitions(col("day"))

  /** A10: min/max/avg/exact-median of a metric per group. */
  def statsPack(obs: DataFrame, groupKeys: Seq[String], metric: String): DataFrame =
    obs.groupBy(groupKeys.map(col): _*).agg(
      min(col(metric)).as("min_v"),
      max(col(metric)).as("max_v"),
      avg(col(metric)).as("avg_v"),
      percentile(col(metric), lit(0.5)).as("median_v"),
      count(col(metric)).as("n_v"))
}
