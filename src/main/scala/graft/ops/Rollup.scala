package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ModalAgg

/** Time-bucketed rollups + modal-code aggregation (SURVEY.md §2.4 A2-A6, J1,
  * W2-W3), as ONE parameterized implementation — the reference duplicates this
  * plan six times across hour/day/bucket × stream/snapshot paths
  * (prediction/preprocessing/spark.py:598-920 vs 939-1256).
  *
  * Modal code: the reference computes `groupBy(key, code).count()` then ranks
  * with `row_number() over (partitionBy key orderBy count desc, code
  * asc_nulls_last) == 1` and left-joins the rank-1 row back onto the metric
  * aggregate (spark.py:620-645 et al.). Here the modal code is one more
  * aggregate function (`functions.ModalAgg`, same tie-break, nulls last) in
  * the rollup's single `groupBy(key)`: each rollup scans its input once,
  * shuffles once, and plans no join and no broadcast. The literal rank
  * formulation is kept as `modalCodeRanked` for parity tests.
  *
  * A rollup has at most one row per bucket (24 hours, a few days, a few
  * count buckets), so the result is sorted in one partition
  * (`coalesce(1).sortWithinPartitions`) instead of by a global `orderBy`,
  * which would add a range-partition sampling job and an exchange.
  *
  * Scale notes: the `groupBy(key)` partial-aggregates before its shuffle, so
  * 100 TB in ≈ |buckets| partial rows per input partition shuffled. No global
  * windows on the time-keyed paths. The count-based bucketing (A4) is
  * inherently a global ordering — the reference bounds it with a preceding
  * `limit(hours*12)` (spark.py:817,1167); we keep that bound mandatory.
  */
object Rollup {

  /** Default aggregate list shape of the reference's rollups (A2/A3):
    * min/max event time, avg over each metric, pinned-first (min) over the
    * per-location constants, row count. `first()` in the reference
    * (spark.py:612-615) is order-dependent; we pin with `min` so results are
    * deterministic and oracle-checkable (SURVEY.md §7.4.2). */
  def aggList(avgCols: Seq[String], pinnedCols: Seq[String]): Seq[Column] =
    Seq(
      min(col("event_timestamp")).as("window_start"),
      max(col("event_timestamp")).as("window_end"),
      count(lit(1)).as("n_rows")) ++
    avgCols.map(c => avg(col(c)).as(s"avg_$c")) ++
    pinnedCols.map(c => min(col(c)).as(s"first_$c"))

  private val modalStrings = udaf(ModalAgg.strings)
  private val modalLongs = udaf(ModalAgg.longs, Encoders.LONG)

  /** The `(modal_code, modal_count)` struct aggregate of `code` in `df`,
    * deterministic ties (count desc, code asc, nulls last), as columns
    * (named `__modal`) to add to a `groupBy` and the projection that
    * unpacks it. Integral codes are counted as longs and cast back. */
  private def modal(df: DataFrame, code: Column): (Column, Seq[Column]) = {
    val t = df.select(code).schema.head.dataType
    val agg = t match {
      case StringType => modalStrings(code)
      case ByteType | ShortType | IntegerType | LongType => modalLongs(code.cast(LongType))
      case _ => throw new IllegalArgumentException(
        s"modal code must be a string or integral column, got ${t.simpleString}")
    }
    (agg.as("__modal"), Seq(col("__modal.modal_code").cast(t).as("modal_code"),
      col("__modal.modal_count").as("modal_count")))
  }

  /** Modal value of `code` per `key`: one `groupBy(key)` aggregate. */
  def modalCode(df: DataFrame, key: Column, keyName: String,
                code: Column = col("code")): DataFrame = {
    val (agg, out) = modal(df, code)
    df.groupBy(key.as(keyName)).agg(agg).select(col(keyName) +: out: _*)
  }

  /** The reference's literal 3-step modal plan (A5+A6): freq → rank-1.
    * Kept for parity/property tests against `modalCode`. */
  def modalCodeRanked(df: DataFrame, key: Column, keyName: String,
                      code: Column = col("code")): DataFrame = {
    val freq = df.groupBy(key.as(keyName), code.as("__code")).agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(keyName))
      .orderBy(col("__cnt").desc, col("__code").asc_nulls_last)
    freq.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(keyName), col("__code").as("modal_code"), col("__cnt").as("modal_count"))
  }

  /** A2/A3 generic rollup: metrics and the modal code aggregated per bucket
    * key in one aggregate, sorted by key in one partition (bounded output). */
  def rollup(obs: DataFrame, key: Column, keyName: String,
             avgCols: Seq[String], pinnedCols: Seq[String] = Nil,
             code: Column = col("code")): DataFrame = {
    val (modalAgg, modalOut) = modal(obs, code)
    val aggs = aggList(avgCols, pinnedCols) :+ modalAgg
    obs.groupBy(key.as(keyName)).agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: modalOut: _*).drop("__modal")
      .coalesce(1).sortWithinPartitions(col(keyName))
  }

  /** Hourly rollup (A2): bucket by hour-of-day of the event time. */
  def hourly(obs: DataFrame, avgCols: Seq[String], pinnedCols: Seq[String] = Nil): DataFrame =
    rollup(obs, hour(col("event_timestamp")), "hour", avgCols, pinnedCols)

  /** Daily rollup (A3): bucket by calendar day. `to_date` (not the reference's
    * date_format string key, spark.py:712) so partition pruning applies. */
  def daily(obs: DataFrame, avgCols: Seq[String], pinnedCols: Seq[String] = Nil): DataFrame =
    rollup(obs, to_date(col("event_timestamp")), "day", avgCols, pinnedCols)

  /** A4 + W3: count-based bucketing over the most recent `maxRows` rows.
    * The global row-number window is single-partition by construction; the
    * mandatory `maxRows` limit (reference: hours*12, spark.py:817) keeps it
    * bounded regardless of input scale — the limit itself is pushed into a
    * TakeOrderedAndProject, so only `maxRows` rows ever reach the window. */
  def bucketed(obs: DataFrame, step: Int, maxRows: Int,
               ordering: Seq[Column], avgCols: Seq[String],
               pinnedCols: Seq[String] = Nil): DataFrame = {
    require(maxRows > 0 && step > 0, "bucketed rollup requires positive bounds")
    val recent = Recent.latestN(obs, maxRows, ordering)
    val w = Window.orderBy(ordering: _*)
    val indexed = recent
      .withColumn("__idx", row_number().over(w))
      .withColumn("__bucket", floor((col("__idx") - 1) / step))
    rollup(indexed, col("__bucket"), "bucket", avgCols, pinnedCols)
  }
}
