package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DayStats, Recent}

/** Plan tripwire for the serve path's rollups and `days` over a small
  * cached observation table, shaped like a served hot table filtered to
  * one location. Every exchange is its own stage and, under AQE, its own
  * job, so plan shape is the per-request cost on this path:
  *  - each rollup (hourly, daily, count-bucketed) scans its input once,
  *    shuffles at most once and plans no join and no broadcast: the modal
  *    code is part of the rollup's one aggregate, not a joined second plan;
  *  - no rollup and not `distinctDays` plans a `RangePartitioning`: their
  *    outputs are bounded, so they sort in one partition;
  *  - jobs per `collect`: rollups at most 2, count-bucketed 1, days at most 2. */
class ServePlanSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** 3 locations × 2 days of 5-minute readings, codes cycling over 4 values. */
  private lazy val hot: DataFrame = {
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val rows = for (l <- 0 until 3; i <- 0 until 576) yield
      (s"loc$l", new java.sql.Timestamp(t0 + i * 300000L), (l * 576 + i).toLong,
        Seq("0", "3", "61", "80")((i / 7 + l) % 4), 10.0 + 0.01 * i)
    val df = rows.toDF("location", "event_timestamp", "event_id", "code", "value").cache()
    df.count()
    df
  }

  private def one = hot.filter(Recent.locationPredicate("loc1"))

  private val endpoints: Seq[(String, () => DataFrame)] = Seq(
    "recent_hourly" -> (() => Recent.recentWithStep(one, 24, 1, Seq("value"))),
    "recent_daily" -> (() => Recent.recentWithStep(one, 168, 24, Seq("value"))),
    "recent_bucketed" -> (() => Recent.recentWithStep(one, 6, 1, Seq("value"))))

  private def jobsPerCollect(df: => DataFrame): Int = {
    df.collect() // a first run pays one-off planning work, not counted
    Prof.jobsDuring(spark)(df.collect())
  }

  test("each rollup scans once, shuffles at most once, and plans no join or broadcast") {
    for ((name, df) <- endpoints) {
      val plan = df().queryExecution.executedPlan
      assert(collect(plan) { case s: InMemoryTableScanExec => s }.size == 1, name)
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, name)
      assert(collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, name)
      val shuffles = collect(plan) { case s: ShuffleExchangeLike => s }.size
      // the count-bucketed rollup's one shuffle is inside its bounded
      // top-n (TakeOrderedAndProject), which is not an exchange node
      assert(shuffles == (if (name == "recent_bucketed") 0 else 1), s"$name: $shuffles")
    }
  }

  test("rollups and distinctDays sort their bounded output without a range partitioning") {
    val days = "days" -> (() => DayStats.distinctDays(one))
    for ((name, df) <- endpoints :+ days) {
      val ranged = collect(df().queryExecution.executedPlan) {
        case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
      }
      assert(ranged.isEmpty, name)
    }
  }

  test("jobs per collect: rollups at most 2, count-bucketed 1, days at most 2") {
    for ((name, df) <- endpoints) {
      val jobs = jobsPerCollect(df())
      assert(jobs <= (if (name == "recent_bucketed") 1 else 2), s"$name: $jobs jobs")
    }
    assert(jobsPerCollect(DayStats.distinctDays(one)) <= 2)
  }

  test("bounded outputs arrive sorted by their key") {
    for ((name, key) <- Seq("recent_hourly" -> "hour", "recent_bucketed" -> "bucket")) {
      val df = endpoints.find(_._1 == name).get._2()
      val keys = df.select(col(key).cast("long")).as[Long].collect().toSeq
      assert(keys.nonEmpty && keys == keys.sorted, name)
    }
    val days = DayStats.distinctDays(hot).select(col("day").cast("string")).as[String].collect().toSeq
    assert(days == Seq("2024-06-01", "2024-06-02"))
  }
}
