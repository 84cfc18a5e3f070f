package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Alerts, AsofJoin, Forecast, Latest, Rollup}

class OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("alertLevels: strict thresholds, at-threshold is normal, latest row classifies") {
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    // location L1 has a stale 99.0 then a latest 20.0 — classification
    // must read ONLY the latest; 35.0 sits exactly AT the hi bound
    // (strict >, so normal); -1.0 crosses lo; 40.0 crosses hi.
    val obs = Seq(
      ("L1", "temp", 99.0, t1, 1L), ("L1", "temp", 20.0, t2, 2L),
      ("L2", "temp", 35.0, t1, 3L), ("L3", "temp", -1.0, t1, 4L),
      ("L4", "temp", 40.0, t1, 5L), ("L5", "unmonitored", 1.0, t1, 6L))
      .toDF("location", "code", "value", "event_timestamp", "event_id")
    val out = Alerts.alertLevels(obs,
        Seq(("temp", 0.0, 35.0, "cold_alert", "heat_alert")))
      .orderBy("location").collect()
    assert(out.map(r => (r.getAs[String]("location"),
      r.getAs[String]("alert_level"))).toSeq ===
      Seq(("L1", "normal"), ("L2", "normal"), ("L3", "cold_alert"),
        ("L4", "heat_alert")))
    // the reference conversions on the L4 row: (40·9/5)+32, 40+273.15
    val l4 = out.find(_.getAs[String]("location") == "L4").get
    assert(l4.getAs[Double]("value_f") === 104.0)
    assert(l4.getAs[Double]("value_k") === 313.15)
  }

  test("compareLocations ranks latest values desc and uses the reference's UPPER median") {
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    // four locations, one stale row; sorted latest values (1, 2, 3, 10):
    // upper median = values[4 // 2] = values[2] = 3 (NOT the interpolated
    // 2.5), avg = 4.0 — the weather_utils.py:78-84 arithmetic exactly
    val obs = Seq(
      ("L1", "temp", 99.0, t1, 1L), ("L1", "temp", 10.0, t2, 2L),
      ("L2", "temp", 1.0, t1, 3L), ("L3", "temp", 3.0, t1, 4L),
      ("L4", "temp", 2.0, t1, 5L), ("L5", "other", 777.0, t1, 6L))
      .toDF("location", "code", "value", "event_timestamp", "event_id")
    val out = graft.ops.Alerts.compareLocations(obs, "temp")
      .orderBy("rank").collect()
    assert(out.map(r => (r.getAs[Long]("rank"), r.getAs[String]("location"))).toSeq ===
      Seq((1L, "L1"), (2L, "L3"), (3L, "L4"), (4L, "L2")))
    assert(out.head.getAs[Double]("median_v") === 3.0)
    assert(out.head.getAs[Double]("avg_v") === 4.0)
    assert(out.head.getAs[Double]("min_v") === 1.0)
    assert(out.head.getAs[Double]("max_v") === 10.0)
  }

  test("keepFirst keeps exactly the rank-1 row under the given ordering") {
    val df = Seq(
      ("a", 3, 30), ("a", 1, 10), ("a", 2, 20),
      ("b", 5, 50), ("b", 5, 51)).toDF("k", "o", "v")
    val out = Latest.keepFirst(df, Seq("k"), Seq(col("o").desc, col("v").desc))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getInt(2))).toSeq === Seq(("a", 30), ("b", 51)))
  }

  test("dedupePerLocationTime keeps the max kafka_timestamp per (location, ts)") {
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    val df = Seq(
      ("a", t1, t1, 1), ("a", t1, t2, 2), // same event ts, later broker ts wins
      ("a", t2, t1, 3)).toDF("location", "event_timestamp", "kafka_timestamp", "v")
    val out = Latest.dedupePerLocationTime(df).orderBy("event_timestamp")
      .collect().map(_.getAs[Int]("v")).toSeq
    assert(out === Seq(2, 3))
  }

  test("latestByMaxBy matches keepFirst on a unique order key") {
    val df = Seq(("a", 1, "x"), ("a", 3, "y"), ("b", 2, "z")).toDF("location", "seq", "v")
    val viaWindow = Latest.keepFirst(df, Seq("location"), Seq(col("seq").desc))
      .orderBy("location").collect().toSeq
    val viaMaxBy = Latest.latestByMaxBy(df, "location", col("seq"))
      .orderBy("location").collect().toSeq
    assert(viaWindow === viaMaxBy)
  }

  test("rollup pins per-bucket constants deterministically (min, not first)") {
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 2.0, "c1", 7.5),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 4.0, "c1", 7.5),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 6.0, "c2", 9.0))
      .toDF("location", "event_timestamp", "value", "code", "latitude")
    val out = graft.ops.Rollup.hourly(df, avgCols = Seq("value"),
      pinnedCols = Seq("latitude")).orderBy("hour").collect()
    assert(out.map(r => (r.getAs[Int]("hour"), r.getAs[Double]("first_latitude"),
      r.getAs[Double]("avg_value"))).toSeq === Seq((10, 7.5, 3.0), (11, 9.0, 6.0)))
  }

  test("modalCode matches modalCodeRanked including deterministic ties") {
    // code 1 and 2 both appear twice for k=1 → tie broken by code asc.
    // A null code counts as a code and sorts last: k=3 ties null with "a"
    // (→ "a"), k=4 has null as its most frequent code (→ null, 2).
    val df = Seq[(Int, String)]((1, "1"), (1, "1"), (1, "2"), (1, "2"), (1, "3"),
      (2, "9"), (2, "9"), (2, "5"),
      (3, null), (3, null), (3, "a"), (3, "a"),
      (4, null), (4, null), (4, "b")).toDF("k", "code")
    val a = Rollup.modalCode(df, col("k"), "k").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val b = Rollup.modalCodeRanked(df, col("k"), "k").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(a === b)
    assert(a === Seq((1, "1", 2L), (2, "9", 2L), (3, "a", 2L), (4, null, 2L)))
    // the rollup carries the same modal code as its own aggregate
    val rolled = Rollup.rollup(df.withColumn("event_timestamp", current_timestamp()),
        col("k"), "k", avgCols = Nil).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("modal_code"), r.getAs[Long]("modal_count"))).toSeq
    assert(rolled === a)
  }

  test("asof join matches the most recent right row at or before each left ts") {
    val right = Seq(
      ("u1", 10L, 100L), ("u1", 20L, 101L), ("u1", 30L, 102L),
      ("u2", 50L, 200L)).toDF("k", "t", "rid")
    val left = Seq(
      ("u1", 5L, 1L),   // before any right row → null match
      ("u1", 20L, 2L),  // equal ts → matches rid 101
      ("u1", 25L, 3L),  // between → matches rid 101
      ("u1", 99L, 4L),  // after all → matches rid 102
      ("u3", 7L, 5L)    // key with no right rows → null
    ).toDF("k", "t", "lid")
    val out = AsofJoin.leftAsof(left, right, "k", "t", "lid", "rid")
      .orderBy("lid").collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      (1L, None), (2L, Some(101L)), (3L, Some(101L)), (4L, Some(102L)), (5L, None)))
  }

  test("approx_count_distinct stays within 5% of exact on the events corpus") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx $approx vs exact $exact")
  }

  test("dayRange keeps only rows inside the closed day interval") {
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-04 23:59:59")),
      ("b", java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
      ("c", java.sql.Timestamp.valueOf("2024-01-07 12:00:00")),
      ("d", java.sql.Timestamp.valueOf("2024-01-08 00:00:01")))
      .toDF("k", "event_timestamp")
    val kept = graft.ops.Recent.dayRange(df, "2024-01-05", "2024-01-07")
      .collect().map(_.getString(0)).sorted
    assert(kept.toSeq === Seq("b", "c"))
  }

  test("record shaping to JSON drops null fields (P14 edge serialization)") {
    val df = Seq(("locA", Some(21.5), None: Option[Int]))
      .toDF("location", "temperature", "weathercode")
    val json = df.select(to_json(struct(col("location"), col("temperature"),
      col("weathercode"))).as("j")).head().getString(0)
    assert(json === """{"location":"locA","temperature":21.5}""")
  }

  test("linear forecast extrapolates an arithmetic series exactly") {
    // location u: values 0,2,4,...,46 at minutes 0,5,...,115 → slope 2/step.
    val rows = (0 until 24).map { i =>
      ("u", java.sql.Timestamp.valueOf(f"2024-01-01 00:${5 * i}%02d:00"), i.toLong, i * 2.0)
    }
    val df = rows.toDF("location", "event_timestamp", "event_id", "value")
    val fc = Forecast.linear(df, lookback = 24, steps = 3)
      .orderBy("step").collect()
    assert(fc.length === 3)
    // v_last = 46, slope = (46 - 0)/23 = 2 → predictions 48, 50, 52.
    assert(fc.map(_.getAs[Double]("pred")).toSeq === Seq(48.0, 50.0, 52.0))
    // 5-minute cadence beyond the last observation (23·5 = 115 min).
    val lastUs = java.sql.Timestamp.valueOf("2024-01-01 01:55:00").getTime * 1000L
    assert(fc.map(_.getAs[Long]("pred_us")).toSeq ===
      Seq(1, 2, 3).map(i => lastUs + i * 5L * 60 * 1000 * 1000))
  }
}
