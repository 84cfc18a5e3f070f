package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.ObsState

class StreamOpsSpec extends AnyFunSuite with SparkFixture {

  private def ts(h: Int, m: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("watermarked windowed rollup finalizes a window after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ObsState]
    val query = StreamOps.windowedRollup(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wm_rollup")
      .outputMode("append").start()

    input.addData(
      ObsState("a", ts(10, 5), 1, "x", 2.0),
      ObsState("a", ts(10, 20), 2, "x", 4.0))
    query.processAllAvailable()
    // Window [10:00, 11:00) is still open — nothing emitted in append mode.
    assert(spark.table("wm_rollup").count() === 0)

    // An event at 12:30 advances the watermark to 12:20 > 11:00 → the
    // 10:00 window finalizes on the following trigger.
    input.addData(ObsState("a", ts(12, 30), 3, "x", 9.0))
    query.processAllAvailable()
    input.addData(ObsState("a", ts(12, 45), 4, "y", 1.0))
    query.processAllAvailable()
    val rows = spark.table("wm_rollup").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("n_rows") === 2L)
    assert(rows.head.getAs[Double]("avg_value") === 3.0)
    query.stop()
  }

  test("streaming exact-store screen matches the batch screen across any micro-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val store = graft.ops.Dedup.exact(
      Seq((1L, "the quick fox"), (2L, "lazy  DOG"), (3L, "unique corpus row"))
        .toDF("doc_id", "text"))
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.screenStreamExact(
        input.toDF().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("exact_screen")
      .outputMode("append").start()
    // deliberately TWO micro-batches: the dup of doc 1 (case/whitespace
    // variant) arrives in batch 1, the dup of doc 2 and a novel doc in
    // batch 2 — per-row verdicts must not depend on the split
    input.addData((10L, "THE  quick   fox"))
    query.processAllAvailable()
    input.addData((11L, "lazy dog"), (12L, "never seen before"))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("exact_screen")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("is_new"),
        Option(r.getAs[Any]("canonical_id"))))
    val batch = graft.ops.Dedup.exactAgainst(
        Seq((10L, "THE  quick   fox"), (11L, "lazy dog"),
          (12L, "never seen before")).toDF("doc_id", "text"), store)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("is_new"),
        Option(r.getAs[Any]("canonical_id"))))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.map(t => (t._1, t._2)).toSeq ===
      Seq((10L, 0L), (11L, 0L), (12L, 1L)))
  }

  test("streaming sessionization merges gap-close events and matches the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ObsState]
    val query = StreamOps.sessionizeStream(input.toDF(), gapMinutes = 30,
        watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()

    // two events 20 min apart (one session), then a 40-min gap (new session)
    input.addData(
      ObsState("a", ts(10, 0), 1, "x", 1.0),
      ObsState("a", ts(10, 20), 2, "x", 2.0),
      ObsState("a", ts(11, 0), 3, "x", 3.0))
    query.processAllAvailable()
    // watermark 11:00−30min = 10:30 — no session end (10:50, 11:30) passed
    assert(spark.table("sess_stream").count() === 0)
    // advance the watermark beyond both session ends
    input.addData(ObsState("b", ts(13, 0), 4, "x", 4.0))
    query.processAllAvailable()
    input.addData(ObsState("b", ts(13, 1), 5, "x", 4.0))
    query.processAllAvailable()
    val streamed = spark.table("sess_stream")
      .select("location", "session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the batch operator on the same rows must produce the same finalized
    // sessions (location a only — b's session is still open)
    val batch = graft.ops.Sequences.sessionize(
        Seq(("a", ts(10, 0)), ("a", ts(10, 20)), ("a", ts(11, 0)))
          .toDF("location", "event_timestamp"), gapMinutes = 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed.size === 2 &&
      streamed.map(_._4).toSeq.sorted === Seq(1L, 2L))
    query.stop()
  }

  test("flatMapGroupsWithState change stream emits only genuine advances") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ObsState]
    val query = StreamOps.latestChanges(input.toDS())
      .writeStream.format("memory").queryName("latest_changes")
      .outputMode("append").start()

    input.addData(ObsState("a", ts(10, 0), 1, "x", 1.0))
    query.processAllAvailable()
    input.addData(ObsState("a", ts(9, 0), 2, "y", 2.0)) // stale → no emission
    query.processAllAvailable()
    input.addData(ObsState("a", ts(11, 0), 3, "z", 3.0)) // advance → emitted
    query.processAllAvailable()
    val emitted = spark.table("latest_changes").collect()
      .map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(emitted === Seq(1L, 3L))
    query.stop()
  }

  test("watermarked stream-stream interval join pairs purchases with recent views") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val views = MemoryStream[ObsState]
    val purchases = MemoryStream[ObsState]
    val v = views.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("v_loc"), col("event_timestamp").as("v_ts"),
        col("event_id").as("view_id"))
    val p = purchases.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("p_loc"), col("event_timestamp").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = p.join(v,
      col("p_loc") === col("v_loc") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val query = joined.writeStream.format("memory")
      .queryName("ss_join").outputMode("append").start()

    views.addData(
      ObsState("a", ts(10, 0), 1, "v", 0), // 25 min before → matches
      ObsState("a", ts(9, 0), 2, "v", 0),  // 85 min before → outside window
      ObsState("b", ts(10, 20), 3, "v", 0)) // other key
    purchases.addData(ObsState("a", ts(10, 25), 9, "p", 0))
    query.processAllAvailable()

    val rows = spark.table("ss_join").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))).toSet
    assert(rows === Set((9L, 1L)))
    query.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val views = MemoryStream[ObsState]
    val purchases = MemoryStream[ObsState]
    val v = views.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("v_loc"), col("event_timestamp").as("v_ts"),
        col("event_id").as("view_id"))
    val p = purchases.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("p_loc"), col("event_timestamp").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = p.join(v,
      col("p_loc") === col("v_loc") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
      "left_outer")
    val query = joined.writeStream.format("memory")
      .queryName("ss_left_join").outputMode("append").start()

    views.addData(ObsState("a", ts(10, 0), 1, "v", 0))
    purchases.addData(
      ObsState("a", ts(10, 25), 9, "p", 0),  // matched by view 1
      ObsState("c", ts(10, 30), 10, "p", 0)) // no view at all
    query.processAllAvailable()
    // the unmatched row may not emit until the watermark passes its join
    // window — push the watermark far ahead on both sides
    views.addData(ObsState("z", ts(14, 0), 98, "v", 0))
    purchases.addData(ObsState("z", ts(14, 0), 99, "p", 0))
    query.processAllAvailable()
    views.addData(ObsState("z2", ts(15, 0), 96, "v", 0))
    purchases.addData(ObsState("z2", ts(15, 0), 97, "p", 0))
    query.processAllAvailable()

    val rows = spark.table("ss_left_join").collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        Option(r.getAs[java.lang.Long]("view_id")).map(_.toLong)))
      .toSet
    assert(rows.contains((9L, Some(1L))), s"matched pair missing: $rows")
    assert(rows.contains((10L, None)),
      s"unmatched purchase must emit with null view after watermark: $rows")
    query.stop()
  }

  test("stream-stream interval join evicts window-expired state as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val views = MemoryStream[ObsState]
    val purchases = MemoryStream[ObsState]
    val v = views.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("v_loc"), col("event_timestamp").as("v_ts"),
        col("event_id").as("view_id"))
    val p = purchases.toDF().withWatermark("event_timestamp", "10 minutes")
      .select(col("location").as("p_loc"), col("event_timestamp").as("p_ts"),
        col("event_id").as("purchase_id"))
    val joined = p.join(v,
      col("p_loc") === col("v_loc") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val query = joined.writeStream.format("memory")
      .queryName("ss_join_evict").outputMode("append").start()

    def stateRows(): Long =
      Option(query.lastProgress).toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal)).sum

    // batch 1: 40 views around 10:00 + a matching purchase
    views.addData((0 until 40).map(i => ObsState("a", ts(10, i), 100L + i, "v", 0)): _*)
    purchases.addData(ObsState("a", ts(10, 30), 1L, "p", 0))
    query.processAllAvailable()
    val after1 = stateRows()

    // batch 2: four hours later — the advancing watermark (14:39 − 10 min
    // = 14:29; join-state retention = wm − 30 min window) must EVICT every
    // batch-1 row: none can match a future purchase at or above the wm
    views.addData((0 until 40).map(i => ObsState("a", ts(14, i), 200L + i, "v", 0)): _*)
    purchases.addData(ObsState("a", ts(14, 30), 2L, "p", 0))
    query.processAllAvailable()
    // batch 3: advance the wm past batch 2's window too
    views.addData(ObsState("a", ts(18, 0), 300L, "v", 0))
    purchases.addData(ObsState("a", ts(18, 10), 3L, "p", 0))
    query.processAllAvailable()
    val after3 = stateRows()
    println(s"STATE after1=$after1 after3=$after3")

    // emission is unaffected by eviction (pairs emit on arrival)
    val pairs = spark.table("ss_join_evict").count()
    assert(pairs === 31L + 31L + 1L,
      s"expected 63 pairs (31 per windowed purchase + the late pair), got $pairs")
    // the state store holds window-bounded rows, not the whole stream:
    // batch-1 and batch-2 rows are gone once the wm passes their window
    assert(after3 < after1,
      s"state did not shrink: $after1 -> $after3 — watermark eviction broken")
    assert(after3 <= 2L,
      s"state holds more than the live window after eviction: $after3 rows")
    query.stop()
  }

  test("stateful latest-per-key updates across batches and survives out-of-order input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ObsState]
    val query = StreamOps.latestPerKeyStateful(input.toDS())
      .writeStream.format("memory").queryName("latest_state")
      .outputMode(StreamOps.LatestOutputMode).start()

    input.addData(ObsState("a", ts(10, 0), 1, "x", 1.0))
    query.processAllAvailable()
    input.addData(
      ObsState("a", ts(11, 0), 2, "y", 2.0),
      ObsState("a", ts(9, 0), 3, "z", 3.0), // out-of-order: must NOT win
      ObsState("b", ts(8, 0), 4, "w", 4.0))
    query.processAllAvailable()

    // memory sink in update mode appends updated rows per batch; the last
    // row per key is the current state.
    val current = spark.table("latest_state").collect()
      .groupBy(_.getAs[String]("location"))
      .map { case (k, rows) => k -> rows.last.getAs[Long]("event_id") }
    assert(current === Map("a" -> 2L, "b" -> 4L))
    query.stop()
  }

  test("streaming funnel advances per-user step state and matches the batch funnel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.FunnelEvent
    val steps = Seq("view", "cart", "buy")
    val input = MemoryStream[FunnelEvent]
    val query = StreamOps.funnelStream(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()

    // batch 1: u1's cart arrives BEFORE its view in the batch (sorted
    // internally); u2 carts before ever viewing (must not count — strict
    // ordering is the whole point of a funnel); u3 views.
    input.addData(
      FunnelEvent(1L, "cart", ts(10, 10)),
      FunnelEvent(1L, "view", ts(10, 0)),
      FunnelEvent(2L, "cart", ts(10, 5)),
      FunnelEvent(3L, "view", ts(10, 2)))
    query.processAllAvailable()
    // batch 2: u1 buys; u2 finally views (its earlier cart stays rejected
    // in BOTH engines — it precedes the view); u3 carts at the SAME
    // timestamp as its view (strict > rejects).
    input.addData(
      FunnelEvent(1L, "buy", ts(11, 0)),
      FunnelEvent(2L, "view", ts(10, 30)),
      FunnelEvent(3L, "cart", ts(10, 2)))
    query.processAllAvailable()
    // batch 3: u2 and u3 cart strictly after their views.
    input.addData(
      FunnelEvent(2L, "cart", ts(10, 40)),
      FunnelEvent(3L, "cart", ts(10, 20)))
    query.processAllAvailable()

    val hits = spark.table("funnel_stream").as[StreamOps.FunnelHit].collect()
    assert(hits.map(h => (h.user_id, h.step, h.lag_us)).toSet === Set(
      (1L, 1L, 0L), (1L, 2L, 600000000L), (1L, 3L, 3000000000L),
      (2L, 1L, 0L), (2L, 2L, 600000000L),
      (3L, 1L, 0L), (3L, 2L, 1080000000L)))

    // the emitted hits aggregate EXACTLY to the batch funnel on all rows
    val allRows = Seq(
      (1L, "view", ts(10, 0)), (1L, "cart", ts(10, 10)), (1L, "buy", ts(11, 0)),
      (2L, "cart", ts(10, 5)), (2L, "view", ts(10, 30)), (2L, "cart", ts(10, 40)),
      (3L, "view", ts(10, 2)), (3L, "cart", ts(10, 2)), (3L, "cart", ts(10, 20))
    ).toDF("user_id", "event_type", "ts")
    val batch = graft.ops.EventAnalytics.funnel(allRows, steps)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val streamedAgg = hits.groupBy(_.step).map { case (s, hs) =>
      (s, hs.length.toLong, hs.map(_.lag_us).sum)
    }.toSet
    assert(streamedAgg === batch)
    query.stop()
  }

  test("streaming retention credits each (user, period) once and matches the batch cohorts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.FunnelEvent
    def tsd(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d $h%02d:00:00")
    val input = MemoryStream[FunnelEvent]
    val query = StreamOps.retentionStream(input.toDS(), bucketDays = 7)
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode("append").start()

    // batch 1: u1 twice on day 0 (one credit), u2 on day 0
    input.addData(
      FunnelEvent(1L, "view", tsd(0, 9)), FunnelEvent(1L, "view", tsd(0, 17)),
      FunnelEvent(2L, "view", tsd(0, 12)))
    query.processAllAvailable()
    // batch 2: u1 in period 1 (day 8); u2 on day 3 — same period 0, no hit
    input.addData(
      FunnelEvent(1L, "view", tsd(8, 9)), FunnelEvent(2L, "view", tsd(3, 9)))
    query.processAllAvailable()
    // batch 3: both active in period 2 (days 15/14); period 1 gaps stay gaps
    input.addData(
      FunnelEvent(1L, "view", tsd(15, 9)), FunnelEvent(2L, "view", tsd(14, 9)))
    query.processAllAvailable()

    val hits = spark.table("retention_stream").as[StreamOps.RetentionHit].collect()
    val streamedAgg = hits.groupBy(h => (h.cohort_dd, h.offset_periods))
      .map { case ((dd, off), hs) =>
        (java.time.LocalDate.ofEpochDay(dd).toString, off, hs.length.toLong)
      }.toSet
    val allRows = Seq(
      (1L, tsd(0, 9)), (1L, tsd(0, 17)), (2L, tsd(0, 12)),
      (1L, tsd(8, 9)), (2L, tsd(3, 9)),
      (1L, tsd(15, 9)), (2L, tsd(14, 9))
    ).toDF("user_id", "ts")
    val batch = graft.ops.EventAnalytics.retentionCohorts(allRows, bucketDays = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedAgg === batch)
    assert(batch === Set(("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L),
      ("2024-01-01", 2L, 2L)))
    query.stop()
  }

  test("streaming SCD2 closes validity intervals exactly like the batch history") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.ScdEvent
    val input = MemoryStream[ScdEvent]
    val query = StreamOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()

    // batch 1: u1 opens at 1.0 (in-batch out of order), re-asserts 1.0
    input.addData(
      ScdEvent(1L, ts(10, 30), 2, 1.0), // re-assertion, later
      ScdEvent(1L, ts(10, 0), 1, 1.0))
    query.processAllAvailable()
    // batch 2: u1 changes to 2.0 (closes [10:00, 11:00) @ 1.0); u2 opens
    input.addData(
      ScdEvent(1L, ts(11, 0), 3, 2.0), ScdEvent(2L, ts(11, 15), 4, 7.0))
    query.processAllAvailable()
    // batch 3: u1 changes again; u2 re-asserts (no change)
    input.addData(
      ScdEvent(1L, ts(12, 0), 5, 3.0), ScdEvent(2L, ts(12, 30), 6, 7.0))
    query.processAllAvailable()

    val streamed = spark.table("scd2_stream").as[StreamOps.ScdSpan].collect()
      .map(s => (s.user_id, s.valid_from_us, s.valid_to_us, s.value)).toSet
    val allRows = Seq(
      (1L, ts(10, 0), 1L, 1.0), (1L, ts(10, 30), 2L, 1.0),
      (1L, ts(11, 0), 3L, 2.0), (2L, ts(11, 15), 4L, 7.0),
      (1L, ts(12, 0), 5L, 3.0), (2L, ts(12, 30), 6L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val batchClosed = graft.ops.EventAnalytics.scd2(allRows)
      .filter(!org.apache.spark.sql.functions.col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed === batchClosed)
    // exactly the two closed u1 intervals; open rows live only in state
    assert(streamed.map(_._1) === Set(1L) && streamed.size === 2)
    query.stop()
  }

  test("streaming SCD2 treats a re-asserted NaN metric as unchanged, like the batch <=> test") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.ScdEvent
    val input = MemoryStream[ScdEvent]
    val query = StreamOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_nan_stream")
      .outputMode("append").start()
    // NaN opens, NaN re-asserts (MUST NOT open a new span — Spark SQL's
    // <=> says NaN = NaN, while Scala's != would say they differ), then a
    // real change closes the one NaN span.
    input.addData(ScdEvent(3L, ts(10, 0), 1, Double.NaN))
    query.processAllAvailable()
    input.addData(ScdEvent(3L, ts(11, 0), 2, Double.NaN))
    query.processAllAvailable()
    input.addData(ScdEvent(3L, ts(12, 0), 3, 5.0))
    query.processAllAvailable()
    val streamed = spark.table("scd2_nan_stream").as[StreamOps.ScdSpan].collect()
      .map(s => (s.user_id, s.valid_from_us, s.valid_to_us,
        java.lang.Double.doubleToLongBits(s.value))).toSet
    val allRows = Seq(
      (3L, ts(10, 0), 1L, Double.NaN), (3L, ts(11, 0), 2L, Double.NaN),
      (3L, ts(12, 0), 3L, 5.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val batchClosed = graft.ops.EventAnalytics.scd2(allRows)
      .filter(!org.apache.spark.sql.functions.col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(streamed === batchClosed)
    assert(streamed.size === 1, s"exactly one closed NaN span: $streamed")
    query.stop()
  }

  test("streaming SCD2 treats a 0.0 re-assertion after -0.0 as unchanged, like the batch <=> test") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.ScdEvent
    val input = MemoryStream[ScdEvent]
    val query = StreamOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_zero_stream")
      .outputMode("append").start()
    // -0.0 opens, 0.0 re-asserts (MUST NOT open a new span — Spark SQL's
    // <=> / genEqual says -0.0 = 0.0, while Double.compare splits them),
    // then a real change closes the one span.
    input.addData(ScdEvent(4L, ts(10, 0), 1, -0.0))
    query.processAllAvailable()
    input.addData(ScdEvent(4L, ts(11, 0), 2, 0.0))
    query.processAllAvailable()
    input.addData(ScdEvent(4L, ts(12, 0), 3, 5.0))
    query.processAllAvailable()
    val streamed = spark.table("scd2_zero_stream").as[StreamOps.ScdSpan].collect()
      .map(s => (s.user_id, s.valid_from_us, s.valid_to_us, s.value)).toSet
    val allRows = Seq(
      (4L, ts(10, 0), 1L, -0.0), (4L, ts(11, 0), 2L, 0.0),
      (4L, ts(12, 0), 3L, 5.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val batchClosed = graft.ops.EventAnalytics.scd2(allRows)
      .filter(!org.apache.spark.sql.functions.col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed === batchClosed)
    assert(streamed.size === 1, s"exactly one closed span across the ±0.0 run: $streamed")
    query.stop()
  }

  test("streaming incremental dedup screens each micro-batch against the static signature store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.Dedup
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different content about spark engines here"))
      .toDF("doc_id", "text")
    // The store: built once, as a deployment would materialize it.
    val corpusSig = Dedup.minhashSignature(corpus, 16).cache()

    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    val query = StreamOps.screenAgainst(
        input.toDF().toDF("doc_id", "text"), corpusSig)(
      Dedup.minhashLshPairsAgainst(_, corpusSig),
      (pairs, batchId) => collected.synchronized {
        collected(batchId) = pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }).start()

    // Batch with a dup of corpus doc 100 and an unrelated doc.
    input.addData((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "nothing like anything stored before at all"))
    query.processAllAvailable()
    // Second batch: a replay of corpus doc 101 under a new id (an 8-word
    // doc has only 6 shingles, so a one-word edit sits near the 16-hash
    // LSH detection floor — an exact replay keeps the fixture
    // deterministic; near-dup sensitivity is covered by DedupSpec).
    input.addData((3L, "completely different content about spark engines here"))
    query.processAllAvailable()
    query.stop()

    val perBatch = collected.synchronized(collected.toMap)
    assert(perBatch.values.toSeq.map(_.filter(_._1 == 1L)).exists(_ == Set((1L, 100L))),
      s"batch-1 exact dup not flagged: $perBatch")
    assert(perBatch.values.flatten.toSet.contains((3L, 101L)),
      s"batch-2 replayed dup not flagged: $perBatch")
    // Doc 2 shares nothing with the corpus — never flagged.
    assert(!perBatch.values.flatten.exists(_._1 == 2L))
  }

  test("streaming semantic screen drops stored ε-ball replays per micro-batch, stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.EmbeddingSim
    // The AnnRecallSpec incremental fixture: four identical-vector groups,
    // survivors = min id per group; one genuinely novel direction.
    def block(g: Int) = Array.tabulate(64)(d => if (d / 16 == g) 1.0f else 0.0f)
    val store = (0 until 12).map(id => (id.toLong, block(id / 3)))
      .toDF("vec_id", "embedding")
    val cents = EmbeddingSim.kmeansCentroids(store, 2, 2).cache()
    val surv = EmbeddingSim.semanticSurvivors(store, cents, threshold = 0.9).cache()
    val novel = Array.tabulate(64)(d =>
      if (d % 16 == 15) (if (d / 16 % 2 == 0) 1.0f else -1.0f) else 0.0f)

    val input = MemoryStream[(Long, Array[Float])]
    val collected = scala.collection.mutable.Map[Long, Map[Long, Long]]()
    val query = StreamOps.screenAgainst(
        input.toDF().toDF("vec_id", "embedding"), cents, surv)(
      EmbeddingSim.semanticDedupAgainst(_, cents, surv, threshold = 0.9),
      (kept, batchId) => collected.synchronized {
        collected(batchId) = kept.collect()
          .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("is_kept")).toMap
      }).start()

    val b1 = Seq((100L, block(0)), (101L, block(1)), (104L, novel))
    input.addData(b1: _*)
    query.processAllAvailable()
    val b2 = Seq((102L, block(2)), (103L, block(3)))
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def direct(rows: Seq[(Long, Array[Float])]): Map[Long, Long] =
      EmbeddingSim.semanticDedupAgainst(
          rows.toDF("vec_id", "embedding"), cents, surv, threshold = 0.9)
        .collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("is_kept")).toMap
    val perBatch = collected.synchronized(collected.toMap)
    // stream ≡ batch: each micro-batch's verdicts equal the batch operator
    // applied to exactly that batch's rows against the same static store
    assert(perBatch(0L) === direct(b1), s"batch 0 diverged: $perBatch")
    assert(perBatch(1L) === direct(b2), s"batch 1 diverged: $perBatch")
    // and the semantics are the expected ones: replays of stored ε-ball
    // content drop, the novel direction survives
    assert(perBatch(0L) === Map(100L -> 0L, 101L -> 0L, 104L -> 1L))
    assert(perBatch(1L) === Map(102L -> 0L, 103L -> 0L))
  }

  test("streaming exact dedup drops fingerprint replays, keeps genuinely new docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val query = StreamOps.dedupExactStream(
        input.toDF().toDF("doc_id", "event_timestamp", "text"),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("stream_exact_dedup")
      .outputMode("append").start()

    input.addData(
      (1L, ts(10, 0), "The quick brown fox"),
      (2L, ts(10, 1), "a completely different document"))
    query.processAllAvailable()
    input.addData(
      // replay under a new id, within the watermark window → dropped
      (3L, ts(10, 2), "The quick brown fox"),
      // case/whitespace variant: the SAME fingerprint by the normalize
      // contract (exact dedup is normalization-insensitive) → dropped
      (4L, ts(10, 3), "the  QUICK   brown fox"),
      // one token differs → genuinely new content → kept
      (5L, ts(10, 4), "The quick brown foxes"))
    query.processAllAvailable()

    val kept = spark.table("stream_exact_dedup").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 2L, 5L))
    query.stop()
  }

  // Pins dropDuplicatesWithinWatermark's MEASURED eviction arithmetic on
  // this Spark (the stream_sessionize convention — stream_dedup_watermark's
  // oracle claim "nothing evicts mid-replay" rests on these boundaries):
  //   state expiry  = first-seen event time + delay;
  //   eviction      when expiry <= watermark (INCLUSIVE at equality —
  //                  a re-arrival at the exact boundary RE-EMITS);
  //   late arrivals (event time below the watermark, fingerprint never
  //                  seen) are dropped, never emitted.
  test("streaming exact dedup evicts fingerprint state at first-seen+delay <= wm, re-emits after") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val query = StreamOps.dedupExactStream(
        input.toDF().toDF("doc_id", "event_timestamp", "text"),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("stream_dedup_evict")
      .outputMode("append").start()

    // b1: X and Y first seen at 10:00 (expiry 10:10); wm after b1 = 09:50
    input.addData((1L, ts(10, 0), "X"), (2L, ts(10, 0), "Y"))
    query.processAllAvailable()
    // b2: W at 10:18 (expiry 10:28), B at 10:11 (expiry 10:21),
    //     Z at 10:31 → wm after b2 = 10:21
    input.addData((3L, ts(10, 18), "W"), (4L, ts(10, 11), "B"),
      (5L, ts(10, 31), "Z"))
    query.processAllAvailable()
    // b3 under wm = 10:21:
    //   X re-arrival (expiry 10:10 <  wm) → state evicted → RE-EMITTED
    //   B re-arrival (expiry 10:21 == wm) → evicted at EQUALITY → re-emitted
    //   W re-arrival (expiry 10:28 >  wm) → state live → dropped
    //   L first seen at 10:05 (below wm)  → late row, dropped — NOT emitted
    input.addData((6L, ts(10, 25), "X"), (7L, ts(10, 25), "W"),
      (8L, ts(10, 25), "B"), (9L, ts(10, 5), "L"))
    query.processAllAvailable()

    val got = spark.table("stream_dedup_evict").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L))
    query.stop()
  }

  test("streaming ppx screen scores each micro-batch against the frozen LM, stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.TextStats
    // seed corpus: "a b" transitions dominate, "z" never appears
    val model = TextStats.ngramLmModel(Seq(
      (1L, "a b a b a b"), (2L, "a b c"), (3L, "c a b")
    ).toDF("doc_id", "text"))
    val collected = scala.collection.mutable.Map[Long, Map[Long, Row]]()
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.screenAgainst(
        input.toDF().toDF("doc_id", "text"), model)(
      TextStats.ngramPerplexityAgainst(_, model, maxAvgBitsX100 = 1200),
      (scored, batchId) => collected.synchronized {
        collected(batchId) = scored.collect()
          .map(r => r.getAs[Long]("doc_id") -> r).toMap
      }).start()

    val b1 = Seq((10L, "a b a b"), (11L, "z z z"))
    input.addData(b1: _*)
    query.processAllAvailable()
    val b2 = Seq((12L, "a b z c"), (13L, "q"))
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def direct(rows: Seq[(Long, String)]): Map[Long, Row] =
      TextStats.ngramPerplexityAgainst(rows.toDF("doc_id", "text"), model,
          maxAvgBitsX100 = 1200)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val perBatch = collected.synchronized(collected.toMap)
    for ((bid, rows) <- Seq(0L -> b1, 1L -> b2)) {
      val d = direct(rows)
      assert(perBatch(bid).keySet === d.keySet)
      for ((id, r) <- perBatch(bid))
        assert(r.toSeq === d(id).toSeq, s"batch $bid doc $id diverged")
    }
    // semantics: the in-model doc scores on all transitions and keeps;
    // the all-OOV doc scores nothing (n_scored 0, avg 0 → trivially kept
    // — OOV gating is the vocab-coverage operator's job); the mixed doc
    // scores only its model-known transitions
    val s10 = perBatch(0L)(10L)
    assert(s10.getAs[Long]("n_trans") === 3L && s10.getAs[Long]("n_scored") === 3L)
    val s11 = perBatch(0L)(11L)
    assert(s11.getAs[Long]("n_trans") === 2L && s11.getAs[Long]("n_scored") === 0L)
    val s12 = perBatch(1L)(12L)
    assert(s12.getAs[Long]("n_trans") === 3L && s12.getAs[Long]("n_scored") === 1L)
    assert(perBatch(1L)(13L).getAs[Long]("n_trans") === 0L)
  }

  test("streaming frozen-vocab encode tokenizes each micro-batch against the pinned model, stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.TextStats
    val model = TextStats.unigramVocabModel(
      Seq((1L, "ab ab b a")).toDF("doc_id", "text"),
      keepSchedule = Seq(1), maxPieceLen = 2, maxWordLen = 4,
      minSeedFreq = 1L, seedMax = 10)
    val collected = scala.collection.mutable.Map[Long, Map[Long, Row]]()
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.screenAgainst(
        input.toDF().toDF("doc_id", "text"), model)(
      TextStats.unigramEncodeAgainst(_, model, maxPieceLen = 2, maxWordLen = 4),
      (encoded, batchId) => collected.synchronized {
        collected(batchId) = encoded.collect()
          .map(r => r.getAs[Long]("doc_id") -> r).toMap
      }).start()

    val b1 = Seq((10L, "ab ab"), (11L, "xq ab"))
    input.addData(b1: _*)
    query.processAllAvailable()
    val b2 = Seq((12L, "ababa b"))
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def direct(rows: Seq[(Long, String)]): Map[Long, Row] =
      TextStats.unigramEncodeAgainst(rows.toDF("doc_id", "text"), model,
          maxPieceLen = 2, maxWordLen = 4)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val perBatch = collected.synchronized(collected.toMap)
    for ((bid, rows) <- Seq(0L -> b1, 1L -> b2)) {
      val d = direct(rows)
      assert(perBatch(bid).keySet === d.keySet)
      for ((id, r) <- perBatch(bid))
        assert(r.toSeq === d(id).toSeq, s"batch $bid doc $id diverged")
    }
    // in-model doc segments under the frozen vocab; the unsegmentable
    // word falls back per char; the over-length word falls back whole
    assert(perBatch(0L)(10L).getAs[Long]("n_tokens") === 2L)
    assert(perBatch(0L)(11L).getAs[Long]("n_tokens") === 3L)
    assert(perBatch(1L)(12L).getAs[Long]("n_tokens") === 6L)
  }

  test("streaming quality screen scores each micro-batch against the pinned weights, stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_distinct, size, when}
    import graft.ops.TextStats
    val seed = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha alpha alpha alpha"),
      (3L, "zeta eta theta iota"), (4L, "zeta zeta zeta zeta")
    ).toDF("doc_id", "text")
    val t = TextStats.tokens(org.apache.spark.sql.functions.col("text"))
    val weights = TextStats.qualityModelTrain(
      seed.select($"doc_id", $"text",
        when(size(array_distinct(t)) * 2 >= size(t), 1L)
          .otherwise(-1L).as("y")), iters = 4)
    val collected = scala.collection.mutable.Map[Long, Map[Long, Row]]()
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.screenAgainst(
        input.toDF().toDF("doc_id", "text"), weights)(
      TextStats.qualityScoreAgainst(_, weights),
      (scored, batchId) => collected.synchronized {
        collected(batchId) = scored.collect()
          .map(r => r.getAs[Long]("doc_id") -> r).toMap
      }).start()

    val b1 = Seq((10L, "alpha beta gamma"), (11L, "zeta zeta zeta"))
    input.addData(b1: _*)
    query.processAllAvailable()
    val b2 = Seq((12L, ""))
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()

    def direct(rows: Seq[(Long, String)]): Map[Long, Row] =
      TextStats.qualityScoreAgainst(rows.toDF("doc_id", "text"), weights)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val perBatch = collected.synchronized(collected.toMap)
    for ((bid, rows) <- Seq(0L -> b1, 1L -> b2)) {
      val d = direct(rows)
      assert(perBatch(bid).keySet === d.keySet)
      for ((id, r) <- perBatch(bid))
        assert(r.toSeq === d(id).toSeq, s"batch $bid doc $id diverged")
    }
    // the featureless doc flows through with margin 0, rejected
    assert(perBatch(1L)(12L).getAs[Long]("margin") === 0L)
    assert(perBatch(1L)(12L).getAs[Long]("q_keep") === 0L)
  }
}
