package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Rollup

case class Obs(location: String, event_timestamp: java.sql.Timestamp,
               event_id: Long, code: String, value: Double)

class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("memory-sink stream materializes incrementally; batch rollup sees late rows on re-query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Obs]
    val query = input.toDF().writeStream
      .format("memory").queryName("obs_stream_test").outputMode("append").start()

    input.addData(Obs("a", ts(0), 1, "x", 1.0), Obs("a", ts(1), 2, "x", 3.0))
    query.processAllAvailable()
    val t1 = spark.table("obs_stream_test")
    assert(t1.count() === 2)
    val roll1 = Rollup.hourly(t1, avgCols = Seq("value")).collect()
    assert(roll1.head.getAs[Double]("avg_value") === 2.0)

    // Late-arriving row: appears on the NEXT query over the same table —
    // the reference's recompute-on-read semantics (SURVEY.md §2.10).
    input.addData(Obs("b", ts(2), 3, "y", 8.0))
    query.processAllAvailable()
    val roll2 = Rollup.hourly(spark.table("obs_stream_test"), avgCols = Seq("value")).collect()
    assert(roll2.head.getAs[Double]("avg_value") === 4.0)
    assert(roll2.head.getAs[Long]("n_rows") === 3L)
    query.stop()
  }

  test("hot/cold path: memory table when materialized, batch fallback when not") {
    import spark.implicits._
    val cold = Seq(Obs("cold", ts(0), 1, "x", 1.0)).toDF()
    // cold: the table does not exist yet
    val before = graft.serve.Paths.hotOrCold(spark, "no_such_table_yet", cold)
    assert(before.head().getAs[String]("location") === "cold")
    // hot: once a stream materializes the name, it wins
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Obs]
    val query = input.toDF().writeStream
      .format("memory").queryName("hotcold_table").outputMode("append").start()
    input.addData(Obs("hot", ts(1), 2, "y", 2.0))
    query.processAllAvailable()
    val after = graft.serve.Paths.hotOrCold(spark, "hotcold_table", cold)
    assert(after.head().getAs[String]("location") === "hot")
    query.stop()
  }

  test("files-backed serve sink equals the memory path, survives a restart, and a checkpointed resume never re-appends") {
    val dir = "/root/testdata/sf0.001"
    val outDir = "target/test_events_files_sink"
    val ckpt = "target/test_events_files_ckpt"
    Seq(outDir, ckpt).foreach(graft.streaming.Ingest.deleteRecursively)
    val viaFiles = graft.streaming.Ingest.materializeEventsFiles(
      spark, dir, outDir, ckpt)
    val viaMemory = graft.streaming.Ingest.materializeEvents(spark, dir)
    // same relation through both backings — the hotOrCold serve contract
    // (one plan-builder downstream) is backing-agnostic
    val key = Seq("event_id", "user_id", "ts_ns")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(key.map(col): _*).collect().toSeq
    assert(viaFiles.columns.sorted.toSeq === viaMemory.columns.sorted.toSeq)
    assert(rows(viaFiles.select(viaMemory.columns.map(col): _*)) ===
      rows(viaMemory))
    val n = viaMemory.count()
    assert(n > 0)
    // restart survival: a FRESH view over the files (what a new session
    // does) serves the same rows — the memory sink's table would be gone
    val reopened = Tables.normalizeEventTs(spark.read.parquet(outDir))
    assert(reopened.count() === n)
    // checkpointed resume over fully-drained input: zero new rows (the
    // file-source offsets are the checkpointed state, so nothing replays)
    val again = graft.streaming.Ingest.materializeEventsFiles(
      spark, dir, outDir, ckpt)
    assert(again.count() === n, "resume re-appended drained input")
  }

  test("rematerializing one corpus replaces its memory-sink table instead of adding one") {
    import spark.implicits._
    val dir = "target/test_sink_corpus"
    Seq((1L, 7L, "view", 1.0, ts(0)), (2L, 7L, "click", 2.0, ts(1)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def sinks() = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_events_stream")).toSeq
    sinks().foreach(spark.catalog.dropTempView)
    (1 to 3).foreach(_ => graft.streaming.Ingest.materializeEvents(spark, dir))
    assert(sinks().size === 1, s"sink tables left behind: ${sinks()}")
  }

  test("streaming dropDuplicatesWithinWatermark removes replayed events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Obs]
    val deduped = input.toDF()
      .withWatermark("event_timestamp", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val query = deduped.writeStream.format("memory")
      .queryName("stream_dedup").outputMode("append").start()
    input.addData(Obs("a", ts(0), 1, "x", 1.0), Obs("a", ts(1), 2, "x", 2.0))
    query.processAllAvailable()
    // replay event 1 (at-least-once delivery) within the watermark window
    input.addData(Obs("a", ts(0), 1, "x", 1.0))
    query.processAllAvailable()
    assert(spark.table("stream_dedup").count() === 2)
    query.stop()
  }

  test("modal code of the streamed table breaks ties deterministically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Obs]
    val query = input.toDF().writeStream
      .format("memory").queryName("obs_stream_modal").outputMode("append").start()
    input.addData(
      Obs("a", ts(0), 1, "z", 1.0), Obs("a", ts(1), 2, "z", 1.0),
      Obs("a", ts(2), 3, "y", 1.0), Obs("a", ts(3), 4, "y", 1.0))
    query.processAllAvailable()
    val modal = Rollup.modalCode(spark.table("obs_stream_modal"),
      hour(col("event_timestamp")), "hour").collect()
    assert(modal.head.getAs[String]("modal_code") === "y") // tie → code asc
    query.stop()
  }
}
