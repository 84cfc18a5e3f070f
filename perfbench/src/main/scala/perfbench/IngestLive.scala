package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.ingest.Parse
import graft.ops.Latest
import graft.serve.Paths
import graft.streaming.Ingest

/** ingest_live: an open-loop crawler writes Kafka-shaped frames into a
  * watched directory, one crawl cycle (a reading from every station) per
  * tick; the engine parses the file stream into a named hot table while one
  * reader polls the latest reading per station. See README.md. */
final class IngestLive(ctx: Ctx) extends Workload {
  val spec = WeatherSpec(ctx.seed, locations = WeatherSpec.ReferenceLocations, steps = 1000000,
    errorShare = 0.02)
  /** Records/s ladder; freshness is reported at `refRate`. */
  val ladder: Seq[Double] = Seq(500.0, 1000.0, 2000.0)
  val refRate = 1000.0
  val rungShare: Seq[Double] = Seq(0.25, 0.5, 0.25)
  val limitP99Ms = 2000.0
  /** Crawl cycles written before the stream starts (the table's backfill). */
  val backfillCycles = 12
  val hotTable = "live_hot"
  private val watched = ctx.work.resolve("input/live")
  private val staging = ctx.work.resolve("input/live_staging")
  private var query: StreamingQuery = _
  private var nextCycle = 0
  private var setups = 0
  private val progress = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]
  private val progressListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add((System.currentTimeMillis(), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def params: Seq[(String, Any)] = spec.params ++ Seq(
    "records_per_cycle" -> spec.locations, "ladder_records_per_s" -> ladder,
    "reference_rate_per_s" -> refRate, "rung_share" -> rungShare,
    "freshness_p99_limit_ms" -> limitP99Ms, "backfill_cycles" -> backfillCycles,
    "trigger" -> "as fast as possible (ProcessingTime 0)", "sink" -> "memory, append")

  def generate(spark: SparkSession): Unit = ()

  /** One crawl cycle as a JSON-lines file of Kafka frames; returns its
    * creation stamp. Written beside the watched directory and moved in,
    * so the stream never sees a partial file. */
  private def writeCycle(i: Int): Long = {
    val created = System.currentTimeMillis()
    val enc = Base64.getEncoder
    val sb = new StringBuilder(spec.locations * 400)
    (0 until spec.locations).foreach { l =>
      spec.frames(l, i, i.toLong * spec.locations * 2 + l * 2, created).foreach { f =>
        sb.append("{\"key\":\"").append(enc.encodeToString(f.key))
          .append("\",\"value\":\"").append(enc.encodeToString(f.value))
          .append("\",\"topic\":\"weather\",\"partition\":").append(f.partition)
          .append(",\"offset\":").append(f.offset)
          .append(",\"timestamp\":\"").append(f.timestamp.toInstant)
          .append("\",\"timestampType\":0}\n")
      }
    }
    val tmp = staging.resolve(f"cycle-$i%08d.json")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, watched.resolve(f"cycle-$i%08d.json"), StandardCopyOption.ATOMIC_MOVE)
    created
  }

  private def cold(spark: SparkSession): DataFrame =
    Parse.fromKafka(spark.read.schema(Parse.KafkaSourceSchema).json(watched.toString))

  /** The reader's answer: latest event id per station. */
  def read(spark: SparkSession): DataFrame =
    Latest.latestPerLocation(Gen.observations(Paths.hotOrCold(spark, hotTable, cold(spark))))
      .select(col("location"), col("event_id"))

  def setup(spark: SparkSession): Unit = {
    setups += 1
    Seq(watched, staging).foreach { d => Ingest.deleteRecursively(d.toString); Files.createDirectories(d) }
    (0 until backfillCycles).foreach(writeCycle)
    nextCycle = backfillCycles
    spark.streams.addListener(progressListener)
    query = Parse.fromKafka(spark.readStream.schema(Parse.KafkaSourceSchema).json(watched.toString))
      .writeStream.format("memory").queryName(hotTable).outputMode("append")
      .option("checkpointLocation", ctx.work.resolve(s"checkpoints/live-$setups").toString)
      .trigger(Trigger.ProcessingTime(0L)).start()
    query.processAllAvailable()
  }

  def warmup(spark: SparkSession): Unit = (1 to 3).foreach(_ => read(spark).collect())

  def teardown(spark: SparkSession): Unit = {
    query.stop(); spark.streams.removeListener(progressListener)
  }

  /** The memory sink's rows, at the parsed row width (Spark's estimate). */
  def hotMb(spark: SparkSession): Double =
    spark.table(hotTable).queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1048576.0

  def measure(spark: SparkSession, tracer: Tracer, listener: Option[OpListener]): Measured = {
    progress.clear()
    val firstCycle = nextCycle
    val created = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
    val cycleRung = new java.util.concurrent.ConcurrentHashMap[Int, Integer]
    // Reader: poll until told to stop; each answer is (issued ns, answered
    // ns, answered wall ms, latest index per station).
    @volatile var stop = false
    val answers = new ConcurrentLinkedQueue[(Long, Long, Long, Array[Int])]
    val readerErrors = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      var id = 0L
      while (!stop) {
        id += 1
        val issued = System.nanoTime()
        try {
          val latest = Array.fill(spec.locations)(-1)
          tracer.span("reader", id) { root =>
            if (tracer.on) spark.sparkContext.setJobGroup(s"reader#$id", "reader")
            val df = tracer.span("plan.build", id, root)(_ => read(spark))
            tracer.span("plan.optimize", id, root)(_ => df.queryExecution.executedPlan)
            val rows = tracer.span("exec.latest_all", id, root)(_ => df.collect())
            rows.foreach { r =>
              val l = r.getString(0).stripPrefix("loc-").toInt
              latest(l) = (r.getLong(1) - l.toLong * spec.steps).toInt
            }
            if (tracer.on) spark.sparkContext.clearJobGroup()
          }
          answers.add((issued, System.nanoTime(), System.currentTimeMillis(), latest))
        } catch { case _: Throwable => readerErrors.incrementAndGet() }
      }
    }, "perfbench-reader")
    val cpu0 = Probe.cpuNs(); val wall0 = System.nanoTime()
    val comp0 = Probe.compiles(); val compNs0 = Probe.compileNs()
    reader.start()
    // Writer: open loop, one crawl cycle per tick, on this thread.
    val late = new ConcurrentLinkedQueue[Double]
    val backlog = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def ingested: Long = progress.asScala.map(_._2).sum
    def written: Long = (nextCycle - firstCycle).toLong * spec.locations
    ladder.zip(rungShare).zipWithIndex.foreach { case ((rate, share), ri) =>
      val tickNs = spec.locations / rate * 1e9
      val ticks = math.max(2, (ctx.seconds * share * rate / spec.locations).round.toInt)
      val start = System.nanoTime()
      var mid = 0L
      (0 until ticks).foreach { k =>
        val due = start + (k * tickNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        late.add((now - due) / 1e6)
        if (k == ticks / 2) mid = written - ingested
        val i = nextCycle; nextCycle += 1
        cycleRung.put(i, ri)
        created.put(i, writeCycle(i))
      }
      val end = start + (ticks * tickNs).toLong
      while (System.nanoTime() < end) LockSupport.parkNanos(end - System.nanoTime())
      backlog += ((mid, written - ingested))
    }
    val lastCycle = nextCycle - 1
    Main.mark("writer done")
    // Drain: the stream catches up, then one answer issued after that.
    query.processAllAvailable()
    val drained = System.nanoTime()
    val deadline = drained + 60000000000L
    while (!answers.asScala.exists(_._1 > drained) && System.nanoTime() < deadline) Thread.sleep(5)
    stop = true; reader.join()
    Main.mark("drained")
    val wallNs = System.nanoTime() - wall0
    val cpuUtil = (Probe.cpuNs() - cpu0).toDouble / (wallNs.toDouble * ctx.nproc)

    // Freshness: creation of reading (l, i) to the first answer showing a
    // latest index >= i for station l. Error readings never show.
    val ordered = answers.asScala.toSeq.sortBy(_._3)
    val nextUnseen = Array.fill(spec.locations)(firstCycle)
    val fresh = Array.fill(ladder.size)(scala.collection.mutable.ArrayBuffer[Double]())
    ordered.foreach { case (_, _, at, latest) =>
      (0 until spec.locations).foreach { l =>
        while (nextUnseen(l) <= math.min(latest(l), lastCycle)) {
          val i = nextUnseen(l)
          if (!spec.isError(l, i)) fresh(cycleRung.get(i)) += (at - created.get(i)).toDouble
          nextUnseen(l) += 1
        }
      }
    }
    val unseen = (0 until spec.locations).map(l =>
      (nextUnseen(l) to lastCycle).count(i => !spec.isError(l, i))).sum
    val latencies = ordered.map { case (issued, done, _, _) => (done - issued) / 1e6 }
    val ref = ladder.indexOf(refRate)
    val rungOk = ladder.indices.map { ri =>
      Stats.pct(fresh(ri).toSeq, 99) <= limitP99Ms &&
        !(backlog(ri)._2 > spec.locations * 2 && backlog(ri)._2 > backlog(ri)._1)
    }
    val sustained = ladder.indices.filter(rungOk).map(ladder).maxOption.getOrElse(0.0)
    val prog = progress.asScala.toSeq.filter(_._2 > 0)
    val rows = prog.map(_._2).sum.toDouble
    val busyS = prog.map(_._3.getOrElse("triggerExecution", 0L)).sum / 1000.0

    // Exactly-once: every valid reading written so far is in the table once.
    val ids = spark.table(hotTable).select(col("payload").getItem("event_id").cast("long"))
      .collect().map(_.getLong(0))
    val expected = for (l <- 0 until spec.locations; i <- 0 to lastCycle if !spec.isError(l, i))
      yield spec.eventId(l, i)
    val exactlyOnce = ids.length == expected.size && ids.toSet == expected.toSet
    val validWritten = (0 until spec.locations).map(l =>
      (firstCycle to lastCycle).count(i => !spec.isError(l, i))).sum.toDouble
    val attempted = validWritten.toLong + ordered.size
    val failed = (if (exactlyOnce) 0L else math.max(1L, math.abs(ids.length - expected.size).toLong)) +
      unseen + readerErrors.get()

    val e2e = Seq(
      "latency_p50_ms" -> Stats.pct(latencies, 50), "latency_p99_ms" -> Stats.pct(latencies, 99),
      "throughput_per_s" -> rows / math.max(1e-9, busyS),
      "freshness_p50_ms" -> Stats.pct(fresh(ref).toSeq, 50),
      "freshness_p99_ms" -> Stats.pct(fresh(ref).toSeq, 99),
      "sustained_rate_per_s" -> sustained,
      "latency_samples" -> latencies.size.toDouble,
      "freshness_samples" -> fresh(ref).size.toDouble) ++
      ladder.indices.flatMap(ri => Seq(
        s"rung_${ladder(ri).toInt}.freshness_p50_ms" -> Stats.pct(fresh(ri).toSeq, 50),
        s"rung_${ladder(ri).toInt}.freshness_p99_ms" -> Stats.pct(fresh(ri).toSeq, 99),
        s"rung_${ladder(ri).toInt}.backlog_end" -> backlog(ri)._2.toDouble))

    val layers = if (!tracer.on) Nil else {
      org.apache.spark.graft.BlockHygiene.drainListenerBus(spark.sparkContext)
      val l = listener.get
      val n = math.max(1, ordered.size).toDouble
      val spans = tracer.all
      def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
      val kinds = Set("reader")
      val batchMs = prog.map(_._3.getOrElse("triggerExecution", 0L).toDouble)
      def perBatch(k: String) = Stats.mean(prog.map(_._3.getOrElse(k, 0L).toDouble))
      val addS = prog.map(_._3.getOrElse("addBatch", 0L)).sum / 1000.0
      Seq(
        "plan.build_ms" -> spanMs("plan.build"),
        "plan.optimize_ms" -> spanMs("plan.optimize"),
        "plan.codegen_compiles" -> (Probe.compiles() - comp0) / n,
        "plan.codegen_ms" -> (Probe.compileNs() - compNs0) / 1e6 / n,
        "sched.jobs_per_op" -> l.total(kinds)(_.jobs) / n,
        "sched.tasks_per_op" -> l.total(kinds)(_.tasks) / n,
        "sched.delay_ms" -> l.total(kinds)(_.schedMs) / n,
        "exec.task_run_ms" -> l.total(kinds)(_.runMs) / n,
        "exec.gc_ms" -> l.total(kinds)(_.gcMs) / n,
        "exec.cpu_util" -> cpuUtil,
        "ops.latest_all.exec_ms" -> spanMs("exec.latest_all"),
        "ingest.parse_rows_per_s" -> rows / math.max(1e-9, addS),
        "ingest.rows_dropped_ratio" -> (1.0 - validWritten / math.max(1.0, rows)),
        "stream.batch_p50_ms" -> Stats.pct(batchMs, 50),
        "stream.batch_p99_ms" -> Stats.pct(batchMs, 99),
        "stream.add_batch_ms" -> perBatch("addBatch"),
        "stream.planning_ms" -> perBatch("queryPlanning"),
        "stream.wal_commit_ms" -> perBatch("walCommit"),
        "stream.rows_per_batch" -> rows / math.max(1, prog.size),
        "stream.backlog_growth" -> (backlog.last._2 - backlog.head._2).toDouble,
        "stream.reader_ms" -> Stats.mean(latencies),
        "loadgen.late_p99_ms" -> Stats.pct(late.asScala.toSeq, 99),
        "loadgen.backlog_end" -> backlog(ref)._2.toDouble)
    }
    Measured(attempted, failed, e2e, layers, Seq(
      Check("ingest_live.exactly_once", exactlyOnce,
        s"${ids.length} rows in table, ${expected.size} valid readings written"),
      Check("ingest_live.all_visible", unseen == 0, s"$unseen readings never seen by the reader")))
  }

}
