package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.StorageLevel

import graft.ingest.Parse
import graft.ops.{DayStats, Forecast, Latest, Recent, Sequences}
import graft.serve.{Paths, Records}

/** Rows the leaf scans of an executed plan produced (through AQE stages). */
object PlanRows extends AdaptiveSparkPlanHelper {
  def scanned(plan: SparkPlan): Long =
    collectLeaves(plan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}

/** One REST request of the reference's API: endpoint kind, location and
  * day index. */
final case class Request(id: Long, kind: String, loc: Int, day: Int)

/** serve_api: every endpoint of the reference's REST API, open loop,
  * against a hot table of parsed 5-minute readings built in setup. See
  * README.md for which of its numbers are sourced and which are assumed. */
final class ServeApi(ctx: Ctx) extends Workload {
  val spec = WeatherSpec(ctx.seed, locations = WeatherSpec.ReferenceLocations,
    steps = 2 * 288, zipfS = 1.1)
  val days: Int = spec.steps / 288
  val hotTable = "weather_hot"
  val kinds: Seq[String] = ServeApi.Kinds
  /** Arrival-rate ladder (requests/s); latency is reported at `refRate`. */
  val ladder: Seq[Double] = Seq(3.0, 12.0)
  val refRate = 3.0
  val limitP99Ms = 1000.0
  /** Share of the measured time each rung gets (the reference-rate rung most). */
  val rungShare: Seq[Double] = Seq(0.8, 0.2)
  /** Requests are drawn in blocks that hold every endpoint kind once, in
    * an order shuffled by the seed, and every rung sends whole blocks, so
    * every run sends each kind equally often at every rate. */
  val block: Int = kinds.size
  /** Requests a rung sends: its share of the run's time at its rate,
    * rounded down to whole blocks (at least one). */
  def rungCount(rate: Double, share: Double): Int =
    block * math.max(1, (rate * ctx.seconds * share / block).toInt)
  /** Forecast horizon of every forecast request: the reference's longest,
    * 48 hours of 5-minute steps. */
  val forecastSteps = 576
  /** The reference's sequence export: windows of 24 readings, 1 target. */
  val exportSeqLen = 24
  val exportTargets = 1
  val timeoutMs = 30000.0
  val warmupSeconds = 4.0
  val avgCols = Seq("value", "humidity")
  private val framesPath = ctx.work.resolve("input/serve_frames").toString
  private var hot: DataFrame = _

  def params: Seq[(String, Any)] = spec.params ++ Seq(
    "hot_rows" -> spec.locations.toLong * spec.steps,
    "mix" -> s"equal: every endpoint kind once per block of $block",
    "ladder_per_s" -> ladder, "reference_rate_per_s" -> refRate,
    "p99_limit_ms" -> limitP99Ms, "rung_share" -> rungShare,
    "senders" -> ctx.nproc, "timeout_ms" -> timeoutMs, "warmup_seconds" -> warmupSeconds,
    "forecast_steps" -> forecastSteps, "export_seq_len" -> exportSeqLen, "export_targets" -> exportTargets)

  def generate(spark: SparkSession): Unit =
    spec.allFrames(spark, ctx.nproc).write.mode("overwrite").parquet(framesPath)

  private def cold(spark: SparkSession): DataFrame =
    Gen.observations(Parse.fromKafka(spark.read.parquet(framesPath)))

  def setup(spark: SparkSession): Unit = {
    hot = cold(spark).persist(StorageLevel.MEMORY_ONLY)
    hot.count()
    hot.createOrReplaceTempView(hotTable)
  }

  /** Every endpoint kind once on as many threads as there are senders,
    * then `warmupSeconds` of the reference-rate rung, untimed: the JIT needs
    * that much load before latencies settle. */
  def warmup(spark: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    try kinds.zipWithIndex.map { case (k, j) =>
      pool.submit(() => run(spark, Request(-1, k, j, j % days), new Tracer(false)))
    }.foreach(_.get())
    finally pool.shutdown()
    val rng = new java.util.Random(-ctx.seed)
    val loop = new OpenLoop(ctx.nproc)
    try loop.rung(refRate, (refRate * warmupSeconds).toInt, drainTimeoutS = 60) { k =>
      val kind = kinds(k % kinds.size)
      (kind, () => { run(spark, Request(-1, kind, spec.zipfLocation(rng.nextDouble()), k % days),
        new Tracer(false)); true })
    } finally loop.close()
  }

  def teardown(spark: SparkSession): Unit = {
    spark.catalog.dropTempView(hotTable); hot.unpersist(true)
  }

  def hotMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** The endpoint's plan over the hot table (cold snapshot as fallback). */
  def build(spark: SparkSession, r: Request): DataFrame = {
    val obs = Paths.hotOrCold(spark, hotTable, cold(spark))
    def one = obs.filter(Recent.locationPredicate(spec.location(r.loc)))
    r.kind match {
      case "latest_all"      => Latest.latestPerLocation(obs)
      case "latest_one"      => Latest.latestPerLocation(one)
      case "recent_hourly"   => Recent.recentWithStep(one, 24, 1, avgCols)
      case "recent_daily"    => Recent.recentWithStep(one, 168, 24, avgCols)
      case "recent_bucketed" => Recent.recentWithStep(one, 6, 1, avgCols)
      case "average_day"     => DayStats.dayAverage(Recent.onDay(one, dayString(r.day)), avgCols)
      case "days"            => DayStats.distinctDays(one)
      case "forecast"        => Forecast.hourlyRollup(Forecast.rollForward(one, 24, forecastSteps,
                                  Forecast.LinearDriftScorer))
    }
  }

  def dayString(d: Int): String =
    java.time.Instant.ofEpochSecond(spec.startSec + d * 86400L).toString.take(10)

  /** Per-request layer figures of a traced run. */
  private val scanned = new ConcurrentLinkedQueue[(Request, Long, Long, Long)]

  /** One request through plan build, optimize, execute and serialize.
    * Returns the response body. */
  def run(spark: SparkSession, r: Request, tracer: Tracer): String =
    tracer.span("request", r.id) { root =>
      val df = tracer.span("plan.build", r.id, root)(_ => build(spark, r))
      val recs = tracer.span("serve.records", r.id, root)(_ => Records.toJsonRecords(df))
      tracer.span("plan.optimize", r.id, root)(_ => recs.queryExecution.executedPlan)
      if (tracer.on) spark.sparkContext.setJobGroup(s"${r.kind}#${r.id}", r.kind)
      val rows = tracer.span(s"exec.${r.kind}", r.id, root)(_ => recs.collect())
      if (tracer.on) spark.sparkContext.clearJobGroup()
      val body = tracer.span("serve.records", r.id, root)(_ => rows.mkString("[", ",", "]"))
      if (tracer.on)
        scanned.add((r, PlanRows.scanned(recs.queryExecution.executedPlan),
          rows.length.toLong, body.getBytes("UTF-8").length.toLong))
      body
    }

  def measure(spark: SparkSession, tracer: Tracer, listener: Option[OpListener]): Measured = {
    scanned.clear()
    // The traced phase sends the same requests as the untraced one, so
    // their difference is the cost of tracing.
    val rng = new java.util.Random(ctx.seed * 31)
    val pending = scala.collection.mutable.Queue[String]()
    val ids = new java.util.concurrent.atomic.AtomicLong
    def next(): Request = {
      if (pending.isEmpty) pending ++= scala.util.Random.javaRandomToRandom(rng).shuffle(kinds)
      Request(ids.incrementAndGet(), pending.dequeue(), spec.zipfLocation(rng.nextDouble()),
        rng.nextInt(days))
    }
    val kept = new ConcurrentLinkedQueue[(Request, String)]
    val perKindKept = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val cpu0 = Probe.cpuNs(); val wall0 = System.nanoTime()
    val comp0 = Probe.compiles(); val compNs0 = Probe.compileNs()
    val loop = new OpenLoop(ctx.nproc)
    val rungs = try ladder.zip(rungShare).map { case (rate, share) =>
      loop.rung(rate, rungCount(rate, share), drainTimeoutS = 60) { _ =>
        val r = next()
        (r.kind, () => {
          val body = run(spark, r, tracer)
          if (rate == refRate && perKindKept.merge(r.kind, 1, (a, b) => a + b) <= 3)
            kept.add(r -> body)
          true
        })
      }
    } finally loop.close()
    val wallNs = System.nanoTime() - wall0
    val cpuUtil = (Probe.cpuNs() - cpu0).toDouble / (wallNs.toDouble * ctx.nproc)

    val all = rungs.flatMap(_.samples)
    val attempted = ladder.zip(rungShare).map { case (r, s) => rungCount(r, s) }.sum.toLong
    val timedOut = all.count(_.latencyMs > timeoutMs)
    val errors = all.count(!_.ok) + (attempted - all.size)
    val checks = kept.asScala.toSeq.map { case (r, body) => checkAnswer(r, body) }
    val wrong = checks.count(!_.ok)
    val ref = rungs(ladder.indexOf(refRate))
    val passing = rungs.filter(r => r.p(99) <= limitP99Ms && !r.backlogGrowing(ctx.nproc))
    val sustained = if (passing.isEmpty) 0.0 else passing.map(_.rate).max
    val e2e = Seq(
      "latency_p50_ms" -> ref.p(50), "latency_p99_ms" -> ref.p(99),
      "throughput_per_s" -> rungs.last.capacity(ctx.nproc),
      "sustained_rate_per_s" -> sustained,
      "latency_samples" -> ref.samples.size.toDouble) ++
      rungs.flatMap(r => Seq(s"rung_${r.rate.toInt}.latency_p50_ms" -> r.p(50),
        s"rung_${r.rate.toInt}.latency_p99_ms" -> r.p(99),
        s"rung_${r.rate.toInt}.backlog_end" -> r.backlogEnd.toDouble))

    // The reference's sequence export over the hot table, traced phase
    // only, timed after the requests: serve_api's reach into ops.Sequences.
    val export = if (!tracer.on) None else Some {
      val t0 = System.nanoTime()
      val rows = Sequences.build(hot, exportSeqLen, exportTargets, avgCols).count()
      val ms = (System.nanoTime() - t0) / 1e6
      val expected = spec.locations.toLong * (spec.steps - exportSeqLen - exportTargets + 1)
      (ms, rows, Check("serve_api.export_sequence_rows", rows == expected,
        s"$rows rows, expected $expected"))
    }

    val layers = if (!tracer.on) Nil else {
      org.apache.spark.graft.BlockHygiene.drainListenerBus(spark.sparkContext)
      val l = listener.get
      val n = all.size.toDouble
      val spans = tracer.all
      def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
      val sc = scanned.asScala.toSeq
      val opKinds = kinds.toSet
      Seq(
        "plan.build_ms" -> spanMs("plan.build"),
        "plan.optimize_ms" -> spanMs("plan.optimize"),
        "plan.codegen_compiles" -> (Probe.compiles() - comp0) / n,
        "plan.codegen_ms" -> (Probe.compileNs() - compNs0) / 1e6 / n,
        "sched.jobs_per_op" -> l.total(opKinds)(_.jobs) / n,
        "sched.tasks_per_op" -> l.total(opKinds)(_.tasks) / n,
        "sched.delay_ms" -> l.total(opKinds)(_.schedMs) / n,
        "exec.task_run_ms" -> l.total(opKinds)(_.runMs) / n,
        "exec.gc_ms" -> l.total(opKinds)(_.gcMs) / n,
        "exec.cpu_util" -> cpuUtil) ++
      kinds.flatMap { k =>
        val ex = spans.filter(_.name == s"exec.$k").map(_.ms)
        val rows = sc.filter(_._1.kind == k)
        Seq(s"ops.$k.exec_ms" -> (if (ex.isEmpty) 0.0 else Stats.mean(ex)),
          s"ops.$k.rows_read_per_row_out" ->
            (if (rows.isEmpty) 0.0 else rows.map(_._2).sum.toDouble / math.max(1L, rows.map(_._3).sum)))
      } ++ Seq(
        "serve.records_ms" -> spanMs("serve.records"),
        "serve.response_bytes" -> (if (sc.isEmpty) 0.0 else sc.map(_._4).sum.toDouble / sc.size),
        "shuffle.write_bytes" -> l.total(opKinds)(_.shuffleWrite) / n,
        "shuffle.read_bytes" -> l.total(opKinds)(_.shuffleRead) / n,
        "shuffle.spill_bytes" -> l.total(opKinds)(_.spill) / n,
        "shuffle.skew" -> l.skew(opKinds),
        "ops.forecast_ms" -> Stats.mean(spans.filter(_.name == "exec.forecast").map(_.ms)),
        "ops.forecast_steps_per_s" -> {
          val fs = spans.filter(_.name == "exec.forecast").map(_.ms).sum
          sc.count(_._1.kind == "forecast") * forecastSteps / math.max(1e-9, fs / 1000.0)
        },
        "ops.sequences_ms" -> export.get._1,
        "ops.sequences_rows_out" -> export.get._2.toDouble,
        "loadgen.late_p99_ms" -> Stats.pct(all.map(_.lateMs), 99),
        "loadgen.backlog_end" -> ref.backlogEnd.toDouble)
    }
    val exportChecks = export.map(_._3).toSeq
    Measured(attempted + exportChecks.size, errors + timedOut + wrong + exportChecks.count(!_.ok),
      e2e, layers, checks.filterNot(_.ok).take(5) ++ exportChecks :+
        Check("serve_api.sampled_answers", wrong == 0, s"${checks.size} sampled answers, $wrong wrong"))
  }


  // ---- closed-form answer checks -------------------------------------

  private val mapper = new ObjectMapper()
  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
  private def meanTemp(l: Int, is: Seq[Int]): Double =
    spec.base(l) + spec.slope(l) * (is.map(_.toDouble).sum / is.size)

  def checkAnswer(r: Request, body: String): Check = {
    val rows = mapper.readTree(body).elements().asScala.toSeq
    val l = r.loc
    val last = spec.steps - 1
    def num(n: JsonNode, f: String) = n.get(f).asDouble()
    def rollupOk(expected: Seq[Seq[Int]], key: JsonNode => Int): Boolean =
      rows.size == expected.size && rows.forall { n =>
        val is = expected(key(n))
        n.get("n_rows").asLong() == is.size && close(num(n, "avg_value"), meanTemp(l, is), 1e-9)
      }
    val ok = r.kind match {
      case "latest_one" =>
        rows.size == 1 && rows.head.get("event_id").asLong() == spec.eventId(l, last) &&
          num(rows.head, "value") == spec.temperature(l, last)
      case "latest_all" =>
        rows.size == spec.locations && rows.exists(n =>
          n.get("location").asText() == spec.location(l) &&
            n.get("event_id").asLong() == spec.eventId(l, last))
      case "recent_hourly" =>
        rollupOk((0 until 24).map(h => (0 until spec.steps).filter(i => (i / 12) % 24 == h)),
          _.get("hour").asInt())
      case "recent_daily" =>
        rollupOk((0 until days).map(d => d * 288 until (d + 1) * 288),
          n => (0 until days).indexWhere(d => dayString(d) == n.get("day").asText()))
      case "recent_bucketed" =>
        rollupOk((0 until 6).map(b => (spec.steps - 12 * (b + 1)) until (spec.steps - 12 * b)),
          _.get("bucket").asInt())
      case "average_day" =>
        rows.size == 1 && rows.head.get("n_rows").asLong() == 288 &&
          close(num(rows.head, "avg_value"), meanTemp(l, r.day * 288 until (r.day + 1) * 288), 1e-9)
      case "days" =>
        rows.map(_.get("day").asText()) == (0 until days).map(dayString)
      case "forecast" =>
        val vLast = spec.temperature(l, last)
        val preds = (1 to forecastSteps).groupBy(k => ((spec.eventSec(last) + k * 300L) / 3600) % 24)
        rows.map(_.get("n_steps").asLong()).sum == forecastSteps && rows.forall { n =>
          val ks = preds(n.get("pred_hour").asLong())
          n.get("n_steps").asLong() == ks.size &&
            close(num(n, "avg_pred"), vLast + spec.slope(l) * ks.sum.toDouble / ks.size, 1e-4)
        }
    }
    Check(s"serve_api.${r.kind}", ok, if (ok) "" else s"$r -> ${body.take(300)}")
  }
}

object ServeApi {
  /** The endpoint kinds of the reference's REST API. */
  val Kinds: Seq[String] = Seq("latest_all", "latest_one", "recent_hourly", "recent_daily",
    "recent_bucketed", "average_day", "days", "forecast")
}
