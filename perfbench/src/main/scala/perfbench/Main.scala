package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths => JPaths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A named check on the program's output, run outside the timed interval. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** What one measured phase of a workload produced. `e2e` holds every
  * end-to-end figure the workload defines (the contract subset plus its
  * own, such as freshness); `layers` the per-layer figures of a traced
  * phase. */
final case class Measured(attempted: Long, failed: Long,
                          e2e: Seq[(String, Double)],
                          layers: Seq[(String, Double)],
                          checks: Seq[Check])

/** Inputs and state of one run, shared by a workload's phases. */
final case class Ctx(seed: Long, seconds: Double, nproc: Int, work: Path, cache: Path)

trait Workload {
  def params: Seq[(String, Any)]
  /** Write the generated inputs under the work dir (not timed). */
  def generate(spark: SparkSession): Unit
  /** Build the workload's hot state (tables, stream, models) from the
    * generated inputs. */
  def setup(spark: SparkSession): Unit
  /** Run every plan the measured phase runs once, so code generation and
    * JIT are done before timing. */
  def warmup(spark: SparkSession): Unit
  /** Release what setup built before the session is torn down. */
  def teardown(spark: SparkSession): Unit
  /** Approximate in-memory size of the hot state, MB. */
  def hotMb(spark: SparkSession): Double
  /** One measured phase of `seconds`; a traced phase also fills layers. */
  def measure(spark: SparkSession, tracer: Tracer, listener: Option[OpListener]): Measured
}

object Main {
  val SetupReps = 3
  /** The end-to-end metrics of the contract, reported by every workload.
    * The tail latency stays in the record only: at 24 samples a run, its
    * spread from run to run reached 0.36 of its median, above the largest
    * bound the contract allows. */
  val ContractMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  /** Every per-layer metric a traced run prints, with its unit. A layer a
    * workload never enters reads 0 there. */
  val LayerCatalog: Seq[(String, String)] = Seq(
    "plan.build_ms" -> "ms", "plan.optimize_ms" -> "ms",
    "plan.codegen_compiles" -> "count", "plan.codegen_ms" -> "ms",
    "sched.jobs_per_op" -> "count", "sched.tasks_per_op" -> "count",
    "sched.delay_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.cpu_util" -> "ratio") ++
    ServeApi.Kinds.flatMap(k => Seq(s"ops.$k.exec_ms" -> "ms",
      s"ops.$k.rows_read_per_row_out" -> "ratio")) ++ Seq(
    "serve.records_ms" -> "ms", "serve.response_bytes" -> "bytes",
    "ingest.parse_rows_per_s" -> "1/s", "ingest.rows_dropped_ratio" -> "ratio",
    "stream.batch_p50_ms" -> "ms", "stream.batch_p99_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.rows_per_batch" -> "count",
    "stream.backlog_growth" -> "count", "stream.reader_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes", "shuffle.skew" -> "ratio",
    "ops.sequences_ms" -> "ms", "ops.sequences_rows_out" -> "count",
    "ops.forecast_ms" -> "ms", "ops.forecast_steps_per_s" -> "1/s",
    "dedup.exact_ms" -> "ms", "dedup.near_ms" -> "ms", "dedup.cc_jobs" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.useful_pair_ratio" -> "ratio",
    "textstats.gates_ms" -> "ms",
    "setup.session_ms" -> "ms", "setup.warmup_ms" -> "ms",
    "setup.hot_table_ms" -> "ms", "setup.hot_table_mb" -> "MB",
    "loadgen.late_p99_ms" -> "ms", "loadgen.backlog_end" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  /** The engine's own session settings (those of `graft.Bench`), plus
    * scratch locations inside the benchmark's work dir. */
  def sessionConf(nproc: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def newSession(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections; the pauses let Spark's cleaner
    * drop what the first collection released (shuffles, broadcasts). */
  def heapUsedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val start = System.nanoTime()
  /** Phase marks in the JVM log, for seeing where a run's time goes. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.2f s $what")

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind; exit explicitly either way.
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = JPaths.get(opts("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val ctx = Ctx(seed, seconds, nproc, work, JPaths.get(opts("cache")).toAbsolutePath)
    val load0 = loadavg()

    val wl: Workload = workload match {
      case "serve_api"     => new ServeApi(ctx)
      case "ingest_live"   => new IngestLive(ctx)
      case "train_history" => new TrainHistory(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val conf = sessionConf(nproc, work)

    // Set up SetupReps times (each a fresh session), keep the last one,
    // then warm up once.
    val t0 = System.nanoTime()
    var spark = newSession(conf)
    val firstSessionMs = (System.nanoTime() - t0) / 1e6
    mark("session")
    wl.generate(spark)
    mark("generated")
    val reps = (1 to SetupReps).map { rep =>
      val sessionMs =
        if (rep == 1) firstSessionMs
        else {
          wl.teardown(spark); spark.stop()
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          val t = System.nanoTime(); spark = newSession(conf)
          (System.nanoTime() - t) / 1e6
        }
      val t = System.nanoTime()
      wl.setup(spark)
      mark(s"setup $rep")
      (sessionMs, (System.nanoTime() - t) / 1e6)
    }
    // The first set-up also pays for starting Spark in a cold JVM; the
    // middle of three is a warm one, whatever that start cost.
    val setupS = Stats.middle(reps.map(r => r._1 + r._2)) / 1000.0
    val tw = System.nanoTime()
    wl.warmup(spark)
    val warmupMs = (System.nanoTime() - tw) / 1e6
    mark("warmed up")
    val hotMb = wl.hotMb(spark)

    val untraced = wl.measure(spark, new Tracer(false), None)
    val retainedMb = heapUsedMb()
    mark("measured")

    val traced = if (!trace) None else {
      val listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(true)
      val m = wl.measure(spark, tracer, Some(listener))
      spark.sparkContext.removeSparkListener(listener)
      tracer.write(work.resolve(s"spans-$workload-$seed.jsonl"))
      val self = tracer.selfMs.toSeq.sortBy(_._1).map { case (n, ms) => s"self.$n" -> ms }
      Some((m, self))
    }
    mark("done")
    val load1 = loadavg()

    val e2e = Seq("setup_s" -> setupS) ++ untraced.e2e ++ Seq("retained_heap_mb" -> retainedMb)
    val e2eMap = e2e.toMap
    val layers: Seq[(String, Double)] = traced.toSeq.flatMap { case (m, self) =>
      val key = "latency_p50_ms"
      val tracedV = m.e2e.toMap.getOrElse(key, Double.NaN)
      Seq(
        "setup.session_ms" -> Stats.middle(reps.map(_._1)),
        "setup.warmup_ms" -> warmupMs,
        "setup.hot_table_ms" -> Stats.middle(reps.map(_._2)),
        "setup.hot_table_mb" -> hotMb) ++ m.layers ++ Seq(
        "trace.overhead_ms" -> (tracedV - e2eMap.getOrElse(key, Double.NaN)),
        "trace.overhead_ratio" -> (tracedV / e2eMap.getOrElse(key, Double.NaN) - 1.0)) ++ self
    }
    val checks = untraced.checks ++ traced.toSeq.flatMap(_._1.checks)
    val attempted = untraced.attempted + traced.map(_._1.attempted).getOrElse(0L)
    val failed = untraced.failed + traced.map(_._1.failed).getOrElse(0L)
    val correct = checks.forall(_.ok) && failed == 0

    val rt = ManagementFactory.getRuntimeMXBean
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / math.max(1L, attempted),
      "e2e" -> e2e.map { case (k, v) => k -> v },
      "per_layer" -> layers.map { case (k, v) => k -> v },
      "traced_e2e" -> traced.map(_._1.e2e).getOrElse(Nil),
      "checks" -> checks.map(c => Seq("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "setup_reps_ms" -> reps.map(r => Seq("session" -> r._1, "hot_table" -> r._2)),
      "warmup_ms" -> warmupMs,
      "params" -> wl.params,
      "session_conf" -> conf,
      "machine" -> Seq(
        "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
        "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
        "spark" -> spark.version,
        "loadavg_start" -> load0, "loadavg_end" -> load1))
    val recordJson = Json.obj(record)
    Files.write(work.resolve(s"result-$workload-$seed-t${if (trace) 1 else 0}.json"),
      recordJson.getBytes("UTF-8"))
    spark.stop()

    val layerMap = layers.toMap
    def num(v: Double) = if (v.isNaN || v.isInfinite) 0.0 else v
    val metrics =
      if (trace) LayerCatalog.map { case (k, u) =>
        k -> Seq("value" -> num(layerMap.getOrElse(k, 0.0)), "unit" -> u) }
      else ContractMetrics.map { case (k, u) =>
        k -> Seq("value" -> e2eMap.getOrElse(k, Double.NaN), "unit" -> u) }
    println("PERFBENCH_RECORD " + recordJson)
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }
}
