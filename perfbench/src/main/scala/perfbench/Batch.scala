package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A batch workload: one pass runs the whole chain over a fixed input that
  * setup loaded; the measured phase repeats passes (at least `minPasses`)
  * while another would end within its time.
  * Each pass's latency is one sample; throughput is input units per second
  * of the median pass. */
abstract class BatchWorkload(ctx: Ctx) extends Workload {
  /** Input units one pass consumes (records or documents). */
  def inputUnits: Long
  /** One pass; stages are traced under the pass span `root`. */
  def pass(spark: SparkSession, tracer: Tracer, id: Long, root: Long): Unit
  /** Layer figures of a traced phase, from its spans and counters. */
  def layerFigures(spark: SparkSession, tracer: Tracer, l: OpListener,
                   passes: Int, cpuUtil: Double): Seq[(String, Double)]
  /** Output checks on the last pass's sink. */
  def checks(spark: SparkSession): Seq[Check]
  val minPasses = 2

  protected val sink = ctx.work.resolve("sink")

  /** One traced stage: plan build (the calls into the engine), optimize
    * (forcing the physical plan) and execute (the action), its jobs tagged
    * with the stage name for the listener. */
  protected def stage[A](spark: SparkSession, tracer: Tracer, id: Long, parent: Long,
                         name: String)(build: => DataFrame)(act: DataFrame => A): A =
    tracer.span(name, id, parent) { sid =>
      val df = tracer.span("plan.build", id, sid)(_ => build)
      tracer.span("plan.optimize", id, sid)(_ => df.queryExecution.executedPlan)
      if (tracer.on) spark.sparkContext.setJobGroup(s"$name#$id", name)
      try tracer.span("exec", id, sid)(_ => act(df))
      finally if (tracer.on) spark.sparkContext.clearJobGroup()
    }

  protected def write(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(sink.resolve(path).toString)

  private var passIds = 0L
  /** Run one pass and drop whatever the engine left cached (inputs are
    * checkpointed, not cached, so they stay). Returns the pass in ms. */
  protected def timedPass(spark: SparkSession, tracer: Tracer): Double = {
    passIds += 1
    val t0 = System.nanoTime()
    tracer.span("pass", passIds)(root => pass(spark, tracer, passIds, root))
    val ms = (System.nanoTime() - t0) / 1e6
    spark.catalog.clearCache()
    ms
  }

  def measure(spark: SparkSession, tracer: Tracer, listener: Option[OpListener]): Measured = {
    val cpu0 = Probe.cpuNs(); val comp0 = Probe.compiles(); val compNs0 = Probe.compileNs()
    val wall0 = System.nanoTime()
    val deadline = wall0 + (ctx.seconds * 1e9).toLong
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = 0L
    // Start another pass only while it would end before the deadline.
    def next = times.lastOption.map(ms => (ms * 1e6).toLong).getOrElse(0L)
    while (times.size < minPasses || System.nanoTime() + next < deadline) {
      try times += timedPass(spark, tracer)
      catch { case e: Exception => failed += 1; System.err.println(s"pass failed: $e"); if (failed > 2) throw e }
    }
    val wallNs = System.nanoTime() - wall0
    val cpuUtil = (Probe.cpuNs() - cpu0).toDouble / (wallNs.toDouble * ctx.nproc)
    val codegen = Seq(
      "plan.codegen_compiles" -> (Probe.compiles() - comp0).toDouble / times.size,
      "plan.codegen_ms" -> (Probe.compileNs() - compNs0) / 1e6 / times.size)
    listener.foreach(_ => org.apache.spark.graft.BlockHygiene.drainListenerBus(spark.sparkContext))
    val cs = checks(spark)
    val med = Stats.median(times.toSeq)
    Measured(times.size + failed, failed + cs.count(!_.ok),
      Seq("latency_p50_ms" -> med, "latency_p99_ms" -> Stats.pct(times.toSeq, 99),
        "throughput_per_s" -> inputUnits / (med / 1000.0),
        "passes" -> times.size.toDouble),
      listener.map(l => codegen ++ layerFigures(spark, tracer, l, times.size, cpuUtil)).getOrElse(Nil),
      cs)
  }

  /** Planning, scheduling, executor and shuffle figures per pass. */
  protected def commonLayers(tracer: Tracer, l: OpListener, kinds: Set[String],
                             passes: Int, cpuUtil: Double): Seq[(String, Double)] = {
    val n = passes.toDouble
    val spans = tracer.all
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
    Seq(
      "plan.build_ms" -> spanMs("plan.build"),
      "plan.optimize_ms" -> spanMs("plan.optimize"),
      "sched.jobs_per_op" -> l.total(kinds)(_.jobs) / n,
      "sched.tasks_per_op" -> l.total(kinds)(_.tasks) / n,
      "sched.delay_ms" -> l.total(kinds)(_.schedMs) / n,
      "exec.task_run_ms" -> l.total(kinds)(_.runMs) / n,
      "exec.gc_ms" -> l.total(kinds)(_.gcMs) / n,
      "exec.cpu_util" -> cpuUtil,
      "shuffle.write_bytes" -> l.total(kinds)(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> l.total(kinds)(_.shuffleRead) / n,
      "shuffle.spill_bytes" -> l.total(kinds)(_.spill) / n,
      "shuffle.skew" -> l.skew(kinds))
  }

  protected def stageMs(tracer: Tracer, name: String, passes: Int): Double =
    tracer.all.filter(_.name == name).map(_.ms).sum / passes
}
