package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval: a call into one layer, made by the benchmark. */
final case class Span(id: Long, parent: Long, name: String, request: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Off, it only runs the body; on, it keeps every span in
  * memory until [[write]] at the end of the run. A span's self time is its
  * duration minus the union of its children's intervals. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong

  /** Run `body` inside a span; the body gets the span id for its children. */
  def span[A](name: String, request: Long, parent: Long = 0L)(body: Long => A): A =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, request, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total self time (ms) per span name. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a >= end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Job, task and shuffle counters per operation kind. A job is attributed
  * to the job group the benchmark set on the submitting thread
  * (`<kind>#<request id>`); untagged jobs count under "other". */
final class OpListener extends SparkListener {
  final class Counts {
    val jobs, tasks, runMs, gcMs, schedMs = new LongAdder
    val shuffleWrite, shuffleRead, spill = new LongAdder
  }
  private val byKind = new ConcurrentHashMap[String, Counts]
  private val stageKind = new ConcurrentHashMap[Int, String]
  // Per stage: (sum, max, n) of shuffle bytes read by its tasks, for skew.
  private val stageRead = new ConcurrentHashMap[Int, Array[Long]]
  private val skews = new ConcurrentLinkedQueue[(String, Double)]

  def counts(kind: String): Counts = byKind.computeIfAbsent(kind, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val kind = group.map(_.takeWhile(_ != '#')).getOrElse("other")
    counts(kind).jobs.increment()
    e.stageIds.foreach(s => stageKind.put(s, kind))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val kind = stageKind.getOrDefault(id, "other")
    Option(stageRead.remove(id)).foreach { case Array(sum, mx, n) =>
      if (sum > 0 && n > 1) skews.add(kind -> mx.toDouble / (sum.toDouble / n))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageKind.getOrDefault(e.stageId, "other"))
    c.tasks.increment()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      c.runMs.add(m.executorRunTime)
      c.gcMs.add(m.jvmGCTime)
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      if (delay > 0) c.schedMs.add(delay)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      val read = m.shuffleReadMetrics.totalBytesRead
      c.shuffleRead.add(read)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageRead.compute(e.stageId, (_, a) => {
        val arr = if (a == null) Array(0L, 0L, 0L) else a
        arr(0) += read; arr(1) = arr(1) max read; arr(2) += 1; arr
      })
    }
  }

  /** Mean max/mean shuffle-read ratio over the stages of `kinds` that read. */
  def skew(kinds: Set[String]): Double = {
    val xs = skews.asScala.filter(k => kinds(k._1)).map(_._2).toSeq
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  def total(kinds: Set[String])(f: Counts => LongAdder): Long =
    byKind.asScala.collect { case (k, c) if kinds(k) => f(c).sum }.sum
}

object Stats {
  /** Harrell-Davis estimate of the p-th percentile (p in [0, 100]): a
    * Beta-weighted mean of all order statistics. At the few dozen samples a
    * run gives, it is much steadier than a single order statistic when the
    * latencies of a request mix form separate clusters. */
  def pct(values: Seq[Double], p: Double): Double =
    if (values.isEmpty) Double.NaN
    else if (values.size == 1) values.head
    else {
      val s = values.sorted
      val n = s.size
      val q = math.min(math.max(p / 100.0, 1e-9), 1 - 1e-9)
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0
      s.indices.map { i =>
        val c = beta.cumulativeProbability((i + 1).toDouble / n)
        val w = c - prev; prev = c
        w * s(i)
      }.sum
    }
  def median(values: Seq[Double]): Double = pct(values, 50)
  /** The middle order statistic (mean of the two middle ones for an even
    * count): unlike [[median]], it gives an outlier no weight. */
  def middle(values: Seq[Double]): Double = {
    val s = values.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) Double.NaN else values.sum / values.size
}

/** Process-wide counters read before and after a measured phase. */
object Probe {
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Whole-stage and expression codegen compilations so far. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
