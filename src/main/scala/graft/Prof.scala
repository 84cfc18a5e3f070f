package graft

import scala.collection.mutable

import org.apache.spark.graft.BlockHygiene
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage profile of ONE registry query — the measurement tool the
  * optimization rounds use to attribute a query's task CPU to plan
  * operators before touching anything (guide §1: measure first). Runs the
  * named query against the given corpus under the [[Session]] policy,
  * then prints every stage's task run time, records, and callsite, task-time
  * descending. Usage: runMain graft.Prof <name> [sfDir] [reps]
  *
  * [[measure]] is the one measuring routine: [[ScaleProbe]] times its 1×
  * and N× legs through it too.
  */
object Prof {
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         gcMs: Long, inRec: Long, shRead: Long, shWrite: Long,
                         shReadBytes: Long, shWriteBytes: Long, spillBytes: Long)

  /** One measured run: wall and process CPU seconds over all reps, the
    * jobs started and the stages completed inside the timed section. */
  final case class Run(wallS: Double, cpuS: Double, jobs: Int, stages: Seq[Stage]) {
    def shuffleReadBytes: Long = stages.map(_.shReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shWriteBytes).sum
    /** memory plus disk spill */
    def spillBytes: Long = stages.map(_.spillBytes).sum
  }

  private final class StageLog extends SparkListener {
    val stages = mutable.ArrayBuffer.empty[Stage]
    var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.stageId, si.name, si.numTasks,
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    def clear(): Unit = synchronized { stages.clear(); jobs = 0 }
  }

  /** Jobs started while `body` runs, counted by the listener [[measure]]
    * uses. The listener bus is drained before the listener attaches and
    * after `body`, so no earlier job leaks in and no job of `body` is
    * missed. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val log = new StageLog
    BlockHygiene.drainListenerBus(sc)
    sc.addSparkListener(log)
    try {
      body
      BlockHygiene.drainListenerBus(sc)
      log.synchronized(log.jobs)
    } finally sc.removeSparkListener(log)
  }

  /** Fails, listing every registry name, unless each of `names` is a
    * registry query — called before any session or corpus work. */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}; " +
      s"registry queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
  }

  /** Times `reps` noop-sink writes of registry query `name` over `sfDir`.
    * One untimed warm pass over the sibling `sf0.001` (when it exists)
    * JITs the generated code first, then [[Session.reset]]. */
  def measure(spark: SparkSession, name: String, sfDir: String, reps: Int = 1): Run = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    try {
      val warmDir = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
      if (warmDir.isDirectory)
        try fn(spark, warmDir.getPath).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[prof-warm] ${e.getMessage}") }
      Session.reset(spark)
      BlockHygiene.drainListenerBus(sc)
      log.clear()
      // process CPU time (user+sys, actual on-CPU cycles) is immune to the
      // hypervisor-steal / ambient-contention noise that inflates both wall
      // and executorRunTime on a shared box — the comparison metric for
      // CPU-shape A/Bs when the box won't sit quiet
      val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      for (_ <- 1 to reps)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val procCpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      // the bus is async: drain it so the last stages are counted
      BlockHygiene.drainListenerBus(sc)
      log.synchronized(Run(wall, procCpu, log.jobs, log.stages.toList))
    } finally sc.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    requireKnown(Seq(name))
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = measure(spark, name, sfDir, reps)
    val stages = run.stages
    val byName = stages.groupBy(_.name).map { case (n, ss) =>
      (n, ss.size, ss.map(_.runMs).sum, ss.map(_.gcMs).sum,
        ss.map(_.inRec).sum, ss.map(_.shRead).sum, ss.map(_.shWrite).sum)
    }.toSeq.sortBy(-_._3)
    println(f"%nPROF $name wall ${run.wallS}%.3f s reps=$reps jobs=${run.jobs} stages=${stages.size} " +
      f"taskRun ${stages.map(_.runMs).sum / 1e3}%.2f s procCpu ${run.cpuS}%.2f s " +
      s"shuffleRead ${run.shuffleReadBytes} B shuffleWrite ${run.shuffleWriteBytes} B " +
      s"spill ${run.spillBytes} B")
    println(f"${"stages"}%6s ${"runS"}%8s ${"gcS"}%6s ${"inRec"}%10s ${"shRead"}%10s ${"shWr"}%10s  callsite")
    byName.foreach { case (n, c, run, gc, in, sr, sw) =>
      println(f"$c%6d ${run / 1e3}%8.2f ${gc / 1e3}%6.2f $in%10d $sr%10d $sw%10d  $n")
    }
    // ungrouped: stage id order exposes per-micro-batch structure that the
    // name grouping above collapses (streaming replays re-run the same
    // callsite once per batch)
    println(f"%n${"stage"}%6s ${"tasks"}%6s ${"runS"}%8s ${"inRec"}%10s ${"shRead"}%10s ${"shWr"}%10s  callsite")
    stages.sortBy(_.id).foreach { s =>
      println(f"${s.id}%6d ${s.tasks}%6d ${s.runMs / 1e3}%8.2f ${s.inRec}%10d ${s.shRead}%10d ${s.shWrite}%10d  ${s.name.take(70)}")
    }
    spark.stop()
  }
}
