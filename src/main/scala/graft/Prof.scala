package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage profile of ONE registry query — the measurement tool the
  * optimization rounds use to attribute a query's task CPU to plan
  * operators before touching anything (guide §1: measure first). Runs the
  * named query against the given corpus under the [[Session]] policy,
  * then prints every stage's task run time, records, and callsite, task-time
  * descending. Usage: runMain graft.Prof <name> [sfDir] [reps]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class St(id: Int, name: String, tasks: Int, runMs: Long,
                  gcMs: Long, inRec: Long, shRead: Long, shWrite: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages += St(si.stageId, si.name, si.numTasks,
          m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
      }
    })
    val fn = SparkEntry.queries(name)
    // one untimed warm pass at sf0.001 to JIT the generated code
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && !sys.env.contains("SPARK_GRAFT_NOWARMUP"))
      try fn(spark, warmDir.getPath).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[prof-warm] ${e.getMessage}") }
    Session.reset(spark)
    stages.clear()
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
    val byName = stages.groupBy(_.name).map { case (n, ss) =>
      (n, ss.size, ss.map(_.runMs).sum, ss.map(_.gcMs).sum,
        ss.map(_.inRec).sum, ss.map(_.shRead).sum, ss.map(_.shWrite).sum)
    }.toSeq.sortBy(-_._3)
    println(f"%nPROF $name wall ${wall}%.3f s reps=$reps stages=${stages.size} " +
      f"taskRun ${stages.map(_.runMs).sum / 1e3}%.2f s procCpu ${procCpu}%.2f s")
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
