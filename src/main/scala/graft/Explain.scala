package graft

import java.nio.file.{Files, Paths}

/** Plan-inspection utility: dumps `explain("formatted")` of every registered
  * query to <outDir>/<name>.txt for shuffle/broadcast/pushdown review.
  * Usage: runMain graft.Explain <sfDir> <outDir>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder(Session.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter (as in Verify) for
    // targeted before/after plan capture during optimization rounds
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
