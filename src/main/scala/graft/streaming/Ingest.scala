package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.Tables

/** Structured Streaming ingest (SURVEY.md §2.10, S2→S3→S4): stream →
  * stateless parse/normalize → append-mode memory sink → interactive
  * queries against the materialized table. Mirrors the reference's split
  * (prediction/preprocessing/spark.py:279-297): the stream itself is
  * stateless; all aggregation happens on the materialized table at query
  * time, so late data simply appears on the next query.
  *
  * The test/verify path streams the driver's events parquet with an
  * AvailableNow trigger — the same code shape as the Kafka path
  * (`readStream.format("kafka")`), which only swaps the source; scale-wise
  * the memory sink is replaced by a table/Delta sink (SURVEY.md §2.10 note),
  * keeping this module's contract (a named queryable table) unchanged.
  */
object Ingest {

  private val counter = new AtomicLong(0)

  /** File-stream a parquet table that may be laid out either as a single
    * file `dir/<table>.parquet` (the driver's testdata layout) or as a
    * Spark-written DIRECTORY of part files under that name. The file
    * stream source requires a directory basePath (a bare file path fails
    * with STREAM_FAILED), so the single-file layout streams the parent
    * dir with a glob filter pinned to the one file; the directory layout
    * streams the directory itself — the glob-filter form there would
    * silently match ZERO part files and stream nothing (the r15 ADVICE
    * failure mode this helper closes). Callers still assert nonzero
    * output, so a future third layout fails loudly, not silently. */
  def streamParquet(spark: SparkSession, dir: String,
                    table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    if (new java.io.File(path).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Stage each DataFrame as ONE parquet file under `dir` with strictly
    * increasing modification times and open the directory as a file
    * stream that processes exactly one file per micro-batch
    * (`maxFilesPerTrigger=1`, oldest-first — the file source's initial
    * listing order).
    *
    * Why this exists: an event-time watermark computed at the end of
    * micro-batch N only APPLIES from batch N+1, and whether Spark
    * appends a trailing NO-DATA batch at AvailableNow termination (which
    * would apply the final watermark) turned out to be
    * environment-sensitive — measured BOTH ways on this Spark: a bare
    * spark-shell one-file replay emits zero sessions even for sessions
    * far below the final watermark (no flush batch), while the repo's
    * forked test/runMain JVMs do run one. An emission set that depends
    * on that is not oracle-checkable. Staging the corpus as file 0 and
    * a 1-row watermark-driver relation AT THE CORPUS MAX event time as
    * file 1 makes the set invariant: the wm from the corpus batch
    * applies while batch 2 runs, finalizing every window at or below
    * it — and if a trailing no-data batch does run, its wm is identical
    * (the driver row adds no later event time), so it adds nothing.
    * This is the bounded-replay equivalent of the production shape,
    * where the watermark advances naturally with arriving batches and
    * no staging is needed. Only the verification surface stages (and
    * the coalesce(1) there is sf-bounded); a deployed stream reads
    * Kafka/file arrivals directly.
    *
    * Pinned eviction semantics this helper exposes (measured on this
    * Spark, boundary cases included): wm_us = (max_event_us/1000 −
    * delay_ms)·1000 (the tracker truncates event times to MILLISECONDS
    * before subtracting the delay) and a session/window emits iff
    * end_us <= wm_us (inclusive at exact equality). Oracles that replay
    * a staged stream must use exactly this arithmetic. */
  /** Recursive local delete for staging/store scratch under target/ —
    * the ONE copy of the helper every staged-replay call site used to
    * inline (review r18). Local-FS only by design: scratch lives under
    * target/; the sketch STORE listing, which must work on HDFS/S3,
    * walks via the Hadoop FS API instead
    * ([[StreamOps.sketchStoreRead]]). */
  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  def stageOrderedFiles(spark: SparkSession, stages: Seq[DataFrame],
                        dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new java.io.File(dir)
    deleteRecursively(dir) // stale extra files would add phantom micro-batches
    root.mkdirs()
    val base = System.currentTimeMillis() - 3600L * 1000
    // ONE tagged write for every stage (r20 job economy): the former
    // per-stage coalesce(1) writes each paid their own job — 2-4 jobs of
    // pure staging harness per staged-replay query (~29 call sites). All
    // stages share the stream's one schema by construction (the file
    // source reads a single schema), so they union with a stage tag and
    // write once, partitioned by stage. repartition on the tag puts each
    // stage's rows in exactly one task, and the dynamic-partition writer
    // starts one file per (task, tag value) — so each stage still lands
    // as exactly ONE parquet file and maxFilesPerTrigger=1 still maps one
    // stage to one micro-batch. partitionBy drops the tag from the file
    // schema. An EMPTY stage emits no file under partitionBy where
    // coalesce(1) wrote a 0-row file — the fallback writes those the old
    // way so the batch structure is unchanged even on degenerate slices.
    val scratch = new java.io.File(root, "_stages")
    stages.zipWithIndex
      .map { case (df, i) => df.withColumn("__stage", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(stages.size, col("__stage"))
      .write.mode("overwrite").partitionBy("__stage").parquet(scratch.getPath)
    stages.zipWithIndex.foreach { case (df, i) =>
      val sub = new java.io.File(scratch, s"__stage=$i")
      val part = Option(sub.listFiles).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).headOption
      val dst = new java.io.File(root, f"$i%04d.parquet")
      part match {
        case Some(p) => java.nio.file.Files.move(p.toPath, dst.toPath): Unit
        case None => // empty stage: write its 0-row file the old way
          val stage = new java.io.File(root, s"_stage$i")
          df.limit(0).coalesce(1).write.mode("overwrite").parquet(stage.getPath)
          val ep = stage.listFiles.filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(ep.toPath, dst.toPath): Unit
          deleteRecursively(stage.getPath)
      }
      dst.setLastModified(base + i * 10000L): Unit // mtime order = stage order
    }
    deleteRecursively(scratch.getPath)
    val schema = spark.read.parquet(s"$dir/0000.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** State-partition count for a BOUNDED streaming replay, derived from
    * the input's on-disk bytes — the AQE advisory-size principle applied
    * to the stateful exchanges AQE cannot touch (r20, guide §2.2). A
    * streaming query's stateful operators shuffle to exactly
    * `spark.sql.shuffle.partitions` state partitions, pinned at the first
    * batch; leaving that at the session's core-count setting gives a tiny
    * replay 32 state partitions, and every (partition × store × batch)
    * pays HDFSBackedStateStore provider init — checkpoint-dir fs ops
    * inside the GLOBAL `StateStore.loadedProviders` lock (profiled: 66 s
    * of blocked time across 419 acquisitions in one stream_interval_join
    * run; taskRun ≈ 2.6× procCpu across the stateful family). Deriving
    * the count from input volume is also the production rule — state
    * partitioning should track key/data volume, not driver cores — and
    * the session conf stays the CAP so a genuinely large input still
    * fans out to the session's full width. Floor 2 (the loop-regime
    * floor: never serialize a stateful pipeline to one partition). */
  private def statePartitions(spark: SparkSession, paths: String*): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else if (f.isFile) f.length else 0L
    val total = paths.map(p => bytes(new java.io.File(p))).sum
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      scala.util.Try(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")).getOrElse("64MB"))
    val cap = graft.ops.Checkpoints.shufflePartitions(spark)
    math.min(cap,
      math.max(2, math.ceil(total.toDouble / math.max(1L, advisory)).toInt))
  }

  /** File-stream `dir`/events.parquet with `ts` normalized to µs, the
    * streaming form of [[graft.Tables.events]]: the same `nanosAsLong`
    * setting and the same schema-driven [[graft.Tables.normalizeEventTs]]. */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(streamParquet(spark, dir, "events"))
  }

  /** Drain ONE bounded streaming query into the in-memory table `name`
    * and return that table: an AvailableNow trigger, and a block until the
    * source is drained. A stateful query names its input in `stateInput`;
    * `spark.sql.shuffle.partitions` is then scoped to
    * [[statePartitions]] of those paths. The stream's cloned session
    * snapshots the conf at `start()`, and the query drains inside the
    * scope, so the restore cannot race a running batch. With no
    * `stateInput` the query runs at the session's partition count. */
  def drainToMemory(stream: DataFrame, name: String,
                    stateInput: Seq[String] = Nil,
                    mode: OutputMode = OutputMode.Append()): DataFrame = {
    val spark = stream.sparkSession
    def run(): Unit = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    if (stateInput.isEmpty) run()
    else graft.Session.withConf(spark, "spark.sql.shuffle.partitions" ->
      statePartitions(spark, stateInput: _*).toString)(run())
    spark.table(name)
  }

  /** Stream `dir`/events.parquet into a fresh named in-memory table and
    * block until the AvailableNow trigger drains. Returns the normalized
    * (µs-timestamp) view of the materialized table. */
  def materializeEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventTs(drainToMemory(streamParquet(spark, dir, "events"),
      s"graft_events_stream_${counter.incrementAndGet()}"))

  /** FILES-BACKED twin of [[materializeEvents]] — the serve-path table
    * sink at scale (r19 verdict Next #5, closing SURVEY §2.10's own
    * caveat: the memory sink is driver-RAM, unbounded, and lost on
    * restart): the stream appends parquet under `outDir` (executor-side
    * writes — nothing accumulates on the driver) with a persistent
    * checkpoint, and the returned relation is a NAMED VIEW over those
    * files, so every serve query keeps the
    * [[graft.serve.Paths.hotOrCold]] contract unchanged — same table
    * name resolution, same normalized schema, one plan-builder
    * downstream. Restart story the memory sink cannot offer: the files
    * survive the JVM, a warm restart resumes from the checkpoint
    * without re-appending drained input (file-source offsets are the
    * checkpointed state), and a fresh session re-serves by just
    * re-registering the view over `outDir`. Late data appears on the
    * next micro-batch exactly as on the memory path (the stream is
    * stateless; aggregation happens at query time — the reference's
    * recompute-on-read semantics, unchanged). `StreamingSpec` pins
    * memory/files result equality and the no-duplication resume. */
  def materializeEventsFiles(spark: SparkSession, dir: String,
                             outDir: String,
                             checkpointDir: String): DataFrame = {
    val query = streamParquet(spark, dir, "events")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val name = s"graft_events_files_${counter.incrementAndGet()}"
    spark.read.parquet(outDir).createOrReplaceTempView(name)
    Tables.normalizeEventTs(spark.table(name))
  }
}
