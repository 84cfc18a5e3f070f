package graft

import org.apache.spark.graft.BlockHygiene
import org.apache.spark.sql.SparkSession

/** The engine's session policy: the settings every graft session runs
  * under, and the cleanup between two queries of one session. Every
  * `SparkSession` the engine's mains and tests use is built here, so the
  * suite runs the same plans as `Verify` and `Explain`.
  */
object Session {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every available core. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The settings that do not depend on parallelism. */
  val settings: Seq[(String, String)] = Seq(
    // hour/day bucketing and every timestamp literal are read in UTC
    "spark.sql.session.timeZone" -> "UTC",
    // Some driver generations of events.parquet carry INT64
    // TIMESTAMP(NANOS); set at build time so any code path (not just
    // Tables.events) can read them. Harmless for µs lineage. See Tables.scala.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // typed-Aggregator groups (BoundedTopK*/BoundedCollect/ModalAgg) keep
    // BOUNDED buffers, so the ObjectHashAggregate 128-distinct-key sort
    // fallback only re-introduces the corpus-wide sort the aggregators
    // exist to avoid (measured: brute hardNegatives 44.4 s -> 13.8 s at
    // 100x when the map stays hash). 64k keys x k-pair buffers is MBs.
    // BLAST RADIUS (session-wide, ADVICE r16): this raises the
    // ObjectHashAggregate sort-fallback for EVERY typed aggregate in the
    // session, not just the bounded BoundedTopK*/ModalAgg buffers it
    // exists for. A future aggregator with UNBOUNDED per-group state
    // (collect_list/percentile-style) over >64k groups per partition
    // would lose the 128-key memory safety valve — keep new typed
    // aggregates k-bounded, or scope this per-query via withSQLConf.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // Cached-plan compilation honors AQE (r20): by default
    // canChangeCachedPlanOutputPartitioning=false compiles every
    // persisted relation WITHOUT adaptive coalescing, so caches fill at
    // the raw shuffle width (32 one-row-ish partitions at sf0.1) and
    // every downstream cache scan pays 32 micro-tasks; with it on, the
    // cache keeps AQE's size-derived partitioning — the same adaptivity
    // the rest of the plan already gets, at any scale.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Serialized shuffle writer everywhere (r20, guide §2.1/§1): with
    // shuffle partitions at the core count, every exchange's map tasks
    // take the BypassMergeSortShuffleWriter (engaged when reducers <=
    // spark.shuffle.sort.bypassMergeThreshold, default 200), which opens
    // one spill file PER REDUCER per map task and then concatenates them
    // — 32x32 = 1024 file creates + NIO copies per exchange, profiled as
    // the dominant per-task fixed cost of every 32-task micro-stage
    // (thread dumps: DiskBlockObjectWriter.open + copyFileStreamNIO;
    // measured 3-4x the stage CPU of the serialized path). Threshold 1
    // routes every shuffle through the UnsafeShuffleWriter - ONE output
    // file per map task - which is exactly the writer any production
    // reducer count (> 200) takes anyway: this aligns local execution
    // with the at-scale write path rather than tuning for local[32].
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // Codegen cache sized to the registry (r20, guide §1/§2.4): the
    // default spark.sql.codegen.cache.maxEntries=100 LRU cannot hold
    // even one iterative query's generated sources (an AQE plan compiles
    // a unit per stage; the CC/kmeans/BPE loops re-enter theirs every
    // round), so the cache THRASHES mid-query and every miss re-runs
    // janino IN THE EXECUTOR THREAD - profiled via stack sampling: the
    // compiler's type probes each walk ParentClassLoader into an RPC
    // class-fetch attempt + ClassNotFoundException fill, the dominant
    // RUNNABLE frames of the loop stages. 10k entries holds the whole
    // 221-query registry's distinct sources (a few thousand, tens of KB
    // each - bounded well under the bench heap), so an untimed warmup
    // pass actually pre-compiles the measured run, as intended. Driver-
    // scoped and data-volume-independent: valid at any scale.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  /** A local builder carrying [[settings]], with one shuffle partition per
    * core. */
  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    settings.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Runs `body` with the SQL confs `kvs` set on `spark`, then restores
    * each key's previous value, on a throw too; a key that was unset
    * before is unset again. The planner reads these confs when it plans,
    * so every action that must run under them (a checkpoint, a drained
    * stream) has to finish inside `body`. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll // the explicitly set keys only
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with AQE off, for a chain of small exchanges that should
    * run as one job rather than one job per exchange plus a replan. */
  def nonAdaptive[A](spark: SparkSession)(body: => A): A =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false")(body)

  /** The non-adaptive loop regime of the iterative operators (connected
    * components, PageRank, k-means, BPE, unigram EM, the perceptron):
    * AQE off, and `parts` shuffle partitions, never fewer than 2. Under
    * AQE every exchange of a round is its own job plus a replan; with it
    * off a round runs as one job. Each caller sizes `parts` from data it
    * has already measured, and forces any corpus-shaped input before the
    * regime starts, so that work still plans adaptively. */
  def loopRegime[A](spark: SparkSession, parts: Int)(body: => A): A =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> math.max(parts, 2).toString)(body)

  /** Between-query cleanup, so no query inherits another's blocks:
    * 1. cached relations + persisted/localCheckpointed RDD blocks (Dedup
    *    signatures, the CC loop's checkpoints): clearCache + BLOCKING
    *    RDD-level unpersist, or eviction runs concurrently with — and
    *    pollutes — the next query.
    * 2. broadcast blocks: cleared by NEITHER of the above — ContextCleaner
    *    only reaps them after driver GC of the Broadcast handle, so across
    *    a long run (each query auto-broadcasting small join sides)
    *    MemoryStore pressure accumulates until a memory-hungry query spills
    *    (BENCH_r06: t_hashed_tf_neardup 39.2 s vs 7.7-8.0 s isolated).
    *    BlockHygiene.destroyBroadcasts removes them synchronously. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    BlockHygiene.destroyBroadcasts(spark.sparkContext)
  }
}
