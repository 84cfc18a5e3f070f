package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iteration-safe materialization for DataFrame fixpoint loops. */
object Checkpoints {

  /** `spark.sql.shuffle.partitions` as an Int, tolerant of the non-numeric
    * values the conf legitimately takes on some deployments ("auto" under
    * externally-managed AQE) — falls back to the cluster's default
    * parallelism instead of throwing NumberFormatException. Operators that
    * size their deterministic hash-bucket fan-out from this conf
    * (Packing, Sampling) must not crash on a valid session. */
  def shufflePartitions(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Eagerly materialize `df` AND reset its statistics.
    *
    * `Dataset.localCheckpoint` truncates the logical plan but carries the
    * origin plan's ESTIMATED statistics across the checkpoint
    * (`LogicalRDD.fromDataset` keeps them for AQE). In an iterative loop
    * that estimate is itself a product of the previous round's carried
    * stats, so join-size estimates compound multiplicatively round over
    * round — by round 6 of the connected-components loop the sizeInBytes
    * BigIntegers are megabytes wide and JoinSelection's build-side
    * comparison multiplies them on the driver: measured 272 s for a round
    * whose stages all run in ~1 s (thread dump: `BigInteger.multiplyToomCook3`
    * on main). Rebuilding the frame from the checkpointed RDD resets the
    * leaf to default statistics, keeping every round's estimation O(1).
    *
    * The Row round-trip is one linear pass over a relation that is tiny
    * relative to the corpus (labels, centroids); a production pipeline
    * checkpointing to reliable storage (write/read parquet) resets stats
    * the same way. */
  def materialized(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Spread `df` to the session's default parallelism when its own
    * partition count is below it — otherwise the identity (r20,
    * guide §2.6/§6 input parallelism). The per-row CPU of a tokenize/
    * shingle/hash pass runs INSIDE the scan stage, and a small corpus
    * (one parquet file — the verify/bench layout) scans as ONE task, so
    * the whole corpus-sized pass serializes regardless of core count
    * (e.g. `Dedup.minhashSignature`'s md5 of every shingle, which has no
    * shuffle of its own to spread it: one task per file otherwise). The
    * condition makes it scale-adaptive: a production corpus whose scan already
    * splits to ≥ parallelism pays NO extra shuffle. Round-robin
    * repartition is retry-safe (sortBeforeRepartition stays on; inputs
    * carry no non-determinism). */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
// r20 note (investigated, NOT a defect): two concurrent AQE stages over one
// lazily-persisted relation do NOT double-compute it in-executor — RDD
// getOrCompute goes through BlockManager.getOrElseUpdate, whose per-block
// write lock makes the second stage's task WAIT for the first's put and
// then read the block. An eager persist+count "fix" was measured and
// reverted: it only adds a job per query. (The t_lang_id_against fix was a
// different mechanism: broadcast(model) call sites each re-execute an
// UNPERSISTED lineage — forcing a leaf there was real.)
