/* Harness-only block-manager hygiene.
 *
 * Lives under `org.apache.spark` (not `graft`) because `SparkContext.env` and
 * `BlockManagerMaster` are `private[spark]`: Scala qualified-private grants
 * access to any code inside the `org.apache.spark` package tree. This is the
 * standard technique test harnesses use to reach Spark internals without
 * forking them; nothing here is on any query path — it exists so
 * `graft.Session.reset` can start each query from a clean MemoryStore.
 *
 * Why it is needed at all: `spark.catalog.clearCache()` clears cached
 * *relations* and `rdd.unpersist(blocking = true)` clears *persisted RDD*
 * blocks, but neither touches *broadcast* blocks. Broadcast pieces are only
 * reaped by ContextCleaner after the driver GCs the `Broadcast` handle — in a
 * long single-JVM run of 68 queries (each auto-broadcasting small join sides)
 * that reclamation is far too lazy, MemoryStore pressure accumulates, and a
 * later memory-hungry query starts spilling: the cross-query contagion that
 * inflated t_hashed_tf_neardup to 39 s in BENCH_r06 vs 7.7-8.0 s isolated.
 */
package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

object BlockHygiene {

  /** Distinct ids of all broadcast variables that still hold blocks anywhere
    * in the block manager (driver or executors). */
  def broadcastIds(sc: SparkContext): Seq[Long] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, true)
      .collect { case b: BroadcastBlockId => b.broadcastId }
      .distinct

  /** Synchronously destroy every broadcast's blocks. Safe between queries:
    * each query builds a fresh plan, so no broadcast handle is
    * ever re-read after its gap. Returns the number of broadcasts removed.
    *
    * Best-effort per id: the ids are a SNAPSHOT, and the ContextCleaner
    * (woken by the System.gc() in the same hygiene gap) can reap a
    * broadcast between the snapshot and the blocking remove — the remove
    * then surfaces "Block broadcast_N does not exist" from an executor
    * endpoint, which is exactly the end state this method wants. Swallow
    * it; anything the cleaner got to first is already gone. */
  def destroyBroadcasts(sc: SparkContext): Int = {
    val ids = broadcastIds(sc)
    val master = sc.env.blockManager.master
    ids.foreach { id =>
      try master.removeBroadcast(id, true, true)
      catch { case _: org.apache.spark.SparkException => }
    }
    ids.length
  }

  /** Block until every queued listener event has been delivered — the
    * race-free way for a spec to assert "no job was launched" (the bus is
    * async; a sleep is a guess, this is a guarantee). */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
