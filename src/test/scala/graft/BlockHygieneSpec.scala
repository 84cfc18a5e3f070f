package graft

import org.apache.spark.graft.BlockHygiene
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-query contagion fix behind `Session.reset`, tested directly:
  * broadcast blocks survive both `catalog.clearCache()` and RDD-level
  * unpersist (they are only reaped by ContextCleaner after driver GC), and
  * `BlockHygiene.destroyBroadcasts` removes them synchronously. This is
  * the mechanism behind BENCH_r06's 39 s t_hashed_tf_neardup inflation —
  * see BASELINE.md's round-7 post-mortem. */
class BlockHygieneSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("destroyBroadcasts reaps broadcast blocks that clearCache/unpersist leave behind") {
    val sc = spark.sparkContext
    // Start clean so leftovers from earlier suites can't mask the assertion.
    BlockHygiene.destroyBroadcasts(sc)

    // A broadcast-hash join materializes the small side as broadcast blocks.
    val big = spark.range(100000).withColumn("k", col("id") % 100)
    val small = (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v")
    big.join(broadcast(small), "k").write.format("noop").mode("overwrite").save()
    BlockHygiene.drainListenerBus(sc)
    assert(BlockHygiene.broadcastIds(sc).nonEmpty,
      "the broadcast join should have left broadcast blocks in the block manager")

    // The two cleanup calls the query loop used before round 7 do NOT remove them...
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(BlockHygiene.broadcastIds(sc).nonEmpty,
      "clearCache + RDD unpersist must not touch broadcast blocks (the round-6 bug)")

    // ...and destroyBroadcasts does, synchronously.
    val dropped = BlockHygiene.destroyBroadcasts(sc)
    assert(dropped > 0)
    assert(BlockHygiene.broadcastIds(sc).isEmpty,
      "destroyBroadcasts must leave zero broadcast blocks")
  }
}
