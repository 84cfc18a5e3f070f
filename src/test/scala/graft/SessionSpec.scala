package graft

import org.apache.spark.graft.BlockHygiene
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The suite's shared session runs under the engine's session policy, so
  * the tests exercise the plans `Verify` runs and no copy of the settings
  * can drift. */
class SessionSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("the shared test session carries every Session setting") {
    val drifted = Session.settings.collect {
      case (k, v) if !spark.conf.getOption(k).contains(v) =>
        s"$k: expected $v, got ${spark.conf.getOption(k).getOrElse("<unset>")}"
    }
    assert(drifted.isEmpty, drifted.mkString("; "))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("withConf scopes confs to its body and restores them, on a throw too") {
    val parts = "spark.sql.shuffle.partitions"
    val unset = "graft.test.scoped"
    val before = spark.conf.get(parts)
    assert(before != "7" && spark.conf.getOption(unset).isEmpty)
    def restored = spark.conf.get(parts) == before && spark.conf.getOption(unset).isEmpty
    val inside = Session.withConf(spark, parts -> "7", unset -> "on") {
      (spark.conf.get(parts), spark.conf.get(unset))
    }
    assert(inside == ("7", "on"))
    assert(restored)
    intercept[IllegalStateException] {
      Session.withConf(spark, parts -> "7", unset -> "on")(throw new IllegalStateException)
    }
    assert(restored)
  }

  test("reset drops cached relations, persisted RDDs and broadcast blocks") {
    val sc = spark.sparkContext
    val cached = spark.range(1000).toDF("k").cache()
    cached.count()
    spark.range(100).rdd.persist().count()
    val small = (0L until 10L).map(k => (k, s"v$k")).toDF("k", "v")
    cached.join(broadcast(small), "k").write.format("noop").mode("overwrite").save()
    BlockHygiene.drainListenerBus(sc)
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(sc.getPersistentRDDs.nonEmpty)
    assert(BlockHygiene.broadcastIds(sc).nonEmpty)

    Session.reset(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(BlockHygiene.broadcastIds(sc).isEmpty)
  }
}
