package graft

import org.scalatest.funsuite.AnyFunSuite


/** Executes EVERY registry query end-to-end at sf0.001 (noop sink, so all
  * output columns materialize — a bare count() would let Catalyst prune the
  * subtrees under test).
  *
  * This is the schema-drift tripwire: the driver regenerates
  * /root/testdata each round, and round 9 silently lost all 25
  * events-table queries from CORRECTNESS_r09 when `events.ts` changed
  * lineage from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) — which Spark 4 reads as TIMESTAMP_NTZ, and
  * `unix_micros(ts)` stopped resolving. Verify.scala deliberately
  * catches per-query failures (one bad query must not kill the whole
  * dump), so nothing short of running the registry surfaces such drift
  * as a red build. This spec does, per query, with the failures named.
  */
class RegistrySmokeSpec extends AnyFunSuite with SparkFixture {

  test("every registry query executes against sf0.001") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val regime = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def confs() = regime.map(spark.conf.getOption)
    val before = confs()
    val failures = runRegistry(dir)
    assert(failures.isEmpty, s"${failures.size} queries failed:\n" + failures.mkString("\n"))
    // every scoped regime (Session.withConf) is restored after its query
    assert(confs() == before, s"$regime leaked: $before -> ${confs()}")
  }
}
