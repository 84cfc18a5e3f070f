package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashedTf, MinhashSig}
import graft.ops.{Dedup, TextStats}

/** Plan tripwire for the per-document curation scores, over a batch that
  * already has `defaultParallelism` partitions (so `Checkpoints.spread` is
  * the identity):
  *  - `minhashSignature` plans no `Generate` and no shuffle;
  *  - `qualityScoreAgainst` shuffles nothing: the weight relation folds
  *    into the broadcast row in one partition;
  *  - `ngramPerplexityAgainst` plans exactly one shuffle, its
  *    `groupBy(doc_id)` (the model is broadcast on its size);
  *  - each native kernel appears once in the executed plan, so it runs once
  *    per row: no pushed-down `isnotnull(kernel)` filter and no copy per
  *    `h_i` from `CollapseProject`;
  *  - jobs per `collect`: signature 1, quality 2 (the broadcast and the
  *    scan), perplexity 3 (the broadcast, the map stage, the result). */
class CurationPlanSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val batch: DataFrame = {
    val words = Seq("a", "b", "c", "d", "e", "f")
    val rows = (0 until 64).map(d =>
      (d.toLong, (0 until 3 + d % 9).map(i => words((d + i * i) % words.size)).mkString(" ")))
    spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
      .toDF("doc_id", "text")
  }

  private lazy val model: DataFrame =
    Seq(("a", "b", 400000L), ("b", "c", 200000L), ("c", "a", 50000L))
      .toDF("w1", "w2", "p_ppm")

  private lazy val weights: DataFrame = spark.range(64)
    .select($"id".as("idx"), ($"id" % 5 - 2).as("weight"))

  private def signature = Dedup.minhashSignature(batch, 16)
  private def quality = TextStats.qualityScoreAgainst(batch, weights)
  private def perplexity = TextStats.ngramPerplexityAgainst(batch, model)

  /** Occurrences of a kernel among the executed plan's expressions. */
  private def kernelCount(df: DataFrame)(isKernel: Expression => Boolean): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case p => p }
      .map(_.expressions.map(_.collect { case e if isKernel(e) => e }.size).sum).sum
  }

  private def jobsPerCollect(df: => DataFrame): Int = {
    df.collect() // a first run pays one-off planning work, not counted
    Prof.jobsDuring(spark)(df.collect())
  }

  test("the batch already spans defaultParallelism partitions") {
    assert(batch.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("minhashSignature plans no Generate and no shuffle") {
    val plan = signature.queryExecution.executedPlan
    assert(collect(plan) { case g: GenerateExec => g }.isEmpty)
    assert(collect(plan) { case s: ShuffleExchangeLike => s }.isEmpty)
  }

  test("qualityScoreAgainst plans no shuffle") {
    assert(collect(quality.queryExecution.executedPlan) { case s: ShuffleExchangeLike => s }.isEmpty)
  }

  test("ngramPerplexityAgainst plans exactly one shuffle") {
    val plan = perplexity.queryExecution.executedPlan
    assert(collect(plan) { case s: ShuffleExchangeLike => s }.size == 1)
  }

  test("each kernel is evaluated once per row") {
    assert(kernelCount(signature)(_.isInstanceOf[MinhashSig]) == 1)
    assert(kernelCount(quality)(_.isInstanceOf[HashedTf]) == 1)
    // a batch's band rows against a stored signature: the kernel feeds a
    // Generate and a join without being copied into either
    // (a different corpus: an identical plan would read the cache instead)
    val stored = Dedup.minhashSignature(batch.filter($"doc_id" % 2 === 0), 16).cache()
    try assert(kernelCount(Dedup.minhashLshPairsAgainst(batch, stored))(
      _.isInstanceOf[MinhashSig]) == 1)
    finally stored.unpersist()
  }

  test("jobs per collect: signature 1, quality 2, perplexity 3") {
    assert(jobsPerCollect(signature) == 1)
    assert(jobsPerCollect(quality) == 2)
    assert(jobsPerCollect(perplexity) == 3)
  }
}
