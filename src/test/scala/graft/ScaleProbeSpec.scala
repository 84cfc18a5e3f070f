package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The N× corpus writer produces an sf-shaped directory that registry
  * queries read like any sf dir: replicated tables at exactly N× rows
  * under fresh ids, footer row counts at N×, the other tables intact. */
class ScaleProbeSpec extends AnyFunSuite with SparkFixture {
  private val src = "/root/testdata/sf0.001"
  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scaleprobe").resolve("x2").toString
    ScaleProbe.writeCorpus(spark, src, dir, 2)
    dir
  }

  test("replicated tables hold exactly 2x the source rows, ids unique, in several files") {
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")) {
      val n = Tables.parquetRowCount(spark, s"$src/$t.parquet")
      val r = Tables.table(spark, out, t).agg(count(lit(1)), countDistinct(col(id))).head()
      assert(r.getLong(0) == 2 * n && r.getLong(1) == 2 * n, t)
      val parts = new java.io.File(s"$out/$t.parquet").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parts >= 2, t)
    }
  }

  test("replica text differs from its original") {
    val orig = Tables.documents(spark, src)
    val r = orig.agg(min("doc_id"), max("doc_id")).head()
    val span = r.getLong(1) - r.getLong(0) + 1
    val replica = Tables.documents(spark, out)
      .filter(col("doc_id") > r.getLong(1))
      .select((col("doc_id") - span).as("doc_id"), col("text").as("replica_text"))
    val paired = orig.join(replica, "doc_id")
    assert(paired.count() == orig.count())
    assert(paired.filter(col("text") === col("replica_text")).isEmpty)
  }

  test("footer row count of the written embeddings is 2x the source") {
    assert(Tables.parquetRowCount(spark, s"$out/embeddings.parquet") ==
      2 * Tables.parquetRowCount(spark, s"$src/embeddings.parquet"))
  }

  test("the seven other tables load unchanged") {
    ScaleProbe.unchanged.foreach { t =>
      assert(Tables.table(spark, out, t).count() ==
        Tables.parquetRowCount(spark, s"$src/$t.parquet"), t)
    }
  }

  test("dedup, ANN and streaming registry queries run over the written dir") {
    for (name <- Seq("dd_minhash_lsh", "ann_ivf_topk", "stream_latest_per_key")) {
      val run = Prof.measure(spark, name, out)
      assert(run.jobs > 0 && run.stages.nonEmpty, name)
      Session.reset(spark)
    }
  }

  test("a complete corpus with a matching marker is reused, not rewritten") {
    val file = new java.io.File(s"$out/events.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val mtime = file.lastModified()
    val again = ScaleProbe.writeCorpus(spark, src, out, 2)
    assert(again.reused)
    assert(file.exists() && file.lastModified() == mtime)
    assert(again.rows("events") == 2 * Tables.parquetRowCount(spark, s"$src/events.parquet"))
  }

  test("a missing or mismatched marker makes the corpus be rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scaleprobe").resolve("x").toString
    val n = Tables.parquetRowCount(spark, s"$src/events.parquet")
    assert(!ScaleProbe.writeCorpus(spark, src, dir, 2).reused)
    // another factor over the same directory: the marker names factor 2
    val three = ScaleProbe.writeCorpus(spark, src, dir, 3)
    assert(!three.reused && three.rows("events") == 3 * n)
    // a crash before the marker was written leaves none
    assert(new java.io.File(dir, "_CORPUS").delete())
    assert(!ScaleProbe.writeCorpus(spark, src, dir, 3).reused)
    assert(ScaleProbe.writeCorpus(spark, src, dir, 3).reused)
  }

  test("unknown query names are rejected with the registry listed") {
    val e = intercept[IllegalArgumentException](
      Prof.requireKnown(Seq("dd_minhash_lsh", "dd_minhash_lhs")))
    assert(e.getMessage.contains("unknown queries: dd_minhash_lhs;"))
    assert(e.getMessage.contains("ann_ivf_topk"))
  }
}
