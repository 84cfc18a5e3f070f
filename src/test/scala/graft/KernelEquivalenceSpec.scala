package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinhashSig
import graft.ops.{Dedup, TextStats}

/** The native-kernel curation operators (`Dedup.minhashSignature` over
  * `MinhashSig`, `TextStats.qualityScoreAgainst` over `HashedTf`, and the
  * one-shuffle `TextStats.ngramPerplexityAgainst`) against their relational
  * forms ([[RelationalForms]]): the same multiset of rows, `exceptAll` empty
  * both ways, on the token-boundary edge cases of `split(text, " ")` plus a
  * generated corpus — under whole-stage codegen and on the interpreted
  * path. */
class KernelEquivalenceSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val vocab = Seq("the", "a", "river", "stone", "light", "cold",
    "north", "wind", "slow", "glass", "iron", "salt")

  /** A token whose hashed-TF index (md5 byte 0 mod 64) is 5 — the idx the
    * test weight relation leaves out. */
  private val idx5Token: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Iterator.from(0).map(i => s"w$i")
      .find(t => (md.digest(t.getBytes("UTF-8"))(0) & 0xff) % 64 == 5).get
  }

  private lazy val docs: DataFrame = {
    val edge = Seq(
      "", " ", "  ", "solo", "two tokens", "three tok ens",
      " lead the river stone", "trail the river stone ", "dou  bled  spaces here",
      "tab\tinside a token", "new\nline inside a token",
      "ü¢€ 多字节 🙂 naïve 😀x y 𝄞 end", null, "x x x x x x x",
      "qqq rrr sss ttt", s"$idx5Token the river $idx5Token stone")
    val gen = (0 until 40).map { d =>
      val n = 3 + (d * 7) % 25
      (0 until n).map(i => vocab((d * 13 + i * i * 5 + i) % vocab.size)).mkString(" ")
    }
    (edge ++ gen).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Trained on the generated vocabulary only, so "qqq rrr sss ttt" has no
    * scored bigram (n_scored 0). */
  private lazy val model: DataFrame = TextStats.ngramLmModel(
    (0 until 30).map { d =>
      (d.toLong, (0 until 12).map(i => vocab((d * 5 + i * 3 + i * i) % vocab.size)).mkString(" "))
    }.toDF("doc_id", "text")).cache()

  /** Weights for idx 0..63 except 5. */
  private lazy val weights: DataFrame = spark.range(64).filter(col("id") =!= 5)
    .select(col("id").as("idx"), (col("id") * 7 % 13 - 6).as("weight"))

  private def assertSame(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq === ref.columns.toSeq, what)
    assert(got.exceptAll(ref).isEmpty, s"$what: rows the reference lacks")
    assert(ref.exceptAll(got).isEmpty, s"$what: reference rows missing")
  }

  private def interpreted[T](body: => T): T =
    Session.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  test("minhashSignature equals the exploded min-aggregate form at 16 and 64 hashes") {
    for (k <- Seq(16, 64)) {
      def check() = assertSame(Dedup.minhashSignature(docs, k),
        RelationalForms.minhashSignature(docs, k), s"minhash k=$k")
      check()
      interpreted(check())
    }
    // documents under 3 tokens, and null text, have no signature row
    val ids = Dedup.minhashSignature(docs, 16).select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(0L) && !ids.contains(1L) && ids.contains(2L) &&
      !ids.contains(3L) && !ids.contains(4L) && ids.contains(5L) && !ids.contains(12L))
  }

  test("minhash_sig is null under 3 tokens even over a column that cannot be null") {
    // a non-local relation, so the optimizer (not an eager local
    // projection) sees the non-nullable input
    val text = when(col("id") === 0, lit("")).when(col("id") === 1, lit("a b"))
      .otherwise(lit("a b c"))
    val none = spark.range(3).select(col("id"),
      MinhashSig.minhashSig(text, 3, 16).isNull)
      .as[(Long, Boolean)].collect().toMap
    assert(none === Map(0L -> true, 1L -> true, 2L -> false))
  }

  test("qualityScoreAgainst equals the sparse-join form, with one idx missing from the weights") {
    def check() = assertSame(TextStats.qualityScoreAgainst(docs, weights),
      RelationalForms.qualityScoreAgainst(docs, weights), "quality")
    check()
    interpreted(check())
    val m = TextStats.qualityScoreAgainst(docs, weights)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    assert(m(12L) === 0L, "null text scores margin 0")
  }

  test("ngramPerplexityAgainst equals the per-bigram join form, including an all-OOV document") {
    def check() = assertSame(TextStats.ngramPerplexityAgainst(docs, model),
      RelationalForms.ngramPerplexityAgainst(docs, model), "perplexity")
    check()
    interpreted(check())
    val oov = TextStats.ngramPerplexityAgainst(docs, model)
      .filter(col("doc_id") === 14L).select("n_trans", "n_scored", "avg_bits_x100")
      .as[(Long, Long, Long)].collect().toSeq
    assert(oov === Seq((3L, 0L, 0L)))
  }
}
