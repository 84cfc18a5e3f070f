package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FastMd5.fastMd5

class FastMd5Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("fastMd5 ≡ built-in md5 on strings: ascii, empty, unicode, long, null") {
    val rows = Seq(
      "a", "", "abc", "the quick brown fox", "ü¢€ 多字节 🙂",
      "x" * 10000, "line\nbreak\ttab", "0123456789abcdef", null,
      "\u0000nul byte", " ") ++
      (0 until 500).map(i => s"tok$i") // volume: hash-agg-shaped inputs
    val df = rows.toDF("s")
    val out = df.select(fastMd5(col("s")).as("f"), md5(col("s")).as("m"))
      .collect()
    out.foreach(r => assert(r.getAs[String]("f") === r.getAs[String]("m")))
    // null in → null out, exactly like md5
    assert(out.count(_.isNullAt(0)) === 1)
    assert(out.count(_.isNullAt(1)) === 1)
  }

  test("fastMd5 ≡ built-in md5 on binary payloads") {
    val rows = Seq(
      Array[Byte](), Array[Byte](0), Array[Byte](-1, 0, 1, 127, -128),
      Array.tabulate[Byte](4096)(i => (i * 31).toByte))
    val df = rows.toDF("b")
    val out = df.select(fastMd5(col("b")).as("f"), md5(col("b")).as("m"))
      .collect()
    out.foreach(r => assert(r.getAs[String]("f") === r.getAs[String]("m")))
  }

  test("fastMd5 matches under both codegen regimes and in hash aggregates") {
    val df = (0 until 2000).map(i => (i.toLong, s"gram$i")).toDF("id", "t")
    def agg() = df
      .select(col("id") % 7 as "g", fastMd5(col("t")).as("h"))
      .groupBy(col("g")).agg(count(when(substring(col("h"), 1, 1) >= "8", 1)).as("n"))
      .orderBy("g").collect().map(_.getLong(1)).toSeq
    val on = agg()
    assert(Session.withConf(spark, "spark.sql.codegen.wholeStage" -> "false")(agg()) === on)
    // and the interpreted path agrees with the builtin on the same data
    val cmp = df.select(fastMd5(col("t")).as("f"), md5(col("t")).as("m"))
      .filter(col("f") =!= col("m")).count()
    assert(cmp === 0L)
  }
}
