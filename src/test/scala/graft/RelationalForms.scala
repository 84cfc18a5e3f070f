package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FastMd5.fastMd5
import graft.ops.{Checkpoints, Dedup, TextStats}

/** The relational bodies of three curation operators, kept as the
  * reference their native-kernel forms must reproduce row for row
  * (`KernelEquivalenceSpec`). Each explodes a document into rows, shuffles
  * them and regroups by `doc_id`; the DuckDB oracles replay this form. */
object RelationalForms {

  /** `Dedup.minhashSignature` as exploded shingles and a `groupBy(doc_id)`
    * of numHashes min-aggregates. */
  def minhashSignature(docs: DataFrame, numHashes: Int,
                       textCol: String = "text"): DataFrame = {
    val P = 2147483647L
    val sh = Checkpoints.spread(docs)
      .select(col("doc_id"), explode(Dedup.shingles(col(textCol))).as("s"))
      .withColumn("__h", fastMd5(col("s")))
      .withColumn("__a", conv(substring(col("__h"), 1, 8), 16, 10).cast("long") % P)
      .withColumn("__b", conv(substring(col("__h"), 9, 8), 16, 10).cast("long") % (P - 1) + 1)
    val sigCols = (0 until numHashes)
      .map(i => min((col("__a") + lit((i + 1).toLong) * col("__b")) % P).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** `TextStats.qualityScoreAgainst` as sparse hashed-TF rows joined to the
    * broadcast weight relation and summed per doc. */
  def qualityScoreAgainst(batch: DataFrame, weights: DataFrame,
                          dims: Int = 64,
                          textCol: String = "text"): DataFrame = {
    val feats = Dedup.hashedTfFeatures(batch, dims, textCol)
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("v"))
    val scored = feats.join(broadcast(weights), Seq("idx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("v") * col("weight")).as("margin"))
    batch.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        (coalesce(col("margin"), lit(0L)) > 0).cast("long").as("q_keep"))
  }

  /** `TextStats.ngramPerplexityAgainst` as a per-(doc, bigram) count
    * inner-joined to the model, summed per doc and joined back to the
    * batch's transition counts. */
  def ngramPerplexityAgainst(batch: DataFrame, model: DataFrame,
                             maxAvgBitsX100: Int = 1200,
                             textCol: String = "text"): DataFrame = {
    val t = col("__t")
    val toks = batch.select(col("doc_id"), TextStats.tokens(col(textCol)).as("__t"))
    val db = toks.filter(size(t) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"),
          element_at(t, i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val scored = db.join(model, Seq("w1", "w2"))
      .withColumn("__p", greatest(col("p_ppm"), lit(1L)))
      .withColumn("__q3", lit(60L) -
        (length(bin(col("__p") * col("__p") * col("__p"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_scored"), sum(col("k") * col("__q3")).as("sum_q3"))
    toks
      .select(col("doc_id"),
        greatest(size(t) - 1, lit(0)).cast("long").as("n_trans"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_trans"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("sum_q3"), lit(0L)).as("sum_q3"),
        coalesce(expr("100 * sum_q3 div (3 * n_scored)"), lit(0L))
          .as("avg_bits_x100"))
      .withColumn("ppx_keep",
        (col("avg_bits_x100") <= maxAvgBitsX100).cast("long"))
  }
}
