package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the MinHash signature of one document's
  * n-token shingles, `numHashes` longs, bit-identical to the relational
  * form `Dedup.minhashSignature` used to build (explode the distinct
  * shingles, md5 each, min per hash over a `groupBy(doc_id)`).
  *
  * Why a custom Expression (SURVEY.md §7.3 escalation ladder, tier b): the
  * signature depends on its own document alone, yet the relational form
  * exploded every document into one row per shingle, shuffled those rows
  * and regrouped them by `doc_id` — most of a curation pass's shuffle
  * bytes and tasks. This expression walks the single-space token
  * boundaries of the text's UTF-8 bytes and md5s each n-token byte range in
  * place: that range is exactly `concat_ws(" ", slice(tokens, i, n))`, since
  * a space byte (0x20) never occurs inside a multibyte UTF-8 sequence. It
  * keeps `numHashes` running minima of h_i = (a + (i+1)·b) mod P, where
  * a = digest bytes 0–3 (big-endian, unsigned) mod P and b = bytes 4–7
  * mod (P − 1) + 1, P = 2³¹ − 1 — the hex 1–8 / 9–16 slices the DuckDB
  * oracles read. A repeated shingle is hashed again but cannot move a
  * minimum, so the distinct-set semantics hold without a distinct.
  *
  * Semantics: tokens are `split(text, " ")` (empty tokens included), null
  * text or fewer than `n` tokens → null (the relational form emitted no
  * row for those documents). */
case class MinhashSig(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // null under n tokens too, not only for null text: a non-nullable input
  // must not let the optimizer fold `isnull(minhash_sig(..))` to false
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSig.signature(input.asInstanceOf[UTF8String], n, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinhashSig.signature($c, $n, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  private val P = 2147483647L

  private def u32(d: Array[Byte], at: Int): Long =
    ((d(at) & 0xffL) << 24) | ((d(at + 1) & 0xffL) << 16) |
      ((d(at + 2) & 0xffL) << 8) | (d(at + 3) & 0xffL)

  /** The signature of `text`, or null under `n` tokens. One pass over the
    * bytes; a ring of the last `n` token starts locates each shingle. */
  def signature(text: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val starts = new Array[Int](n)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var tok = 0 // index of the token being read
    var p = 0
    while (p <= len) {
      if (p == len || bytes(p) == ' ') {
        if (tok >= n - 1) { // token `tok` closes the shingle of tokens tok-n+1..tok
          val from = starts((tok - n + 1) % n)
          val dig = FastMd5.digest(bytes, from, p - from)
          val a = u32(dig, 0) % P
          val b = u32(dig, 4) % (P - 1) + 1
          var i = 0
          while (i < numHashes) {
            val h = (a + (i + 1) * b) % P
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        tok += 1
        if (p < len) starts(tok % n) = p + 1
      }
      p += 1
    }
    if (tok < n) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Column-level entry point: `minhash_sig(text, n, numHashes)`. */
  def minhashSig(text: Column, n: Int, numHashes: Int): Column = {
    require(n >= 1 && numHashes >= 1, "need n >= 1 and numHashes >= 1")
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(MinhashSig(GraftBridge.expression(text), n, numHashes))
  }
}
