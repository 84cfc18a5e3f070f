package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: md5 hex digest, bit-identical to Spark's
  * built-in `md5` but without its per-row fixed cost.
  *
  * Why a custom Expression (SURVEY.md §7.3 escalation ladder, tier b):
  * Spark 4.1's `Md5` body is
  * `UTF8String.fromString(DigestUtils.md5Hex(bytes))` — commons-codec's
  * `md5Hex` calls `MessageDigest.getInstance("MD5")` PER ROW (a JCA
  * provider lookup plus a fresh digest object and internal buffers), then
  * allocates a `char[32]`, a `String`, and re-encodes that String back to
  * UTF-8 for the `UTF8String`. On the dedup/text hot paths this runs once
  * per shingle/token/char-trigram OCCURRENCE — the corpus-sized inner loop
  * of the minhash, simhash, hashed-TF, span, winnow, and lang-ID
  * operators, billions of calls at 100 TB. This expression keeps one
  * `MessageDigest` per thread and hex-encodes the 16 digest bytes straight
  * into the `UTF8String`'s backing array: measured 382 → 150 ns/call on
  * 3-byte inputs and 468 → 246 ns/call on 40-byte inputs
  * (`Md5MicroBench`), with 2 allocations per call instead of ~6.
  *
  * Semantics: EXACTLY Spark's `md5` — input BinaryType (Catalyst inserts
  * the same implicit string→binary cast at string call sites), output the
  * 32-char lowercase hex StringType, null in → null out. DuckDB oracles
  * replay `md5(...)` unchanged.
  */
case class FastMd5(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fast_md5"

  override protected def nullSafeEval(input: Any): Any =
    FastMd5.hex(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FastMd5.hex($c)")

  override protected def withNewChildInternal(newChild: Expression): FastMd5 =
    copy(child = newChild)
}

object FastMd5 {
  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  private final class Ctx {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
  }
  private val tl = ThreadLocal.withInitial[Ctx](() => new Ctx)

  /** md5 of the byte range `bytes[from, from + len)`, written into the
    * calling thread's 16-byte scratch and returned: the array is reused by
    * the thread's next call, so read it before digesting again. The range
    * form lets the text kernels ([[MinhashSig]], [[HashedTf]]) hash a
    * token or shingle in place, without building its string. */
  private[functions] def digest(bytes: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val c = tl.get()
    c.md.reset()
    c.md.update(bytes, from, len)
    c.md.digest(c.dig, 0, 16)
    c.dig
  }

  /** md5 of `bytes` as 32 lowercase hex chars. The UTF8String's backing
    * array is freshly allocated per call (UTF8String keeps the reference);
    * the digest object and its 16-byte scratch are per-thread. */
  def hex(bytes: Array[Byte]): UTF8String = {
    val dig = digest(bytes, 0, bytes.length)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((dig(i) >> 4) & 15)
      out(2 * i + 1) = HEX(dig(i) & 15)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column-level entry point — a drop-in for `functions.md5`. */
  def fastMd5(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(FastMd5(GraftBridge.expression(c)))
  }
}
