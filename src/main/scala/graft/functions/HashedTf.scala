package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one document's hashing-trick token vector in
  * DENSE form, `dims` signed counts — the vector `Dedup.hashedTfFeatures`
  * lists sparsely as (doc_id, idx, v) rows. Token t adds sign(t) at
  * idx(t), where idx = md5(t) byte 0 mod dims and the sign is + when
  * byte 1's high bit is set (hex digit 3 ≥ '8'), − otherwise.
  *
  * Why a custom Expression (SURVEY.md §7.3 escalation ladder, tier b): a
  * quality margin against frozen weights is a dot product of this vector
  * with a dims-long weight array, a value of the document alone. The
  * relational form exploded every token, shuffled (doc, token) counts and
  * (doc, idx) sums, joined the weights and regrouped by `doc_id`; with this
  * expression the margin is one projection, `long_array_dot(hashed_tf(text,
  * dims), w)`, and the batch is never shuffled. Tokens are hashed in place
  * over the UTF-8 bytes, one md5 each.
  *
  * Semantics: tokens are `split(text, " ")`, empty tokens included (the
  * empty text is one empty token), null text → null. */
case class HashedTf(child: Expression, dims: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_tf"

  override protected def nullSafeEval(input: Any): Any =
    HashedTf.vector(input.asInstanceOf[UTF8String], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedTf.vector($c, $dims)")

  override protected def withNewChildInternal(newChild: Expression): HashedTf =
    copy(child = newChild)
}

object HashedTf {
  /** The dense signed-count vector of `text`'s single-space tokens. */
  def vector(text: UTF8String, dims: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val v = new Array[Long](dims)
    var from = 0
    var p = 0
    while (p <= len) {
      if (p == len || bytes(p) == ' ') {
        val dig = FastMd5.digest(bytes, from, p - from)
        v((dig(0) & 0xff) % dims) += (if ((dig(1) & 0x80) != 0) 1L else -1L)
        from = p + 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Column-level entry point: `hashed_tf(text, dims)`. */
  def hashedTf(text: Column, dims: Int): Column = {
    require(dims >= 1, "need dims >= 1")
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(HashedTf(GraftBridge.expression(text), dims))
  }
}
