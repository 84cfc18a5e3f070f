package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Modal value with the reference's deterministic tie-break (count desc,
  * code asc, nulls last) as a typed `Aggregator`: a null code counts as a
  * code, as in the reference's `groupBy(key, code)` rank
  * (`ops.Rollup.modalCodeRanked`). Map keys cannot be null, so the null
  * count lives in its own buffer field. `lt` orders codes as Spark orders
  * the column's type, so ties break exactly as the ranked plan's do.
  *
  * `ops.Rollup` folds this into each rollup's one `groupBy(key)`
  * aggregate, so a rollup scans and shuffles its input once. Trade-off:
  * the buffer partial-aggregates map-side, so only |codes| entries per
  * key and partition cross the shuffle, but it lives outside whole-stage
  * codegen and is copied per row. That assumes a bounded number of
  * distinct codes per bucket (a few weather codes per hour or day); with
  * an unbounded code space per key a `groupBy(key, code)` count would be
  * the better plan. */
class ModalAgg[T: TypeTag](lt: (T, T) => Boolean)
    extends Aggregator[T, ModalBuffer[T], ModalResult[T]] {

  override def zero: ModalBuffer[T] = ModalBuffer(Map.empty, 0L)

  override def reduce(b: ModalBuffer[T], code: T): ModalBuffer[T] =
    if (code == null) b.copy(nulls = b.nulls + 1L)
    else b.copy(counts = b.counts.updated(code, b.counts.getOrElse(code, 0L) + 1L))

  override def merge(a: ModalBuffer[T], b: ModalBuffer[T]): ModalBuffer[T] =
    ModalBuffer(
      b.counts.foldLeft(a.counts) { case (acc, (c, n)) => acc.updated(c, acc.getOrElse(c, 0L) + n) },
      a.nulls + b.nulls)

  override def finish(b: ModalBuffer[T]): ModalResult[T] = {
    val best = b.counts.reduceOption { (x, y) =>
      if (y._2 > x._2 || (y._2 == x._2 && lt(y._1, x._1))) y else x
    }
    best match {
      // nulls last: a null code wins only on a strictly higher count
      case Some((c, n)) if n >= b.nulls => ModalResult(c, n)
      case _ => ModalResult(null.asInstanceOf[T], b.nulls)
    }
  }

  override def bufferEncoder: Encoder[ModalBuffer[T]] = ExpressionEncoder[ModalBuffer[T]]()
  override def outputEncoder: Encoder[ModalResult[T]] = ExpressionEncoder[ModalResult[T]]()
}

object ModalAgg {
  /** String codes, ordered by UTF-8 bytes as Spark orders strings. */
  val strings: ModalAgg[String] = new ModalAgg[String](
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
  /** Integral codes (weather codes), widened to a nullable Long. */
  val longs: ModalAgg[java.lang.Long] = new ModalAgg[java.lang.Long](_.longValue < _.longValue)
}

case class ModalBuffer[T](counts: Map[T, Long], nulls: Long)

case class ModalResult[T](modal_code: T, modal_count: Long)
