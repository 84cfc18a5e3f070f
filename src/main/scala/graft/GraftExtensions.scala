package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.LongArrayDot

/** SparkSessionExtensions entry point: registers `long_array_dot` as a SQL
  * function, so `spark.sql("... long_array_dot(a, b)")` works alongside the
  * Column API. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * SURVEY.md §4 found no rewrite the stock optimizer lacks, so there are no
  * custom Rules/Strategies. The engine's custom Catalyst surface is the
  * `graft.functions` package (README "Custom Catalyst surface"): four
  * codegen'd Expressions (`FastMd5`, `LongArrayDot`, `MinhashSig`,
  * `HashedTf`), typed Aggregators and `BloomSketch`, all reached through
  * their Column-API entry points; only `long_array_dot` has SQL callers. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** The registration tuples, shared between the extensions hook and any
    * FunctionRegistry-level registration (e.g. on an existing session). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq((
      new FunctionIdentifier("long_array_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_array_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "long_array_dot(a, b) takes two arguments")
        LongArrayDot(children.head, children(1))
      }))
}
