package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark plan plus (when SQL-expressible) the
  * equivalent DuckDB oracle over the same parquet tables.
  *
  * Determinism rules for oracle-checked output (the driver hash-compares
  * values after sorting columns by name):
  *  - aggregate doubles are rounded (4 dp; money 2 dp via exact decimal sums);
  *  - timestamps are emitted as epoch microseconds (`unix_micros` ↔
  *    `epoch_us`) or formatted day strings — never raw nanosecond-lineage
  *    timestamps;
  *  - every ordering used for ranks/limits carries a unique tie-break column.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, Some(oracle.stripMargin.trim))
  /** The oracle side of [[graft.ops.Sampling.hashKey]] in DuckDB: hex
    * digits `from` .. `from + len - 1` of `md5(<arg>)` read as a BIGINT.
    * The default (digits 1–8) is the 32-bit sample key; other windows
    * serve the minhash `b` coefficient and wider keys. */
  def hexKeySql(arg: String, from: Int = 1, len: Int = 8): String =
    s"list_reduce(list_transform(string_split(substr(md5($arg), $from, $len), ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (x, y) -> x * 16 + y)"
  /** Non-SQL-expressible op: the driver records a weaker rows-only check. */
  def sparkOnly(name: String)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, None)
}
