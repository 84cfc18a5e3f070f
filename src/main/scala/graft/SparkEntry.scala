package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Registry
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.flagship(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
  /** The queries `only` (comma-separated names; `SPARK_GRAFT_ONLY` for
    * `Verify` and `Explain`) selects, or all of them when unset. A name
    * not in the registry throws, listing the registry, so a misspelt
    * filter cannot select nothing and pass. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { list =>
      val names = list.split(",").toSet
      Prof.requireKnown(names.toSeq)
      queries.filter { case (name, _) => names(name) }
    }
}
