package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in graft.queries.Registry; each entry pairs the Spark
  * implementation with (where SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7 "minimum slice": per-series quality-weighted
    * representation → class-separation metric, over the events table. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Flagship.entry(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** The registered queries, sorted by name, that a comma-separated
    * `SPARK_GRAFT_ONLY` list selects: an entry selects the query of that
    * exact name or of that id ("q16" selects q16_string_funcs, not
    * q160-q169). All of them when the list is unset or empty. Bench's
    * warm-up and timed sweep and Verify's dump all run this list. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ids = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      ids.isEmpty || ids.exists(o => n == o || n.startsWith(o + "_"))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
