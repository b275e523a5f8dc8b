package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One wave of the checkable query surface. [[graft.SparkEntry]] lists
  * every wave once and merges their maps into `queries` and `oracleSql`. */
trait QueryWave {
  /** A query: (session, data directory) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** The wave's queries by name; names are unique across all waves. */
  def queries: Map[String, Q]

  /** DuckDB SQL for each oracle-checkable query, keyed like `queries`. */
  def oracle: Map[String, String]
}
