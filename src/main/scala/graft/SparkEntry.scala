package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full checkable operator surface: core relational parity
  * with the reference (graft.queries.CoreQueries) plus the north-star
  * extensions (graft.queries.ExtQueries). Every SQL-expressible query has a
  * DuckDB oracle in `oracleSql` with matching column names, a total ORDER
  * BY, and engine-order-independent float aggregation (graft.ops.Exact).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's gold question — per-entity 1-minute metrics
    * (`gold_aggregation.py:52-109`) — expressed over the events table. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("entity_id", $"user_id" % 5)
      .groupBy($"entity_id", ops.Derive.minuteStart($"ts").as("minute_start"))
      .agg(
        avg($"value").as("avg_value"),
        max($"value").as("max_value"),
        count(lit(1)).as("n_events"))
      .orderBy($"entity_id", $"minute_start")
  }

  /** Every query wave, each listed once. */
  val waves: Seq[QueryWave] = Seq(
    CoreQueries, ExtQueries, AdvQueries, CurateQueries, ExtraQueries,
    Wave3Queries, Wave4Queries, Wave6Queries, Wave7Queries, Wave8Queries,
    Wave9Queries, Wave10Queries, Wave11Queries, Wave12Queries,
    Wave13Queries, Wave14Queries, Wave15Queries, Wave16Queries,
    Wave17Queries, Wave18Queries, Wave19Queries, Wave20Queries,
    Wave21Queries, Wave22Queries, Wave23Queries, Wave24Queries,
    Wave25Queries, Wave26Queries, Wave27Queries, Wave28Queries,
    Wave29Queries, Wave30Queries, Wave31Queries, Wave32Queries,
    Wave33Queries, Wave34Queries, Wave35Queries, Wave36Queries,
    Wave37Queries, Wave38Queries, Wave39Queries, Wave40Queries,
    Wave41Queries, Wave42Queries, Wave43Queries, Wave44Queries,
    Wave45Queries, Wave46Queries, Wave47Queries, Wave48Queries,
    Wave49Queries, Wave50Queries, Wave51Queries, Wave52Queries,
    Wave53Queries, Wave54Queries, Wave55Queries, Wave56Queries,
    Wave57Queries, Wave58Queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merge(waves.map(w => waveName(w) -> w.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    merge(waves.map(w => waveName(w) -> w.oracle))

  /** Query names, sorted, that start with any of `prefixes`; every query
    * when none are given. A prefix that matches no query is an error, so
    * a mistyped name never runs an empty selection. */
  def select(prefixes: Seq[String]): Seq[String] = {
    val names = queries.keys.toSeq.sorted
    val unknown = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(unknown.isEmpty, s"no query name starts with ${unknown.mkString(", ")}")
    if (prefixes.isEmpty) names else names.filter(n => prefixes.exists(n.startsWith))
  }

  private[graft] def waveName(w: QueryWave): String =
    w.getClass.getSimpleName.stripSuffix("$")

  /** Union of per-wave maps; a name defined by two waves is an error
    * that names both, never a silent overwrite. */
  private[graft] def merge[V](parts: Seq[(String, Map[String, V])]): Map[String, V] = {
    val owners = parts.flatMap { case (w, m) => m.keys.map(_ -> w) }.groupMap(_._1)(_._2)
    owners.find(_._2.size > 1).foreach { case (name, ws) =>
      throw new IllegalStateException(
        s"query $name is defined by both ${ws.mkString(" and ")}")
    }
    parts.flatMap(_._2).toMap
  }
}
