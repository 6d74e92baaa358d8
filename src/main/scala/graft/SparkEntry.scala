package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, PipelineQueries, Q, StoreQueries}

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  /** All registered operator queries (each a `graft.queries.Q`). */
  def registry: Seq[Q] = CoreQueries.all ++ StoreQueries.all ++ PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "q_join_snowflake").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
