package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Query

/** Driver contract — see SURVEY.md §2 for the inventory. Both maps are
  * derived from the registry ([[graft.queries.Query.all]]), where each
  * query's closure sits beside its DuckDB oracle.
  *
  * Determinism rules (§6): every query ends in an explicit ORDER BY
  * over a unique key set, double aggregates round to 6 dp on both
  * sides, timestamps surface as epoch micros or formatted strings,
  * hashes are md5 (identical hex in Spark and DuckDB).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pushdown")(spark, "/root/testdata/sf0.001")

  /** Every declared query's closure, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] = Query.all.map(q => q.name -> q.oracle).toMap
}
