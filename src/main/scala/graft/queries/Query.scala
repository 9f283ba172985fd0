package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build` makes its DataFrame from a session and
  * a table directory, and `oracle` is the DuckDB SQL that must return
  * the same rows from the same parquet tables.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Query {

  /** Every declared query, one record each, family by family. */
  val all: Seq[Query] =
    RelationalQueries.all ++ TimeSeriesQueries.all ++ StatsQueries.all ++
      EventAnalyticsQueries.all ++ TextAnalysisQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ EmbeddingQueries.all ++ SamplingQueries.all ++
      MultimodalQueries.all
}
