package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Materialize

/** Loaders for the driver-generated parquet tables. Column pruning
  * and predicate pushdown happen at the scan as long as callers keep
  * the plan declarative (select/filter on these frames). The schema
  * inference's footer-read job is named `scan <table>`.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Materialize.named(s"scan $name")(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  /** events.parquet has stored ts either as TIMESTAMP(NANOS) (older
    * fixtures — Spark's parquet reader rejects it by default, so it
    * is read as a raw nano long and floor-truncated to micros,
    * matching DuckDB's ns->us behavior) or as a plain TIMESTAMP
    * micros column (current fixtures — used as-is). The reader
    * adapts on the LOADED dtype, so both generations of the fixture
    * and both layouts of the GenScale replica dirs work unchanged.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // pandas-written micros load as TIMESTAMP_NTZ; downstream ops
        // use unix_micros/window(), which require TIMESTAMP. All graft
        // entrypoints pin the session TZ to UTC, so the cast is
        // identity on the wall clock and matches DuckDB's naive reads.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Range-pruned events scan: the time predicate is applied to the
    * RAW nano long before the timestamp conversion, so it reaches the
    * parquet scan as PushedFilters (the conversion expression would
    * otherwise block pushdown — the difference between a pruned read
    * and a full 100 TB scan).
    */
  def eventsRange(spark: SparkSession, dir: String, startIncl: String, endExcl: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def nanos(d: String): Long =
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // predicate on the RAW nano long so it reaches the scan as
        // PushedFilters (the conversion expression would block it)
        raw.filter(col("ts") >= nanos(startIncl) && col("ts") < nanos(endExcl))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // filter on the NTZ column with NTZ literals (an eager cast
        // would block parquet pushdown), THEN normalize to TIMESTAMP
        raw.filter(col("ts") >= to_timestamp_ntz(lit(startIncl)) &&
            col("ts") < to_timestamp_ntz(lit(endExcl)))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ =>
        // timestamp-vs-timestamp-literal comparisons push down as-is
        raw.filter(col("ts") >= to_timestamp(lit(startIncl)) &&
          col("ts") < to_timestamp(lit(endExcl)))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
