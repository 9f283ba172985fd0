package perfbench

/** The fixed work of each workload: its queries, each with the operator
  * module it spends its time in (the `operators.*` layer), whether a
  * pass runs the ETL load leg, and the `Streams` twins it feeds.
  */
object Workloads {
  final case class Workload(queries: Seq[(String, String)], loadLeg: Boolean, twins: Seq[String])

  val ohlcvMetrics: Seq[(String, String)] = Seq(
    "q_latest_per_key"  -> "Relational", // ETL core
    "q_metrics_summary" -> "TimeSeries", // metrics engine
    "q_alpha_beta"      -> "TimeSeries",
    "q_rsi"             -> "TimeSeries", // derived series
    "q_pivot_wide"      -> "Relational", // pivots
    "q_asof_join"       -> "TimeSeries") // peer joins

  val corpusGraph: Seq[(String, String)] = Seq(
    "q_minhash_lsh"  -> "Dedup",        // dedup
    "q_quality_gate" -> "TextAnalysis", // text
    "q_ann_ivf"      -> "Similarity",   // similarity
    "q_bfs_layers"   -> "Similarity")   // graph rounds

  /** The ETL load leg of ohlcv_metrics runs once per pass. */
  val LoadLeg = "etl_load"

  val modules: Seq[String] =
    Seq("Relational", "TimeSeries", "Dedup", "TextAnalysis", "Similarity")

  val twins: Seq[String] = Seq("ema", "sessionize", "vwap", "dedup", "bloom_dedup", "cms")

  val all: Map[String, Workload] = Map(
    "ohlcv_metrics" -> Workload(ohlcvMetrics, loadLeg = true, Seq("ema", "sessionize", "vwap")),
    "corpus_graph" -> Workload(corpusGraph, loadLeg = false, Seq("dedup", "bloom_dedup", "cms")))
}
