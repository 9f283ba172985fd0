package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.streaming.Streams

final case class VwEv(user_id: Long, ts: java.time.Instant, value: Double, props: String)
final case class DeEv(event_id: Long, ts: java.time.Instant)
final case class CmsIn(v: Long)

/** The six `Streams` twins, each a long-running query fed through a
  * MemoryStream into a memory sink. Each twin consumes the input events
  * in event-time order, `batchRows` per micro-batch; the next batch is
  * added only after `processAllAvailable` returns.
  */
final class StreamTwins(spark: SparkSession, inputDir: String, batchRows: Int) {
  import spark.implicits._
  private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val eventsDf: DataFrame = Tables.events(spark, inputDir)
    .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("props"))
    .filter(col("value").isNotNull)
    .orderBy("ts", "event_id")
  private val rows: Array[Row] = eventsDf.collect()
  private val chunks: IndexedSeq[Array[Row]] = rows.grouped(batchRows).toIndexedSeq

  private final class Running(val query: StreamingQuery, val feed: Array[Row] => Unit) {
    var fedBatches = 0
  }
  private val running = scala.collection.mutable.LinkedHashMap.empty[String, Running]

  /** The events fed to a twin so far as a static frame, for its batch
    * operator.
    */
  private def fed(twin: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(chunks.take(running(twin).fedBatches).flatten: _*), eventsDf.schema)

  private def inst(r: Row): java.time.Instant = r.getAs[Any]("ts") match {
    case t: java.sql.Timestamp => t.toInstant
    case i: java.time.Instant  => i
    case other => throw new IllegalStateException(s"unexpected ts type: ${other.getClass}")
  }
  private def sev(r: Row) = Streams.SEv(r.getAs[Long]("user_id"), inst(r), r.getAs[Double]("value"))

  /** Output mode, streaming frame and feeder of one twin. */
  private def build(twin: String): (String, DataFrame, Array[Row] => Unit) = twin match {
    case "ema" =>
      val m = MemoryStream[Streams.SEv]
      ("update", Streams.emaStream(m.toDS(), 20).toDF(), ch => m.addData(ch.map(sev).toSeq))
    case "sessionize" =>
      val m = MemoryStream[Streams.SEv]
      ("append", Streams.sessionizeStream(m.toDS(), 30).toDF(), ch => m.addData(ch.map(sev).toSeq))
    case "vwap" =>
      val m = MemoryStream[VwEv]
      ("append", Streams.vwapStream(m.toDF()), ch => m.addData(ch.map(r =>
        VwEv(r.getAs[Long]("user_id"), inst(r), r.getAs[Double]("value"), r.getAs[String]("props"))).toSeq))
    case "dedup" =>
      val m = MemoryStream[DeEv]
      ("append", Streams.dedupStream(m.toDF()),
        ch => m.addData(ch.map(r => DeEv(r.getAs[Long]("event_id"), inst(r))).toSeq))
    case "bloom_dedup" =>
      val m = MemoryStream[Streams.KeyedEv]
      ("append", Streams.bloomDedupStream(m.toDS()).toDF(), ch => m.addData(ch.map(r =>
        Streams.KeyedEv(r.getAs[Long]("event_id").toString, inst(r), r.getAs[Double]("value"))).toSeq))
    case "cms" =>
      val m = MemoryStream[CmsIn]
      ("complete", Streams.cmsStream(m.toDF(), "v"),
        ch => m.addData(ch.map(r => CmsIn(r.getAs[Long]("user_id"))).toSeq))
    case other => throw new IllegalArgumentException(s"unknown twin $other")
  }

  def table(twin: String): String = s"perfbench_$twin"

  /** Builds a twin's streaming frame and starts its query; returns the
    * build time of the frame in seconds.
    */
  def start(twin: String): Double = {
    val b0 = System.nanoTime()
    val (mode, out, feed) = build(twin)
    val buildS = (System.nanoTime() - b0) / 1e9
    val q = out.writeStream.format("memory").queryName(table(twin)).outputMode(mode).start()
    running(twin) = new Running(q, feed)
    buildS
  }

  /** Feeds a twin its next batch; returns the batch's wall time, from
    * addData to the return of processAllAvailable.
    */
  def feedBatch(twin: String): Double = {
    val r = running(twin)
    require(r.fedBatches < chunks.size, s"$twin consumed all ${rows.length} input events")
    val t0 = System.nanoTime()
    r.feed(chunks(r.fedBatches))
    r.query.processAllAvailable()
    r.fedBatches += 1
    (System.nanoTime() - t0) / 1e9
  }

  def stopAll(): Unit = running.values.foreach(_.query.stop())

  /** Row multiset of a small frame, collected to the driver. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = bag(a) == bag(b)

  private def subset(a: DataFrame, b: DataFrame): Boolean = {
    val bb = bag(b)
    bag(a).forall { case (k, n) => bb.getOrElse(k, 0) >= n }
  }

  /** Compares a twin's sink with its batch operator on the same
    * events. Returns (ok, detail).
    */
  def check(twin: String): (Boolean, String) = {
    val got = spark.table(table(twin))
    val fed = this.fed(twin)
    val n = got.count()
    twin match {
      case "ema" =>
        // the last emitted EMA per key against the batch fold
        graft.plans.GraftFunctions.register(spark)
        val last = got.groupBy(col("user_id")).agg(max_by(col("ema"), col("ts_us")).as("ema"))
        val want = fed.groupBy(col("user_id")).agg(expr("graft_ema(ts, value, 20)").as("ema"))
        (n > 0 && sameRows(last, want), s"$n rows vs ${want.count()} keys")
      case "sessionize" =>
        // every closed session is a batch session; at most one per key
        // is still open when the stream ends
        val cols = Seq("user_id", "start_us", "end_us", "n_events", "total_value").map(col)
        val want = Streams.sessionizeBatch(fed, 30).select(cols: _*)
        val keys = fed.select("user_id").distinct().count()
        val wn = want.count()
        (n > 0 && subset(got.select(cols: _*), want) && n >= wn - keys,
          s"$n closed sessions of $wn, $keys keys")
      case "vwap" =>
        // emitted windows equal the batch bars; every window closed by
        // the watermark is emitted
        val want = Streams.vwapStream(fed)
        val maxTs = fed.agg(max(col("ts"))).head().get(0)
        val closed = want.filter(col("bar_start") + expr("interval 1 day") <=
          lit(maxTs) - expr("interval 2 hours"))
        (n > 0 && subset(got, want) && subset(closed, got), s"$n bars of ${want.count()}")
      case "dedup" =>
        val want = fed.select(col("event_id")).distinct()
        (sameRows(got.select(col("event_id")), want), s"$n rows vs ${want.count()} keys")
      case "bloom_dedup" =>
        val keyed = fed.select(col("event_id").cast("string").as("key"), col("ts"), col("value"))
          .as[Streams.KeyedEv]
        val want = Streams.bloomDedupStream(keyed).toDF()
        (n > 0 && sameRows(got, want), s"$n rows vs ${want.count()}")
      case "cms" =>
        val want = Streams.cmsStream(fed.select(col("user_id").as("v")), "v")
        (n > 0 && sameRows(got, want), s"$n counters vs ${want.count()}")
    }
  }
}
