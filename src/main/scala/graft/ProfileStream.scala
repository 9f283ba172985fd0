package graft

/** Streaming-twin profiling main (guide §1): drives one twin over the
  * fixture event stream exactly like Bench.streamingBench and prints
  * each micro-batch's durationMs breakdown (addBatch, getBatch,
  * queryPlanning, walCommit, commitOffsets, triggerExecution) plus
  * the state-operator commit times — the evidence for WHERE a slow
  * rows/s number actually goes. Dev tool, not the driver contract.
  *
  * Each batch line also carries `procs`, the child processes the JVM
  * started during the batch ([[ProcessStarts]]; 0 expected: a non-zero
  * count means a file operation shelled out).
  *
  * Usage: ProfileStream <sfDir> <twin: ema|sessionize|vwap|dedup|bloom_dedup|cms>
  */
object ProfileStream {
  case class VwEv(user_id: Long, ts: java.time.Instant, value: Double, props: String)
  case class DeEv(event_id: Long, ts: java.time.Instant)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val twin  = args(1)
    val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: org.apache.spark.sql.SparkSession = Session.local(cpus)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import graft.streaming.Streams
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("props"))
      .filter(col("value").isNotNull)
      .orderBy("ts")
      .collect()
    val nB        = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "6").toInt
    val chunkSize = math.max(1, (rows.length + nB - 1) / nB)
    val chunks    = rows.grouped(chunkSize).toSeq
    def inst(r: Row): java.time.Instant = r.getAs[Any]("ts") match {
      case t: java.sql.Timestamp => t.toInstant
      case i: java.time.Instant  => i
      case other => throw new IllegalStateException(s"unexpected ts type: ${other.getClass}")
    }
    def sev(ch: Array[Row]): Seq[Streams.SEv] =
      ch.map(r => Streams.SEv(r.getAs[Long]("user_id"), inst(r), r.getAs[Double]("value"))).toSeq

    def drive[T](mode: String, mem: MemoryStream[T], out: org.apache.spark.sql.DataFrame,
                 mkChunk: Array[Row] => Seq[T]): Unit = {
      val q = out.writeStream.format("memory").queryName(s"prof_$twin").outputMode(mode).start()
      var seen = Set.empty[Long]
      val t0 = System.nanoTime()
      chunks.foreach { ch =>
        val c0 = System.nanoTime()
        val (_, starts) = ProcessStarts.during {
          mem.addData(mkChunk(ch))
          q.processAllAvailable()
        }
        val cw = (System.nanoTime() - c0) / 1e9
        val fresh = q.recentProgress.filter(p => !seen.contains(p.batchId)).sortBy(_.batchId)
        seen ++= fresh.map(_.batchId)
        println(f"--- chunk wall $cw%.2f s, ${fresh.length} batches, ${starts.length} child processes ---")
        fresh.foreach { p =>
          val d = p.durationMs
          val st = p.stateOperators.map(s =>
            s"commit=${s.commitTimeMs} rows=${s.numRowsTotal} upd=${s.numRowsUpdated} mem=${s.memoryUsedBytes}").mkString(" | ")
          val from = java.time.Instant.parse(p.timestamp)
          val until = from.plusMillis(d.get("triggerExecution").longValue)
          val procs = starts.count(s => !s.at.isBefore(from) && !s.at.isAfter(until))
          println(s"  batch ${p.batchId}: in=${p.numInputRows} trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")} plan=${d.get("queryPlanning")} wal=${d.get("walCommit")} offs=${d.get("commitOffsets")} procs=$procs state[$st]")
        }
      }
      println(f"total ${(System.nanoTime() - t0) / 1e9}%.2f s for ${rows.length} rows")
      q.stop()
    }

    twin match {
      case "ema" =>
        val m = MemoryStream[Streams.SEv]
        drive("update", m, Streams.emaStream(m.toDS(), 20).toDF(), sev)
      case "sessionize" =>
        val m = MemoryStream[Streams.SEv]
        drive("append", m, Streams.sessionizeStream(m.toDS(), 30).toDF(), sev)
      case "vwap" =>
        val m = MemoryStream[VwEv]
        drive("append", m, Streams.vwapStream(m.toDF()),
          ch => ch.map(r => VwEv(r.getAs[Long]("user_id"), inst(r),
            r.getAs[Double]("value"), r.getAs[String]("props"))).toSeq)
      case "dedup" =>
        val m = MemoryStream[DeEv]
        drive("append", m, Streams.dedupStream(m.toDF()),
          ch => ch.map(r => DeEv(r.getAs[Long]("event_id"), inst(r))).toSeq)
      case "bloom_dedup" =>
        val m = MemoryStream[Streams.KeyedEv]
        drive("append", m, Streams.bloomDedupStream(m.toDS()).toDF(),
          ch => ch.map(r => Streams.KeyedEv(r.getAs[Long]("event_id").toString, inst(r),
            r.getAs[Double]("value"))).toSeq)
      case "cms" =>
        val m = MemoryStream[Long]
        drive("complete", m, Streams.cmsStream(m.toDF().withColumnRenamed("value", "v"), "v"),
          ch => ch.map(r => r.getAs[Long]("user_id")).toSeq)
      case other => throw new IllegalArgumentException(s"unknown twin $other")
    }
    spark.stop()
  }
}
