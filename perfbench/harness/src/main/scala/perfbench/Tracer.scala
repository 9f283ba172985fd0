package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced operation: a query execution, the ETL load leg or one
  * stream twin micro-batch. Its id is the Spark job group of the work.
  */
final class Span(val id: String, val kind: String, val name: String,
                 val module: String, val pass: Int) {
  var startMs = 0L
  var endMs = 0L
  var buildEndMs = 0L
  var wallS = 0.0
  var buildS = 0.0
  var ok = true
  val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var peakExecBytes = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var taskSkew = 0.0
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0
  var windows = 0
  var broadcasts = 0
  var rddScans = 0
  var fallbacks = 0
  var compiles = 0L
  var compileNs = 0L
  // streaming progress, summed over the span's micro-batches
  var addBatchMs = 0L
  var streamPlanMs = 0L
  var walMs = 0L
  var offsetsMs = 0L
  var stateCommitMs = 0L
  var stateRows = 0L
  var stateMemBytes = 0L

  def buildJobs: Int = jobs.count(_._2 < buildEndMs)
  def jobRunMs: Long = jobs.map(j => j._3 - j._2).sum

  /** Time between consecutive jobs of the span: the driver pacing a
    * multi-job operator (planning, collects, checkpoint hand-offs).
    */
  def driverGapMs: Long = {
    var gap = 0L
    var lastEnd = Long.MinValue
    jobs.sortBy(_._2).foreach { case (_, s, e) =>
      if (lastEnd != Long.MinValue && s > lastEnd) gap += s - lastEnd
      lastEnd = math.max(lastEnd, e)
    }
    gap
  }

  def jobUnionMs: Long = Span.unionMs(jobs.toSeq)

  def toJson: String = Json.obj(Seq(
    "id" -> Json.str(id), "kind" -> Json.str(kind), "name" -> Json.str(name),
    "module" -> Json.str(module), "pass" -> pass.toString, "ok" -> ok.toString,
    "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
    "build_end_ms" -> buildEndMs.toString,
    "wall_s" -> Json.num(wallS), "build_s" -> Json.num(buildS),
    "jobs" -> Json.arr(jobs.map { case (j, s, e) => s"[$j,$s,$e]" }),
    "stages" -> stages.toString, "tasks" -> tasks.toString,
    "run_ms" -> runMs.toString, "cpu_ns" -> cpuNs.toString,
    "shuffle_write_bytes" -> shuffleWrite.toString, "shuffle_read_bytes" -> shuffleRead.toString,
    "peak_exec_bytes" -> peakExecBytes.toString,
    "input_rows" -> inputRows.toString, "input_bytes" -> inputBytes.toString,
    "output_bytes" -> outputBytes.toString, "task_skew" -> Json.num(taskSkew),
    "optimization_ms" -> optimizationMs.toString, "planning_ms" -> planningMs.toString,
    "exchanges" -> exchanges.toString, "windows" -> windows.toString,
    "broadcasts" -> broadcasts.toString, "existing_rdd_scans" -> rddScans.toString,
    "codegen_fallbacks" -> fallbacks.toString,
    "compiles" -> compiles.toString, "compile_ns" -> compileNs.toString,
    "add_batch_ms" -> addBatchMs.toString,
    "query_planning_ms" -> streamPlanMs.toString, "wal_commit_ms" -> walMs.toString,
    "commit_offsets_ms" -> offsetsMs.toString, "state_commit_ms" -> stateCommitMs.toString,
    "state_rows" -> stateRows.toString, "state_mem_bytes" -> stateMemBytes.toString))
}

object Span {
  /** Wall time covered by at least one of the (id, start, end) jobs. */
  def unionMs(jobs: Seq[(Int, Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobs.sortBy(_._2).foreach { case (_, s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Counts of the operators that the layer metrics name, taken from a
  * query's final executed plan (adaptive stages and subqueries
  * included).
  */
object PlanCounts extends AdaptiveSparkPlanHelper {
  final case class Counts(exchanges: Int, windows: Int, broadcasts: Int,
                          rddScans: Int, fallbacks: Int)

  def apply(plan: SparkPlan): Counts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Counts(
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[WindowExecBase]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[RDDScanExec]),
      nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum)
  }
}

/** Registers Spark's public listeners and attributes every event to
  * the span open while it was raised. The benchmark runs one
  * operation at a time and drains the listener bus before closing a
  * span, so attribution by open span is exact. Spans stay in memory
  * until the run writes them out.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private var cur: Span = null
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val taskDur = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  val spans = ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => if (cur != null) cur.jobs += ((e.jobId, s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      if (cur != null) cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (cur != null && m != null) {
        cur.tasks += 1
        cur.runMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.peakExecBytes = math.max(cur.peakExecBytes, m.peakExecutionMemory)
        cur.inputRows += m.inputMetrics.recordsRead
        cur.inputBytes += m.inputMetrics.bytesRead
        cur.outputBytes += m.outputMetrics.bytesWritten
        taskDur.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = lock.synchronized {
    if (cur != null) {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
      val c = PlanCounts(qe.executedPlan)
      cur.exchanges += c.exchanges
      cur.windows += c.windows
      cur.broadcasts += c.broadcasts
      cur.rddScans += c.rddScans
      cur.fallbacks += c.fallbacks
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      if (cur != null) {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        cur.addBatchMs += d("addBatch")
        cur.streamPlanMs += d("queryPlanning")
        cur.walMs += d("walCommit")
        cur.offsetsMs += d("commitOffsets")
        cur.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        cur.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        cur.stateMemBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.perfbenchshim.BusShim.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private var compiles0 = 0L
  private var compileNs0 = 0L

  def begin(kind: String, name: String, module: String, pass: Int): Span = {
    org.apache.spark.perfbenchshim.BusShim.drain(sc)
    val s = new Span(f"${spans.size}%05d-$name", kind, name, module, pass)
    lock.synchronized {
      cur = s
      taskDur.clear()
    }
    sc.setJobGroup(s.id, s"$kind $name pass $pass", interruptOnCancel = false)
    compiles0 = compileCount
    compileNs0 = CodeGenerator.compileTime
    s.startMs = System.currentTimeMillis()
    s
  }

  def buildDone(s: Span): Unit = s.buildEndMs = System.currentTimeMillis()

  def end(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    org.apache.spark.perfbenchshim.BusShim.drain(sc)
    sc.clearJobGroup()
    s.compiles = compileCount - compiles0
    s.compileNs = CodeGenerator.compileTime - compileNs0
    lock.synchronized {
      s.taskSkew = taskDur.values.filter(_.size >= 2).map { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }.foldLeft(1.0)(math.max)
      cur = null
    }
    spans += s
  }

  def writeSpans(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, spans.map(_.toJson).mkString("", "\n", "\n"))
}
