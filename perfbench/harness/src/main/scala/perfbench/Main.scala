package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, SparkEntry}
import graft.operators.Relational
import graft.sources.Feeds

/** Runs one workload on one generated input in this JVM: a warm-up
  * pass, the untimed query output dumps and load-leg check, measured
  * passes for a fixed time, then the untimed stream twin checks (their
  * state carries over the whole run). Writes `result.json` (and, traced,
  * `spans.jsonl`) into the work directory; `perfbench/run.py` turns
  * them into the benchmark's metrics.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --seconds S
  *          --trace 0|1 --cpus N --seed N --batch_rows N
  */
object Main {
  final case class Sample(name: String, pass: Int, wallS: Double, cpuS: Double, ok: Boolean,
                          traced: Boolean)
  final case class Failure(name: String, phase: String, error: String)

  /** One unit of a batch pass. `run` calls its argument between
    * building the DataFrame and running it; returns the build time in
    * seconds.
    */
  final case class Item(name: String, module: String, run: (() => Unit) => Double)

  final class Run(val spark: SparkSession, val opts: Map[String, String]) {
    val input: String = opts("input")
    val work: Path = Paths.get(opts("work"))
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    val seed: Long = opts("seed").toLong
    val tracer = new Tracer(spark)
    val samples = ArrayBuffer.empty[Sample]
    val failures = ArrayBuffer.empty[Failure]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val untracedWalls = ArrayBuffer.empty[Double]
    val untracedCpu = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    private var passNo = 0

    def fail(name: String, phase: String, e: Throwable): Unit = {
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"
      failures += Failure(name, phase, msg.take(600))
      System.err.println(s"[perfbench] $phase $name failed: $msg")
    }

    /** Runs `body` as one traced or untraced unit; records its sample. */
    def unit(kind: String, name: String, module: String, pass: Int, tracedPass: Boolean,
             measured: Boolean)(body: (() => Unit) => Double): Unit = {
      val span = if (tracedPass) Some(tracer.begin(kind, name, module, pass)) else None
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      var buildS = 0.0
      val ok =
        try { buildS = body(() => span.foreach(tracer.buildDone)); true }
        catch { case e: Throwable => fail(name, if (measured) "measure" else "warmup", e); false }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - c0
      span.foreach { s =>
        s.wallS = wall
        s.buildS = buildS
        s.ok = ok
        tracer.end(s)
      }
      if (measured) samples += Sample(name, pass, wall, cpu, ok, tracedPass)
    }

    private def runPass(tracedPass: Boolean, onePass: (Int, Boolean) => Unit): Unit = {
      passNo += 1
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      onePass(passNo, tracedPass)
      val w = (System.nanoTime() - t0) / 1e9
      if (tracedPass) tracedWalls += w
      else {
        untracedWalls += w
        untracedCpu += cpuSeconds() - c0
      }
    }

    /** Whole passes until the run's seconds have elapsed. A traced run
      * alternates untraced and traced passes (listeners registered only
      * for the traced ones), so the tracing overhead is measured in one
      * JVM under the same drift.
      */
    def measureAll(onePass: (Int, Boolean) => Unit): Unit = {
      val start = System.nanoTime()
      var tracedNext = false
      do {
        if (tracedNext) {
          tracer.install()
          runPass(tracedPass = true, onePass)
          tracer.uninstall()
        } else runPass(tracedPass = false, onePass)
        tracedNext = traced && !tracedNext
      } while ((System.nanoTime() - start) / 1e9 < seconds ||
        (traced && tracedWalls.isEmpty))
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** CPU time of this JVM, all threads, less its JIT compiler threads'.
    * Unlike wall time it excludes time the hypervisor gave other guests
    * (steal), which on a shared host moves whole runs by tens of
    * percent; without the compilers' share it does not keep falling
    * while they catch up over the first passes. The compiler threads'
    * CPU comes from /proc (clock ticks of 10 ms); `run.py` keeps them
    * alive for the whole run (-XX:-UseDynamicNumberOfCompilerThreads),
    * so none of their time leaves the sum.
    */
  def cpuSeconds(): Double = {
    val process = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    var jitTicks = 0L
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val close = stat.lastIndexOf(')')
        val name = stat.substring(stat.indexOf('(') + 1, close)
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) {
          // fields after the name start at field 3; utime and stime are 14 and 15
          val f = stat.substring(close + 2).split(" ")
          jitTicks += f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => () } // thread exited meanwhile
    }
    process - jitTicks / 100.0
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- batch workloads ------------------------------------------------

  private def batchItems(r: Run, queries: Seq[(String, String)], loadLeg: Boolean): Seq[Item] = {
    val spark = r.spark
    val qs = queries.map { case (name, module) =>
      val closure = SparkEntry.queries(name)
      Item(name, module, built => {
        val t0 = System.nanoTime()
        val df = closure(spark, r.input)
        val b = (System.nanoTime() - t0) / 1e9
        built()
        df.write.format("noop").mode("overwrite").save()
        b
      })
    }
    if (!loadLeg) qs
    else qs :+ Item(Workloads.LoadLeg, "Relational", built => {
      val t0 = System.nanoTime()
      val df = loadFrame(r)
      val b = (System.nanoTime() - t0) / 1e9
      built()
      Feeds.writePartitioned(df, loadPath(r), Seq("bar_date"))
      b
    })
  }

  private def loadPath(r: Run): String = r.work.resolve("load_leg").toString

  private var symbols: Seq[String] = Nil

  /** The ETL load leg's frame: a synthetic bar feed for every ticker of
    * the input, enriched with instrument metadata.
    */
  private def loadFrame(r: Run): DataFrame = {
    val bars = Feeds.SyntheticFeed.fetch(r.spark, symbols, "2024-01-01", "2024-01-11")
    Relational.enrichWithMeta(bars, Feeds.syntheticInstrumentMeta(r.spark, symbols))
  }

  /** Warm-up pass, untimed checks, measured passes. A pass runs every
    * query of the workload, the load leg if any, then one micro-batch
    * per stream twin.
    */
  private def runWorkload(r: Run, w: Workloads.Workload, markSetup: () => Unit): StreamTwins = {
    val spark = r.spark
    if (w.loadLeg)
      symbols = graft.Tables.events(spark, r.input).select("user_id").distinct()
        .collect().map(row => s"T${row.getLong(0)}").sorted.toSeq
    val items = batchItems(r, w.queries, w.loadLeg)
    val twins = new StreamTwins(r.spark, r.input, r.opts("batch_rows").toInt)
    def onePass(p: Int, tracedPass: Boolean, measured: Boolean): Unit = {
      items.foreach { it =>
        r.unit(if (it.name == Workloads.LoadLeg) "load" else "query", it.name, it.module, p,
          tracedPass, measured)(it.run)
      }
      w.twins.foreach { t =>
        r.unit("twin", t, "Streams", p, tracedPass, measured) { built =>
          built()
          twins.feedBatch(t)
          0.0
        }
      }
    }
    // warm-up: every twin started, then one pass of everything
    w.twins.foreach { t =>
      r.unit("twin", t, "Streams", 0, tracedPass = false, measured = false) { built =>
        val b = twins.start(t)
        built()
        b
      }
    }
    onePass(0, tracedPass = false, measured = false)
    markSetup()
    batchChecks(r, w.queries, w.loadLeg)
    r.measureAll((p, t) => onePass(p, t, measured = true))
    twins
  }

  /** Untimed, between the warm-up pass and the measured passes: dump
    * every query's output for the oracle compare and check the load
    * leg the warm-up pass wrote against its source frame.
    */
  private def batchChecks(r: Run, queries: Seq[(String, String)], loadLeg: Boolean): Unit = {
    val dumps = r.work.resolve("dumps")
    Files.createDirectories(dumps)
    val oracle = queries.map { case (name, _) =>
      try {
        SparkEntry.queries(name)(r.spark, r.input).coalesce(1).write.mode("overwrite")
          .parquet(dumps.resolve(name).toString)
      } catch { case e: Throwable => r.fail(name, "dump", e) }
      name -> SparkEntry.oracleSql.getOrElse(name, "")
    }
    Files.writeString(r.work.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))
    if (loadLeg) {
      val ok = try {
        val src = loadFrame(r)
        val back = r.spark.read.parquet(loadPath(r))
          .select(src.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
        src.count() > 0 && src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty
      } catch { case e: Throwable => r.fail(Workloads.LoadLeg, "check", e); false }
      r.checks += ((Workloads.LoadLeg, ok, "re-read vs source frame"))
    }
  }

  // ---- per-layer metrics ----------------------------------------------

  /** Classes compiled by the second of two back-to-back runs of one
    * query. A working set that fits Spark's codegen cache compiles
    * nothing here, so `codegen.compiles` above it is the pass's mix
    * overflowing the cache.
    */
  private def repeatCompiles(r: Run, query: String): Double = {
    val once = () => SparkEntry.queries(query)(r.spark, r.input)
      .write.format("noop").mode("overwrite").save()
    once()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    once()
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble
  }

  private def layerMetrics(r: Run, sessionStartS: Double, rssMb: Double, repeat: Double,
                           kernels: Seq[(String, Double)]): Seq[(String, Double)] = {
    val spans = r.tracer.spans.toSeq
    val n = math.max(1, r.tracedWalls.size).toDouble
    def per(f: Span => Double): Double = spans.map(f).sum / n
    val mb = 1e6
    val base = Seq(
      "session.start_s" -> sessionStartS,
      "tables.input_rows" -> per(_.inputRows.toDouble),
      "tables.input_mb" -> per(_.inputBytes / mb),
      "tables.output_mb" -> per(_.outputBytes / mb),
      "build.s" -> per(_.buildS),
      "build.jobs" -> per(_.buildJobs.toDouble),
      "plan.optimization_s" -> per(_.optimizationMs / 1e3),
      "plan.planning_s" -> per(_.planningMs / 1e3),
      "plan.exchanges" -> per(_.exchanges.toDouble),
      "plan.windows" -> per(_.windows.toDouble),
      "plan.broadcasts" -> per(_.broadcasts.toDouble),
      "plan.existing_rdd_scans" -> per(_.rddScans.toDouble),
      "plan.codegen_fallbacks" -> per(_.fallbacks.toDouble),
      "codegen.compiles" -> per(_.compiles.toDouble),
      "codegen.compile_s" -> per(_.compileNs / 1e9),
      "codegen.repeat_compiles" -> repeat,
      "sched.jobs" -> per(_.jobs.size.toDouble),
      "sched.stages" -> per(_.stages.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "sched.driver_gap_s" -> per(_.driverGapMs / 1e3),
      "sched.job_run_s" -> per(_.jobRunMs / 1e3),
      "exec.run_s" -> per(_.runMs / 1e3),
      "exec.cpu_s" -> per(_.cpuNs / 1e9),
      "exec.task_skew" -> spans.map(_.taskSkew).foldLeft(1.0)(math.max),
      "shuffle.write_mb" -> per(_.shuffleWrite / mb),
      "shuffle.read_mb" -> per(_.shuffleRead / mb),
      "mem.peak_exec_mb" -> spans.map(_.peakExecBytes / mb).foldLeft(0.0)(math.max),
      "mem.peak_rss_mb" -> rssMb)
    val ops = Workloads.modules.map(m =>
      s"operators.$m.s" -> per(s => if (s.module == m) s.wallS else 0.0))
    val kern = kernels.map { case (k, v) => s"kernels.$k.ns_per_row" -> v }
    val streams = Seq(
      "streams.add_batch_s" -> per(_.addBatchMs / 1e3),
      "streams.query_planning_s" -> per(_.streamPlanMs / 1e3),
      "streams.wal_commit_s" -> per(_.walMs / 1e3),
      "streams.commit_offsets_s" -> per(_.offsetsMs / 1e3),
      "streams.state_commit_s" -> per(_.stateCommitMs / 1e3),
      "streams.state_rows" -> per(_.stateRows.toDouble),
      "streams.state_mem_mb" -> per(_.stateMemBytes / mb)) ++
      Workloads.twins.map { t =>
        s"streams.$t.batch_p50_s" ->
          median(r.samples.filter(x => x.name == t && x.traced).map(_.wallS).toSeq)
      }
    val tracing = Seq(
      "trace.pass_wall_s" -> median(r.tracedWalls.toSeq),
      "trace.overhead_ratio" -> median(r.tracedWalls.toSeq) / median(r.untracedWalls.toSeq))
    base ++ ops ++ kern ++ streams ++ tracing
  }

  /** Self time of each layer per traced pass. An execution splits into
    * its build (the DataFrame closure, with any jobs it runs eagerly)
    * and its action; the action into Catalyst planning, job time and
    * the remaining driver time. Jobs count by the wall time at least
    * one job was running.
    */
  private def selfTimeSummary(r: Run): Seq[(String, Double)] = {
    val spans = r.tracer.spans.toSeq
    val n = math.max(1, r.tracedWalls.size).toDouble
    def jobsS(keep: (Span, Long) => Boolean): Double =
      spans.map(s => Span.unionMs(s.jobs.filter(j => keep(s, j._2)).toSeq) / 1e3).sum
    val wall = spans.map(_.wallS).sum
    val build = spans.map(_.buildS).sum
    val buildJobs = jobsS((s, start) => start < s.buildEndMs)
    val actionJobs = jobsS((s, start) => start >= s.buildEndMs)
    val plan = spans.map(s => (s.optimizationMs + s.planningMs + s.streamPlanMs) / 1e3).sum
    Seq(
      "execution" -> wall / n,
      "build.self" -> math.max(0.0, build - buildJobs) / n,
      "build.jobs" -> buildJobs / n,
      "action.plan" -> plan / n,
      "action.jobs" -> actionJobs / n,
      "action.self" -> math.max(0.0, wall - build - actionJobs - plan) / n)
  }

  // ---- entry ----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val s0 = System.nanoTime()
    val spark = Session.local(opts("cpus").toInt)
    val sessionStartS = (System.nanoTime() - s0) / 1e9
    graft.plans.GraftFunctions.register(spark)
    val r = new Run(spark, opts)

    var setupEnd = 0.0
    var setupCpu = 0.0
    val markSetup = () => {
      val now = java.time.Instant.now()
      setupEnd = now.getEpochSecond + now.getNano / 1e9
      setupCpu = cpuSeconds()
    }
    val w = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val twins = runWorkload(r, w, markSetup)
    val rss = peakRssMb()

    val kernels = if (r.traced) Kernels.run(spark, r.seed) else Nil
    val repeat = if (r.traced) repeatCompiles(r, w.queries.head._1) else 0.0
    val layers = if (r.traced) layerMetrics(r, sessionStartS, rss, repeat, kernels) else Nil
    val summary = if (r.traced) selfTimeSummary(r) else Nil
    if (r.traced) r.tracer.writeSpans(work.resolve("spans.jsonl"))

    // untimed: each stream twin against its batch operator
    twins.stopAll()
    w.twins.foreach { t =>
      val (ok, detail) =
        try twins.check(t)
        catch { case e: Throwable => r.fail(t, "check", e); (false, "check threw") }
      r.checks += ((t, ok, detail))
    }

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_start_s" -> Json.num(sessionStartS),
      "setup_end_epoch_s" -> Json.num(setupEnd),
      "setup_cpu_s" -> Json.num(setupCpu),
      "untraced_pass_walls" -> Json.nums(r.untracedWalls),
      "untraced_pass_cpu" -> Json.nums(r.untracedCpu),
      "traced_pass_walls" -> Json.nums(r.tracedWalls),
      "samples" -> Json.arr(r.samples.map(s => Json.obj(Seq(
        "name" -> Json.str(s.name), "pass" -> s.pass.toString, "wall_s" -> Json.num(s.wallS),
        "cpu_s" -> Json.num(s.cpuS), "ok" -> s.ok.toString, "traced" -> s.traced.toString)))),
      "failures" -> Json.arr(r.failures.map(f => Json.obj(Seq(
        "name" -> Json.str(f.name), "phase" -> Json.str(f.phase), "error" -> Json.str(f.error))))),
      "checks" -> Json.arr(r.checks.map { case (n, ok, d) => Json.obj(Seq(
        "name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "peak_rss_mb" -> Json.num(rss),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "self_time" -> Json.obj(summary.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(work.resolve("result.json"), json)
    spark.stop()
  }
}
