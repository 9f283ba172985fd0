package graft

import scala.collection.mutable

/** Per-job profiling main (guide §1: measure first): runs one or more
  * declared queries to the noop sink on a fresh session and prints,
  * for each query, every Spark job's wall time, stage/task counts and
  * the DRIVER GAP preceding it (time between the previous job's end
  * and this job's start — scheduling, planning, collect processing)
  * and its description: the materialize site, table scan or named
  * driver action that started it (see operators.Materialize).
  * The gap column is what separates "the cluster is computing" from
  * "the driver is pacing the query" on multi-action operators.
  *
  * Usage: ProfileQ <sfDir> <query> [query...]   (dev tool, not part
  * of the driver contract; reps fixed at 2 — first run absorbs JIT,
  * the second is the reported profile.)
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQ <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus)

    final case class JobRow(id: Int, start: Long, var end: Long,
                            var stages: Int, var tasks: Int, desc: String)
    val jobs = mutable.ArrayBuffer.empty[JobRow]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          jobs += JobRow(e.jobId, e.time, -1L, e.stageInfos.size,
            e.stageInfos.map(_.numTasks).sum, desc.take(60))
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup so the first profiled query doesn't absorb session/JIT
    try SparkEntry.queries("q_agg_pushdown")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    names.foreach { n =>
      (1 to 2).foreach { rep =>
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        if (rep == 2) {
          println(f"\n===== $n rep$rep wall=$wall%.3f s =====")
          println(f"${"job"}%4s ${"gap_ms"}%7s ${"run_ms"}%7s ${"stg"}%4s ${"task"}%5s  desc")
          var prevEnd = -1L
          var gapSum = 0L; var runSum = 0L
          jobs.synchronized(jobs.sortBy(_.start)).foreach { j =>
            val gap = if (prevEnd < 0) 0L else math.max(0L, j.start - prevEnd)
            val run = if (j.end > 0) j.end - j.start else -1L
            gapSum += gap; runSum += math.max(0L, run)
            println(f"${j.id}%4d $gap%7d $run%7d ${j.stages}%4d ${j.tasks}%5d  ${j.desc}")
            prevEnd = math.max(prevEnd, j.end)
          }
          println(f"jobs=${jobs.size} run_sum=${runSum}ms gap_sum=${gapSum}ms wall=${(wall * 1000).toLong}ms")
        }
      }
    }
    spark.stop()
  }
}
