package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration — filters
    // BOTH the dumps and oracle_sql.json so compare.py sees a
    // consistent pair (the driver never sets this)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written FIRST: if this process is killed
    // mid-dump (harness budget, OOM), the driver can still compare
    // every query that did finish — writing it last turned one r9
    // failure mode into a zeroed correctness artifact.
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // dumps run on a bounded pool: Spark schedules concurrent jobs
    // fine from multiple threads, the tiny sf0.01 jobs underutilize
    // the 32 local cores one at a time, and no query path mutates
    // session conf (grep-checked; Tables.events' nanosAsLong set is
    // idempotent same-value). coalesce(1), NOT repartition(1): the
    // driver's compare is order-sensitive and round-robin
    // repartition would fetch sorted upstream blocks in
    // nondeterministic order; coalesce preserves the global sort.
    val queries = SparkEntry.queries
    val names   = queries.keys.toSeq.sorted.filter(keep)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val futs = names.map { name =>
      Future {
        val t0 = System.nanoTime()
        try {
          queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futs), Duration.Inf)
    pool.shutdown()
    spark.stop()
  }
}
