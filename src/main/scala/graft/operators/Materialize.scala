package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one materialization policy of graft's operators, and the names
  * of the Spark jobs a query runs while it is being built.
  *
  * `df.materialize("<Module>.<operator>.<frame>")` is an EAGER
  * `localCheckpoint()` (the lazy form measured slower under AQE: the
  * deferred result stage recomputes in parallel consumer stages before
  * persistence lands). The blocks are lineage-free and not replicated:
  * they stay in executor storage for the session, a lost executor
  * fails the query instead of recomputing them, and a corpus-sized
  * frame pins corpus-sized storage.
  *
  * Every site runs at least one job before the action, so a site
  * exists for one of three reasons, recorded per site in
  * `src/test/resources/materialize_sites.txt` (MaterializeSpec fails on
  * a site without a row):
  *  - `pid`: it freezes a nondeterministic column that several
  *    consumers read — `spark_partition_id()` after
  *    `repartitionByRange`, which a recomputation may assign
  *    differently;
  *  - `loop`: it truncates lineage in, or seeds the convergence
  *    check of, a loop whose trip count depends on the data, where
  *    the plan would otherwise grow without bound;
  *  - `measured`: leaving the frame unmaterialized was measured slower,
  *    or to run more jobs, at sf0.1 (OPTIMIZATION_r16.md,
  *    "Materialization sites priced").
  *
  * A site's jobs carry the description `materialize <site>`; [[named]]
  * names the other driver actions on a build path (`scan <table>`,
  * `count <site>`, ...). Only the thread's `spark.job.description` is
  * set, and restored afterwards, so the caller's job group (per-query
  * cancellation, trace spans) is untouched.
  */
object Materialize {
  private val Description = "spark.job.description"

  /** Run `body` with its jobs described as `name`. */
  def named[T](name: String)(body: => T): T = describe(SparkSession.active.sparkContext, name)(body)

  private def describe[T](sc: SparkContext, name: String)(body: => T): T = {
    val prior = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, name)
    try body finally sc.setLocalProperty(Description, prior)
  }

  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    /** Eagerly checkpoint this frame, its jobs described as `materialize <site>`. */
    def materialize(site: String): DataFrame =
      describe(df.sparkSession.sparkContext, s"materialize $site")(df.localCheckpoint())

    /** [[materialize]], plus the frame's row count, observed by the
      * checkpoint job itself rather than by a second `count()` job.
      */
    def materializeCounted(site: String): (DataFrame, Long) = {
      val obs = new Observation
      val out = df.observe(obs, count(lit(1)).as("n")).materialize(site)
      (out, obs.get("n").asInstanceOf[Long])
    }
  }
}
