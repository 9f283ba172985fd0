package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one materialization policy of graft's operators, and the names
  * of the Spark jobs a query runs while it is being built.
  *
  * A frame that several consumers read is materialized with
  * `df.materialize("<Module>.<operator>.<frame>")`: an EAGER
  * `localCheckpoint()` (the lazy form measured slower under AQE: the
  * deferred result stage recomputes in parallel consumer stages before
  * persistence lands). The blocks are lineage-free and not replicated:
  * they stay in executor storage for the session, a lost executor
  * fails the query instead of recomputing them, and a corpus-sized
  * frame pins corpus-sized storage.
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
  }
}
