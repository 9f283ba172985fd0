package graft

/** Plan-audit main: dumps the formatted physical plan of EVERY
  * declared query (or an explicit subset passed as trailing args) so
  * pushdown/broadcast/codegen regressions are visible in review.
  *
  * The list is DERIVED from `SparkEntry.queries.keys` — r14 carried a
  * hand-kept list that had silently drifted to 288/380, so the
  * zero-CartesianProduct gate only covered 76% of the inventory. A
  * derived list cannot drift: a new query is in the next dump by
  * construction.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.local(8)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch {
        case e: Throwable =>
          // a failed plan build must be VISIBLE in the dump, not
          // abort the remaining queries
          println(s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
