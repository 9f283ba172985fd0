package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

class CodegenCacheSpec extends AnyFunSuite {
  import TestSession._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("Session.local sizes Spark's codegen cache to CodegenCacheEntries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Session.CodegenCacheEntries.toString)
  }

  test("a working set larger than Spark's default cache compiles each class once") {
    // 150 frames with distinct generated source (the int literal is
    // inlined), more than the default 100-entry cache holds
    val frames = (1 to 150).map(i => spark.range(8).selectExpr(s"id * $i + 1"))
    def round(): Unit = frames.foreach(_.write.format("noop").mode("overwrite").save())
    round()
    val before = compiles
    round()
    assert(compiles - before == 0)
  }
}
