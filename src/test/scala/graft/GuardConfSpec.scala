package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.plans.{AsOfJoinApi, BroadcastAsOfJoinExec, EmaAggregate}
import graft.streaming.Streams

class GuardConfSpec extends AnyFunSuite {
  import TestSession._

  test("a malformed numeric guard conf fails with an error naming the key and the value") {
    import spark.implicits._
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").mkString(" | ")
    def named(key: String)(body: => Any): Unit = {
      spark.conf.set(key, "abc")
      try {
        val chain = messages(intercept[Throwable](body))
        assert(chain.contains(s"IllegalArgumentException: $key must be a whole number, got 'abc'"), chain)
      } finally spark.conf.unset(key)
    }
    named(operators.Guards.PairSweepMaxKeys) {
      Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf), 0.45)
    }
    graft.plans.GraftFunctions.register(spark)
    named(EmaAggregate.MaxBufferRowsKey) {
      Seq((1L, 2.0)).toDF("t_us", "value").select(timestamp_micros($"t_us").as("ts"), $"value")
        .agg(expr("graft_ema(ts, value, 3)")).collect()
    }
    named(BroadcastAsOfJoinExec.MaxRowsKey) {
      val trades = Seq((1L, 100L)).toDF("id", "t_us").withColumn("ts", timestamp_micros($"t_us"))
      val quotes = Seq((100L, 1.0)).toDF("q_us", "qv").withColumn("qts", timestamp_micros($"q_us"))
      AsOfJoinApi.globalAsOfJoin(trades, quotes, "ts", "qts", "qv").collect()
    }
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Streams.SEv]
    val q = Streams.emaStream(mem.toDS(), span = 3)
      .writeStream.format("memory").queryName("guard_conf_test").outputMode("update").start()
    try named("graft.emaStream.maxKeys")(Streams.checkStateBound(q))
    finally q.stop()
  }
}
