package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materialize
import graft.operators.Materialize._

class MaterializeSpec extends AnyFunSuite {
  import TestSession._

  private val Desc  = "spark.job.description"
  private val Group = "spark.jobGroup.id"

  /** (job group, description) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val sc   = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty(Group), e.properties.getProperty(Desc)))
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graftshim.BusDrain(sc)
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("a materialize site's checkpoint jobs carry its name; the caller's group and description come back") {
    val sc = spark.sparkContext
    sc.setJobGroup("materialize-spec", "caller description")
    try {
      val jobs = jobsOf {
        val df = spark.range(0, 1000).groupBy(col("id") % 7).count().materialize("Spec.site.frame")
        assert(sc.getLocalProperty(Desc) === "caller description")
        assert(df.count() === 7)
      }
      val (site, after) = jobs.partition(_._2 == "materialize Spec.site.frame")
      assert(site.nonEmpty, jobs)
      assert(after.nonEmpty && after.forall(_._2 == "caller description"), jobs)
      assert(jobs.forall(_._1 == "materialize-spec"), jobs)
      assert(sc.getLocalProperty(Group) === "materialize-spec")
    } finally sc.clearJobGroup()
  }

  test("the prior description and job group are restored when the checkpointed plan throws") {
    val sc = spark.sparkContext
    sc.setJobGroup("materialize-spec", "caller description")
    try {
      val failing = spark.range(0, 10)
        .select(when(col("id") === 5, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
      val jobs = jobsOf {
        intercept[Exception](failing.materialize("Spec.failing.frame"))
        intercept[Exception](Materialize.named("collect Spec.failing.action")(failing.collect()))
      }
      assert(jobs.map(_._2).toSet === Set("materialize Spec.failing.frame", "collect Spec.failing.action"), jobs)
      assert(sc.getLocalProperty(Desc) === "caller description")
      assert(sc.getLocalProperty(Group) === "materialize-spec")
    } finally sc.clearJobGroup()
    // no caller description: none is left behind either
    intercept[Exception](Materialize.named("collect Spec.failing.action")(spark.range(0, 10)
      .select(raise_error(lit("boom"))).collect()))
    assert(sc.getLocalProperty(Desc) === null)
  }

  private def resourceLines(name: String): Seq[String] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(name), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList finally src.close()
  }

  test("every materialize site has a row in materialize_sites.txt with its reason, and every row is a live site") {
    val ledger = resourceLines("/build_jobs_ledger.txt")
      .flatMap(_.split(": ", 2).lift(1).toSeq.flatMap(_.split("; ")))
      .collect { case n if n.startsWith("materialize ") => n.stripPrefix("materialize ") }.toSet
    val rows = resourceLines("/materialize_sites.txt").map(_.split("\\s+").toSeq)
    rows.foreach(r => assert(r.length == 2 && Set("pid", "loop", "measured")(r(1)), s"bad row: ${r.mkString(" ")}"))
    val priced = rows.map(_.head)
    assert(priced.distinct.length === priced.length, "one row per site")
    val call = """\.materialize(?:Counted)?\("([^"]+)"\)""".r
    val inMain = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main", "scala"))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally files.close()
    }.flatMap(f => call.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).map(_.group(1)))
      .filterNot(_.startsWith("<")).toSet
    assert(inMain.nonEmpty)
    assert((ledger ++ inMain) -- priced === Set.empty[String], "sites without a row in materialize_sites.txt")
    assert(priced.toSet -- (ledger ++ inMain) === Set.empty[String], "rows naming no site the ledger or src/main uses")
  }
}
