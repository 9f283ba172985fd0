package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

object TestSession {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSession._

  test("entry smoke: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows at sf0.001") {
    // Build-time job ledger: every job a closure starts while it
    // builds its DataFrame (before the action) must carry a name —
    // a materialize site, a table scan or a named driver action — and
    // each query's set of names must equal the committed ledger. The
    // build runs under job group build:<query>; jobs are attributed by
    // that group in their own properties, never by arrival order on
    // the asynchronous listener bus. The actual ledger is written to
    // target/build_jobs_ledger.txt on every run; copy it over
    // src/test/resources/build_jobs_ledger.txt to accept a change.
    val sc = spark.sparkContext
    val built = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.jobGroup.id")).filter(_.startsWith("build:"))
          .foreach(g => built.add(g.stripPrefix("build:") -> e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        sc.setJobGroup(s"build:$name", null)
        val df = try fn(spark, sf) finally sc.clearJobGroup()
        val n = df.count()
        assert(n > 0, s"$name returned no rows")
      }
      org.apache.spark.graftshim.BusDrain(sc)
    } finally sc.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val byQuery = built.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val Named = "(materialize|scan|collect|count|head|isEmpty|aggregate) [A-Za-z0-9_.]+".r
    val unnamed = byQuery.filter(_._2.exists(d => d == null || !Named.matches(d)))
    assert(unnamed.isEmpty, s"build-time jobs without a site name: $unnamed")
    def line(q: String, ds: Set[String]) = s"$q: ${ds.toSeq.sorted.mkString("; ")}"
    java.nio.file.Files.write(java.nio.file.Paths.get("target", "build_jobs_ledger.txt"),
      byQuery.toSeq.sortBy(_._1).map((line _).tupled).mkString("", "\n", "\n").getBytes("UTF-8"))
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream("/build_jobs_ledger.txt"), "UTF-8")
    val expected = try src.getLines().map(_.split(": ", 2)).map(a => a(0) -> a(1).split("; ").toSet).toMap
      finally src.close()
    // TimeSeries.ema memoizes its route probe per plan for the JVM's
    // lifetime, so the probe job is missing when an earlier spec in
    // this JVM already built the same ema
    val memoized = "head TimeSeries.ema.maxKeyRows"
    val diff = (byQuery.keySet ++ expected.keySet).toSeq.sorted.flatMap { q =>
      val (got, want) = (byQuery.getOrElse(q, Set.empty[String]), expected.getOrElse(q, Set.empty[String]))
      if (got == want || got + memoized == want) Nil
      else Seq(s"- ${line(q, want)}", s"+ ${line(q, got)}")
    }
    assert(diff.isEmpty, s"build-time jobs differ from the ledger (- ledger, + this run):\n${diff.mkString("\n")}")
  }

  test("every query key with an oracle exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    // and the converse: a query without an oracle is never compared
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"query without oracle: $unchecked")
    // the maps are keyed by name, so a second record under one name
    // would silently replace the first
    val twice = graft.queries.Query.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(twice.isEmpty, s"registered twice: $twice")
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracle: $empty")
    val undeclared = (Bench.ScaleQueries ++ Bench.ScaleQuadratic).filterNot(SparkEntry.queries.contains)
    assert(undeclared.isEmpty, s"Bench scale lists name undeclared queries: $undeclared")
  }

  test("latest_per_key yields exactly one row per key") {
    val df = Relational.latestPerKey(Tables.events(spark, sf))
    import spark.implicits._
    val dup = df.groupBy($"user_id").count().filter($"count" > 1).count()
    assert(dup === 0)
  }

  test("salted join returns exactly the plain join's rows") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val o  = Tables.orders(spark, sf)
    val plain  = li.join(o, $"l_orderkey" === $"o_orderkey").select($"l_orderkey", $"l_linenumber", $"o_totalprice")
    val salted = Relational.saltedJoin(li, o, "l_orderkey", "o_orderkey", "l_partkey", 8)
      .select($"l_orderkey", $"l_linenumber", $"o_totalprice")
    assert(salted.exceptAll(plain).count() === 0 && plain.exceptAll(salted).count() === 0)
  }

  test("auto-routed salted join: hot keys take the salted plan, uniform keys the plain one, rows identical") {
    import spark.implicits._
    // hot: ~90% of 4000 rows on key 0; uniform: 4000 rows over 100 keys
    val hot = (0 until 4000).map(i => (i.toLong, if (i % 10 < 9) 0L else i.toLong % 100))
      .toDF("row_id", "k")
    val uni = (0 until 4000).map(i => (i.toLong, i.toLong % 100)).toDF("row_id", "k")
    val dim = spark.range(0, 100).select($"id".as("dk"), ($"id" * 7).as("w"))
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val autoHot = Relational.saltedJoinAuto(hot, dim, "k", "dk", "row_id", 8)
    val autoUni = Relational.saltedJoinAuto(uni, dim, "k", "dk", "row_id", 8)
    // routing: the salted plan carries the __salt join key, the
    // plain one must not
    assert(planOf(autoHot).contains("__salt"), "hot-key frame must route to the salted join")
    assert(!planOf(autoUni).contains("__salt"), "uniform frame must keep the plain join")
    // results: both routes are row-identical to the plain join —
    // the property that makes a sampled router safe
    val plainHot = hot.join(dim, $"k" === $"dk").select($"row_id", $"w")
    val plainUni = uni.join(dim, $"k" === $"dk").select($"row_id", $"w")
    assert(autoHot.select($"row_id", $"w").exceptAll(plainHot).count() === 0 &&
      plainHot.exceptAll(autoHot.select($"row_id", $"w")).count() === 0)
    assert(autoUni.select($"row_id", $"w").exceptAll(plainUni).count() === 0 &&
      plainUni.exceptAll(autoUni.select($"row_id", $"w")).count() === 0)
  }

  test("abc classes: shares sum to 1, parts conserve, classes ordered by construction") {
    import spark.implicits._
    val got = Relational.abcClasses(Tables.lineitem(spark, sf)).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_parts"), r.getAs[Double]("rev_share"))).toMap
    val totalParts = Tables.lineitem(spark, sf).select($"l_partkey").distinct().count()
    assert(got.values.map(_._1).sum === totalParts, "every part lands in exactly one class")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9, "class shares must sum to 1")
    // the 80/95 cuts make shares decrease A >= B >= C on any
    // non-degenerate catalog
    assert(got.contains("A") && got.contains("C"))
    assert(got("A")._2 >= got.getOrElse("B", (0L, 0.0))._2)
    assert(got.getOrElse("B", (0L, 1.0))._2 >= got("C")._2)
    assert(got("A")._1 < totalParts, "A must not swallow the catalog")
  }

  test("key skew: hand-built distribution, identities hold") {
    import spark.implicits._
    // 10 keys with 1 row, 1 key with 90 rows
    val rows = (1 to 10).map(k => (k.toLong, 1)) ++ Seq((99L, 90))
    val df = rows.flatMap { case (k, n) => Seq.fill(n)(k) }.zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("row_id", "k")
    val r = Relational.keySkew(df, "k").head()
    assert(r.getAs[Long]("n_keys") === 11L && r.getAs[Long]("n_rows") === 100L)
    assert(r.getAs[Long]("max_per_key") === 90L)
    assert(r.getAs[Double]("p50") === 1.0)
    assert(math.abs(r.getAs[Double]("mean_per_key") - 100.0 / 11) < 1e-9)
    assert(math.abs(r.getAs[Double]("skew_ratio") - 90.0 / (100.0 / 11)) < 1e-9)
  }

  test("fk integrity: a planted orphan is counted, clean relations read zero") {
    import TestSession.spark.implicits._
    import graft.operators.Relational
    val orders = Seq((1L, 10L, "O", 100.0, java.sql.Date.valueOf("2024-01-05"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    // two lines reference order 1; two lines reference the MISSING order 99
    val lineitem = Seq((1L, 5L, 7L), (1L, 5L, 7L), (99L, 5L, 7L), (99L, 6L, 7L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    val customer = Seq((10L, 100L)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((7L, 100L)).toDF("s_suppkey", "s_nationkey")
    val part     = Seq(5L, 6L).toDF("p_partkey")
    val nation   = Seq((100L, 200L)).toDF("n_nationkey", "n_regionkey")
    val region   = Seq(200L).toDF("r_regionkey")
    val got = Relational.fkIntegrity(orders, lineitem, customer, supplier, part, nation, region)
      .collect().map(r => r.getString(0) -> r).toMap
    val bad = got("lineitem.l_orderkey->orders")
    assert(bad.getAs[Long]("child_rows") === 4L)
    assert(bad.getAs[Long]("orphan_rows") === 2L)
    assert(bad.getAs[Long]("orphan_keys") === 1L)
    assert(bad.getAs[Double]("orphan_rate") === 0.5)
    assert(got("lineitem.l_partkey->part").getAs[Long]("orphan_rows") === 0L)
    assert(got("nation.n_regionkey->region").getAs[Long]("orphan_rows") === 0L)
    assert(got.size === 7)
  }

  test("seasonal index: two observed months at 100 and 300 read exactly 0.5 and 1.5") {
    import TestSession.spark.implicits._
    import graft.operators.Relational
    val orders = Seq(
      (1L, java.sql.Date.valueOf("2024-01-05"), 100.0),
      (2L, java.sql.Date.valueOf("2024-02-05"), 200.0),
      (3L, java.sql.Date.valueOf("2024-02-20"), 100.0)
    ).toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = Relational.seasonalIndex(orders).orderBy("month").collect()
    assert(got.map(_.getAs[Long]("month")).toSeq === Seq(1L, 2L))
    assert(got.map(_.getAs[Double]("revenue")).toSeq === Seq(100.0, 300.0))
    assert(got.map(_.getAs[Double]("seasonal_index")).toSeq === Seq(0.5, 1.5))
  }

  test("reconcile: identical tables fully match; planted drift is counted exactly") {
    import spark.implicits._
    val a = (1L to 100L).map(i => (i, i * 2, s"t$i")).toDF("id", "v", "s")
    val same = Relational.reconcile(a, a, "id", Seq("v", "s")).head()
    assert(same.getAs[Long]("n_match") === 100L && same.getAs[Long]("only_a") === 0L &&
      same.getAs[Long]("only_b") === 0L && same.getAs[Long]("n_diff") === 0L)
    // b: drop ids 1-5, corrupt ids 6-10, add ids 101-102
    val b = ((6L to 100L).map(i => (i, if (i <= 10) i * 2 + 1 else i * 2, s"t$i")) ++
      Seq((101L, 0L, "x"), (102L, 0L, "y"))).toDF("id", "v", "s")
    val r = Relational.reconcile(a, b, "id", Seq("v", "s")).head()
    assert(r.getAs[Long]("n_a") === 100L && r.getAs[Long]("n_b") === 97L)
    assert(r.getAs[Long]("only_a") === 5L && r.getAs[Long]("only_b") === 2L)
    assert(r.getAs[Long]("n_diff") === 5L && r.getAs[Long]("n_match") === 90L)
  }

  test("contribution delta: shares sum to 1 and cells re-aggregate to the period totals") {
    import spark.implicits._
    val got = Relational.contributionDelta(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf),
      "1995-01-01", "1996-01-01", "1996-01-01", "1997-01-01").cache()
    val s = got.agg(sum($"rev_a"), sum($"rev_b"), sum($"delta"), sum($"share_of_move")).head()
    assert(math.abs((s.getDouble(1) - s.getDouble(0)) - s.getDouble(2)) < 1e-4,
      "total delta must equal total rev_b - rev_a")
    assert(math.abs(s.getDouble(3) - 1.0) < 1e-4, s"shares must sum to 1, got ${s.getDouble(3)}")
    got.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("delta") -
        (r.getAs[Double]("rev_b") - r.getAs[Double]("rev_a"))) < 1e-6)
    }
    got.unpersist()
  }

  test("pareto frontier equals the brute-force dominance scan") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val o  = Tables.orders(spark, sf)
    val pts = li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_partkey")
      .agg(
        min($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("x"),
        min(datediff(date_trunc("day", $"l_shipdate"), date_trunc("day", $"o_orderdate")))
          .cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val want = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) => qx <= x && qy <= y && (qx < x || qy < y) }
    }.map(_._1).toSet
    val got = Relational.paretoFrontier(li, o).collect().map(_.getLong(0)).toSet
    assert(got === want, s"missing=${want -- got} extra=${got -- want}")
    assert(got.nonEmpty)
  }

  test("unpivot: exactly 4 rows per bar and pivoting back recovers the wide bar") {
    import spark.implicits._
    val long = Relational.unpivotOhlc(Tables.events(spark, sf)).cache()
    val bars = Relational.ohlcResample(Tables.events(spark, sf))
    assert(long.count() === bars.count() * 4)
    val over = long.groupBy($"user_id", $"bar_start").count().filter($"count" =!= 4).count()
    assert(over === 0)
    // melt is lossless: pivot the long frame back and diff against the wide bars
    val back = long.groupBy($"user_id", $"bar_start")
      .agg(
        max(when($"field" === "open", $"px")).as("open"),
        max(when($"field" === "high", $"px")).as("high"),
        max(when($"field" === "low", $"px")).as("low"),
        max(when($"field" === "close", $"px")).as("close"))
    val wide = bars.select($"user_id", $"bar_start", $"open", $"high", $"low", $"close")
    assert(back.exceptAll(wide).count() === 0 && wide.exceptAll(back).count() === 0)
    long.unpersist()
  }

  test("topn caps group size") {
    val df = Relational.topNPerGroup(Tables.orders(spark, sf), 3)
    import spark.implicits._
    val over = df.groupBy($"o_custkey").count().filter($"count" > 3).count()
    assert(over === 0)
  }

  test("interval join: containment, boundaries, latest-start-wins") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-01T10:$m%02d:00Z"))
    val facts = Seq(
      (1L, t(0), 100L, 1.0),  // on open boundary of I1 -> matches I1
      (1L, t(5), 101L, 2.0),  // inside I1 and I2; I2 started later -> I2
      (1L, t(20), 102L, 3.0), // past both ends -> no match
      (2L, t(5), 103L, 4.0))  // other key, no intervals -> no match
      .toDF("user_id", "ts", "event_id", "value")
    val ivls = Seq(
      (1L, t(0), t(10), 10.0),  // I1
      (1L, t(4), t(14), 20.0))  // I2
      .toDF("user_id", "ivl_from", "ivl_to", "ivl_val")
    val got = Relational.intervalJoin(facts, ivls)
      .select($"event_id", $"ivl_val").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((100L, 10.0), (101L, 20.0)))
    // validation mode passes conforming input through unchanged
    val checked = Relational.intervalJoin(facts, ivls, validate = true)
      .select($"event_id", $"ivl_val").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(checked === got)
  }

  test("interval join validation raises on duplicate starts and regressing ends") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-01T10:$m%02d:00Z"))
    val facts = Seq((1L, t(5), 100L, 1.0)).toDF("user_id", "ts", "event_id", "value")
    def messages(x: Throwable): Seq[String] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    // duplicate starts: two intervals open on the same tick
    val dup = Seq((1L, t(0), t(10), 10.0), (1L, t(0), t(12), 20.0))
      .toDF("user_id", "ivl_from", "ivl_to", "ivl_val")
    val e1 = intercept[Exception] {
      Relational.intervalJoin(facts, dup, validate = true).collect()
    }
    assert(messages(e1).exists(_.contains("duplicate interval start")), messages(e1).mkString(" | "))
    // regressing end: an earlier interval outlives a later one —
    // forward-fill would silently drop facts it still covers
    val regress = Seq((1L, t(0), t(14), 10.0), (1L, t(4), t(10), 20.0))
      .toDF("user_id", "ivl_from", "ivl_to", "ivl_val")
    val e2 = intercept[Exception] {
      Relational.intervalJoin(facts, regress, validate = true).collect()
    }
    assert(messages(e2).exists(_.contains("interval end regresses")), messages(e2).mkString(" | "))
    // the silent behavior the guard exists for: without validation the
    // non-conforming input drops the fact an open interval still covers
    assert(Relational.intervalJoin(
      facts.withColumn("ts", org.apache.spark.sql.functions.lit(t(12))), regress).count() === 0)
  }

  test("min-cost supplier equals the composed grouped-min formulation") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val got = Relational.minCostSupplier(
      Tables.part(spark, sf), Tables.supplier(spark, sf),
      Tables.nation(spark, sf), Tables.lineitem(spark, sf), 10)
      .select($"p_partkey", $"s_suppkey")
    val cost = Tables.lineitem(spark, sf).filter($"l_quantity" > 0)
      .select($"l_partkey", $"l_suppkey", ($"l_extendedprice" / $"l_quantity").as("uc"))
    val mins = cost.groupBy($"l_partkey").agg(min($"uc").as("mc"))
    val want = Tables.part(spark, sf).filter($"p_size" <= 10)
      .join(cost, $"p_partkey" === cost("l_partkey"))
      .join(mins, "l_partkey")
      .filter($"uc" === $"mc")
      .select($"p_partkey", $"l_suppkey".as("s_suppkey"))
      .distinct()
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "SQL decorrelated result differs from the composed formulation")
  }

  test("dormant rich customers equals the composed anti-join formulation") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val Money = org.apache.spark.sql.types.DecimalType(18, 2)
    val cust   = Tables.customer(spark, sf)
    val stats  = cust.filter($"c_acctbal" > 0)
      .agg(sum($"c_acctbal".cast(Money)).as("s"), count(lit(1)).as("n")).head()
    val (s, n) = (stats.getDecimal(0), stats.getLong(1))
    val want = cust
      .filter($"c_acctbal".cast(Money) * lit(java.math.BigDecimal.valueOf(n)) > lit(s))
      .join(Tables.orders(spark, sf).filter($"o_totalprice" > 400000.0),
        $"o_custkey" === $"c_custkey", "left_anti")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_custs"), sum($"c_acctbal".cast(Money)).cast("double").as("total_bal"))
    val got = Relational.dormantRichCustomers(cust, Tables.orders(spark, sf))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "SQL Q22 shape differs from the composed formulation")
  }

  test("bloom-filtered join: exactly the plain join's rows, and the probe genuinely prunes") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val li   = Tables.lineitem(spark, sf)
    val ords = Tables.orders(spark, sf).filter($"o_totalprice" > 450000.0)
    val got  = Relational.bloomFilteredJoin(li, ords, "l_orderkey", "o_orderkey")
    val want = li.join(ords, $"l_orderkey" === $"o_orderkey")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "bloom reduction changed the join result")
    // no false negatives: every matching fact row passes the probe;
    // and on a selective dim the probe keeps strictly fewer rows
    // than the full fact scan (the transport saving)
    val bits = graft.operators.Dedup.bloomBitset(ords.select($"o_orderkey"), "o_orderkey", 1 << 20, 5)
    val kept = li.filter(graft.operators.Dedup.bloomProbe($"l_orderkey", bits, 5)).count()
    assert(kept >= want.count(), "a matching fact row failed the probe — false negative")
    assert(kept < li.count(), s"probe kept all ${li.count()} fact rows — no pruning happened")
  }

  test("Q12/Q14/Q19/Q21 shapes: class counts conserve, shares bounded, waits ordered") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val os = Tables.orders(spark, sf)
    // Q12: high + low must equal the windowed join's row count
    val q12 = Relational.shipPriorityClasses(li, os, "1997-01-01", "1998-01-01")
    val joinedN = li
      .filter($"l_shipdate" >= "1997-01-01" && $"l_shipdate" < "1998-01-01")
      .join(os, $"l_orderkey" === $"o_orderkey").count()
    assert(q12.agg(sum($"high_count" + $"low_count")).head().getLong(0) === joinedN)
    // Q14: share in [0, 100], consistent with its own components
    val q14 = Relational.promoRevenueShare(li, Tables.part(spark, sf), "1997-01-01", "1997-03-01").head()
    val share = q14.getAs[Double]("promo_share")
    assert(share >= 0 && share <= 100, s"promo share $share out of range")
    assert(q14.getAs[Double]("total_revenue") > 0 && q14.getAs[Long]("n_lines") > 0)
    // Q19: the disjunctive filter is a strict subset of the plain join
    val q19 = Relational.brandSizeQtyRevenue(li, Tables.part(spark, sf)).head()
    assert(q19.getAs[Long]("n_lines") > 0 && q19.getAs[Long]("n_lines") < li.count())
    // Q21: counts positive, strictly ordered by (numwait desc, name)
    val q21 = Relational.waitingSuppliers(Tables.supplier(spark, sf), li, os).collect()
    assert(q21.nonEmpty && q21.forall(_.getAs[Long]("numwait") > 0))
    q21.sliding(2).foreach { p =>
      if (p.length == 2) {
        val (a, b) = (p(0), p(1))
        assert(a.getAs[Long]("numwait") > b.getAs[Long]("numwait") ||
          (a.getAs[Long]("numwait") == b.getAs[Long]("numwait") &&
            a.getAs[String]("s_name") < b.getAs[String]("s_name")))
      }
    }
  }

  test("Q4 shape: an order with many late lines counts exactly once") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val os = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val total = Relational.latePriorityOrders(os, li, "1996-01-01", "1997-01-01", 30)
      .agg(sum($"order_count")).head().getLong(0)
    // composed formulation: distinct qualifying order keys via join
    val distinctOrders = os
      .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01")
      .join(li, $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAY"))
      .select($"o_orderkey").distinct().count()
    assert(total === distinctOrders)
  }

  test("Q13 shape: the distribution conserves customers and includes the zero bucket") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val cs = Tables.customer(spark, sf)
    val dist = Relational.custOrderDistribution(cs, Tables.orders(spark, sf), "5-LOW")
    assert(dist.agg(sum($"custdist")).head().getLong(0) === cs.count(),
      "distribution buckets do not partition the customer set")
  }

  test("Q15 shape: every returned supplier carries exactly the maximum revenue") {
    import org.apache.spark.sql.functions._
    import TestSession.spark.implicits._
    val top = Relational.topSupplier(Tables.supplier(spark, sf), Tables.lineitem(spark, sf),
      "1996-01-01", "1996-04-01").collect()
    assert(top.nonEmpty)
    val revs = top.map(_.getAs[Double]("total_revenue")).distinct
    assert(revs.length === 1, s"tie set carries unequal revenues: ${revs.toSeq}")
    // recompute the max independently (double-rounded decimal path)
    val mx = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1996-04-01")
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)")))).as("r"))
      .agg(max($"r".cast("double"))).head().getDouble(0)
    assert(revs.head === mx)
  }

  test("Q16 shape: excluded brand/type absent; counts bounded by the supplier universe") {
    import TestSession.spark.implicits._
    val out = Relational.supplierCountByPart(Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.lineitem(spark, sf)).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[String]("p_brand") != "Brand#1" &&
      r.getAs[String]("p_type") != "PROMO"))
    val nSupp = Tables.supplier(spark, sf).count()
    assert(out.forall(_.getAs[Long]("supplier_cnt") <= nSupp))
  }

  test("Q7/Q8 shapes: only the requested nation pair appears; market share bounded") {
    import TestSession.spark.implicits._
    val q7 = Relational.volumeShipping(Tables.supplier(spark, sf), Tables.lineitem(spark, sf),
      Tables.orders(spark, sf), Tables.customer(spark, sf), Tables.nation(spark, sf),
      "NATION_3", "NATION_5").collect()
    assert(q7.nonEmpty)
    assert(q7.forall { r =>
      val pair = (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))
      pair == ("NATION_3", "NATION_5") || pair == ("NATION_5", "NATION_3")
    })
    val q8 = Relational.marketShare(Tables.part(spark, sf), Tables.supplier(spark, sf),
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.region(spark, sf),
      "NATION_3", "ASIA", "STANDARD").collect()
    assert(q8.nonEmpty)
    assert(q8.forall { r =>
      val s = r.getAs[Double]("mkt_share"); s >= 0.0 && s <= 1.0
    })
  }

  test("merge upsert: last writer wins with insert/update/carry accounting") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // key 1: base rows only -> carry (latest base value wins)
    // key 2: base + change -> update (change wins even with lower value)
    // key 3: change only -> insert
    // key 4: equal-ts tie inside changes -> higher event_id wins
    val cutoffUs = 1705708800000000L // 2024-01-20T00:00:00Z
    val rows = Seq(
      (1L, 10L, cutoffUs - 2000000L, 5.0),
      (1L, 11L, cutoffUs - 1000000L, 6.0),
      (2L, 20L, cutoffUs - 1000000L, 9.0),
      (2L, 21L, cutoffUs + 1000000L, 3.0),
      (3L, 30L, cutoffUs + 2000000L, 7.0),
      (4L, 40L, cutoffUs + 5000000L, 1.0),
      (4L, 41L, cutoffUs + 5000000L, 2.0))
    val ev = rows.toDF("user_id", "event_id", "us", "value")
      .select($"user_id", $"event_id", timestamp_micros($"us").as("ts"), $"value")
    val got = graft.operators.Relational.mergeUpsert(ev, "2024-01-20")
      .orderBy($"user_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("ts_us"), r.getAs[Double]("value"), r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, cutoffUs - 1000000L, 6.0, "carry"),
      (2L, cutoffUs + 1000000L, 3.0, "update"),
      (3L, cutoffUs + 2000000L, 7.0, "insert"),
      (4L, cutoffUs + 5000000L, 2.0, "insert")))
  }

  test("basket pairs: hand-built co-occurrence with exact support and lift") {
    import spark.implicits._
    // orders: o1{1,2,3}, o2{1,2}, o3{1,2}, o4{3} -> pair (1,2) co-occurs 3x
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val got = Relational.basketPairs(li, minCount = 2, k = 10).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((1L, 2L, 3L, 3L, 3L)))
    assert(r.getAs[Double]("support") === 0.75)
    assert(r.getAs[Double]("lift") === BigDecimal(3.0 * 4 / 9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("revenue cohorts: month offsets exact, revenue decimal-summed, cells partition orders") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, 10L, d("2024-01-05"), 10.0), (2L, 10L, d("2024-03-20"), 20.0),
      (3L, 11L, d("2024-02-10"), 5.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = Relational.revenueCohorts(orders)
      .withColumn("cohort", date_format($"cohort", "yyyy-MM"))
      .orderBy($"cohort", $"offset_m").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("2024-01", 0L, 1L, 1L, 10.0),
      ("2024-01", 2L, 1L, 1L, 20.0),
      ("2024-02", 0L, 1L, 1L, 5.0)))
  }

  test("rfm: quartile scores bounded, extremes score 4, population preserved") {
    import spark.implicits._
    val orders = Tables.orders(spark, sf)
    val got = Relational.rfm(orders).collect()
    assert(got.length === orders.select($"o_custkey").distinct().count())
    got.foreach { r =>
      for (c <- Seq("r_score", "f_score", "m_score")) {
        val s = r.getAs[Int](c)
        assert(s >= 1 && s <= 4, s"$c out of range: $r")
      }
    }
    // the biggest spender must score m=4; a most-recent customer r=4
    val top = got.maxBy(_.getAs[Double]("monetary"))
    assert(top.getAs[Int]("m_score") === 4)
    val recent = got.minBy(_.getAs[Long]("recency_days"))
    assert(recent.getAs[Int]("r_score") === 4)
    // quartile cuts split the population: every score bucket is non-empty
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val seen = got.map(_.getAs[Int](c)).toSet
      assert(seen.contains(1) && seen.contains(4), s"$c never reaches an extreme: $seen")
    }
  }

  test("ship lag: hand-built lags give exact mean/median/p90 per priority") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq((1L, d("2024-01-01"), "1-URGENT"), (2L, d("2024-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    // lags: 1, 3, 10 days
    val li = Seq((1L, d("2024-01-02")), (1L, d("2024-01-04")), (2L, d("2024-01-11")))
      .toDF("l_orderkey", "l_shipdate")
    val r = Relational.shipLagProfile(li, orders).head()
    assert(r.getAs[Long]("n_lines") === 3L)
    assert(math.abs(r.getAs[Double]("mean_lag") - 14.0 / 3) < 1e-6)
    assert(r.getAs[Double]("median_lag") === 3.0)
    assert(math.abs(r.getAs[Double]("p90_lag") - (3.0 + 0.8 * 7)) < 1e-9)
    assert(r.getAs[Long]("max_lag") === 10L)
  }

  test("discount elasticity recovers an exact log-linear demand curve") {
    import spark.implicits._
    // quantity = exp(2 - 5*discount): slope -5, r2 = 1 (up to the
    // declared 6dp quantization of ln q)
    val discounts = Seq(0.0, 0.02, 0.04, 0.06, 0.08, 0.1)
    val li = discounts.zipWithIndex.map { case (d, i) =>
      (i.toLong, 1L, math.exp(2.0 - 5.0 * d), d) }
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_discount")
    val part = Seq((1L, "Brand#1")).toDF("p_partkey", "p_brand")
    val r = Relational.discountElasticity(li, part).head()
    assert(r.getAs[Long]("n_lines") === 6L)
    assert(math.abs(r.getAs[Double]("elasticity") - -5.0) < 1e-3)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-6)
  }

  test("profile: one row whose counts cross-check the direct aggregates, one job") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val p  = Relational.profileTable(ev).head()
    assert(p.getAs[Long]("n_rows") === ev.count())
    assert(p.getAs[Long]("n_users") === ev.select($"user_id").distinct().count())
    assert(p.getAs[Long]("n_event_types") === ev.select($"event_type").distinct().count())
    assert(p.getAs[Long]("value_nulls") === ev.filter($"value".isNull).count())
    assert(p.getAs[String]("ts_min") <= p.getAs[String]("ts_max"))
    assert(p.getAs[Double]("value_min") <= p.getAs[Double]("value_max"))
  }

  test("inequality indices: perfect equality reads exactly 0; a known split matches the textbook") {
    import spark.implicits._
    def mk(xs: Seq[Double]) = xs.zipWithIndex.map { case (x, i) =>
      (i.toLong * 100, i.toLong, x)
    }.toDF("o_orderkey", "o_custkey", "o_totalprice")
    val eq = graft.operators.Relational.inequalityIndices(mk(Seq.fill(8)(250.0))).head()
    assert(eq.getAs[Double]("theil_t") === 0.0 && eq.getAs[Double]("atkinson_1") === 0.0)
    assert(eq.getAs[Double]("mean_revenue") === 250.0)
    // half the customers earn 100, half 300: recompute Theil/Atkinson locally
    val xs = Seq.fill(4)(100.0) ++ Seq.fill(4)(300.0)
    val mu = xs.sum / xs.size
    val theil = xs.map(x => x / mu * math.log(x / mu)).sum / xs.size
    val atk   = 1.0 - math.exp(xs.map(math.log).sum / xs.size) / mu
    val got = graft.operators.Relational.inequalityIndices(mk(xs)).head()
    assert(math.abs(got.getAs[Double]("theil_t") - theil) < 1e-6)
    assert(math.abs(got.getAs[Double]("atkinson_1") - atk) < 1e-6)
  }

  test("supplier hhi: even split reads 1/n exactly; a dominant supplier reads the hand 0.9412") {
    import spark.implicits._
    val nation = Seq((1L, "EVEN"), (2L, "SKEW")).toDF("n_nationkey", "n_name")
    val supplier = (1 to 4).map(i => (i.toLong, 1L)) ++ (5 to 8).map(i => (i.toLong, 2L))
    val supDf = supplier.toDF("s_suppkey", "s_nationkey")
    // EVEN: 25 lines per supplier; SKEW: 1,1,1,97
    val lines = (1 to 4).flatMap(sk => Seq.fill(25)(sk.toLong)) ++
      Seq(5L, 6L, 7L) ++ Seq.fill(97)(8L)
    val li = lines.zipWithIndex.map { case (sk, i) => (i.toLong, sk) }
      .toDF("l_orderkey", "l_suppkey")
    val got = graft.operators.Relational.supplierHhi(li, supDf, nation).collect()
      .map(r => r.getString(0) -> r).toMap
    val even = got("EVEN")
    assert(even.getAs[Long]("n_suppliers") === 4L && even.getAs[Long]("n_lines") === 100L)
    assert(even.getAs[Double]("hhi") === 0.25)
    assert(even.getAs[Double]("effective_suppliers") === 4.0)
    val skew = got("SKEW")
    assert(skew.getAs[Double]("hhi") === 9412.0 / 10000.0)
    assert(skew.getAs[Double]("effective_suppliers") === 10000.0 / 9412.0)
  }
}
