package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

class StatsApproxSpec extends AnyFunSuite {
  import TestSession._

  test("codegen'd cleanText is bit-identical to the chained-regex twin, fixture and edge cases") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val fast = Stats.cleanNormalize(docs)
    val slow = Stats.cleanNormalizeRegex(docs)
    assert(fast.count() > 0)
    assert(fast.exceptAll(slow).count() === 0 && slow.exceptAll(fast).count() === 0)
    // adversarial shapes: empty, all-punct, runs of spaces around
    // dropped chars, leading/trailing space, multi-byte chars (every
    // UTF-8 continuation byte is >= 0x80, so byte filtering must drop
    // whole characters), digits, tabs/newlines (dropped, NOT spaces)
    val edge = Seq(
      (1L, ""), (2L, "!!! ??? ..."), (3L, "  a  !  b  "), (4L, "a!b"),
      (5L, "Héllo Wörld écho"), (6L, "MiXeD 123 CaSe"), (7L, " \t a \n b \t "),
      (8L, "ça va? 日本語 ok"), (9L, "   "), (10L, "a" * 5000 + "!" + "b" * 5000))
      .toDF("doc_id", "text")
    val ef = Stats.cleanNormalize(edge)
    val es = Stats.cleanNormalizeRegex(edge)
    assert(ef.exceptAll(es).count() === 0 && es.exceptAll(ef).count() === 0)
  }

  test("HLL distinct counts land within the configured error of exact") {
    import spark.implicits._
    val li    = Tables.lineitem(spark, sf)
    val exact = Stats.distinctCounts(li).select($"l_returnflag", $"n_orders".as("e_orders"))
    val appr  = Stats.approxDistinctCounts(li).select($"l_returnflag", $"n_orders".as("a_orders"))
    val bad = exact.join(appr, "l_returnflag")
      .filter(abs($"a_orders" - $"e_orders") > $"e_orders" * 0.1)
      .count()
    assert(bad === 0)
  }

  test("per-shard HLL sketches merge to the direct sketch's estimates") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val merged = Stats.mergeSketches(Stats.sketchDistinctByShard(li, 8))
    val direct = li.groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_sketch_agg($"l_orderkey")).as("direct_est"))
    // union of shard sketches tracks one sketch over everything
    // (union promotes the HLL representation, so estimates are
    // near- but not bit-identical) — the incremental path loses
    // nothing material
    val diff = merged.join(direct, "l_returnflag")
      .filter(abs($"n_orders_est" - $"direct_est") > $"direct_est" * 0.02).count()
    assert(diff === 0)
    // and the estimate is an estimate of the right thing
    val exact = Stats.distinctCounts(li).select($"l_returnflag", $"n_orders")
    val bad = merged.join(exact, "l_returnflag")
      .filter(abs($"n_orders_est" - $"n_orders") > $"n_orders" * 0.1).count()
    assert(bad === 0)
  }

  test("checked twins: all within_bound flags hold and exact columns match the exact operators") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val d  = Stats.approxDistinctChecked(li)
    assert(d.filter(!$"orders_within_bound" || !$"suppliers_within_bound").count() === 0)
    // exact columns are the countDistinct path, bit-equal to distinctCounts
    val mism = d.select($"l_returnflag", $"n_orders", $"n_suppliers")
      .exceptAll(Stats.distinctCounts(li).select($"l_returnflag", $"n_orders", $"n_suppliers"))
      .count()
    assert(mism === 0)

    val p = Stats.approxPercentilesChecked(Tables.events(spark, sf))
    assert(p.filter(!$"p25_within_bound" || !$"p50_within_bound" || !$"p90_within_bound").count() === 0)
    val pm = p.select($"event_type", $"p25_exact".as("p25"), $"p50_exact".as("p50"), $"p90_exact".as("p90"))
      .exceptAll(Stats.percentiles(Tables.events(spark, sf)))
      .count()
    assert(pm === 0)
  }

  test("rank-interval bound holds on tie-heavy data where a one-sided count would false-flag") {
    import spark.implicits._
    // 40% of rows share the minimum value, so percentile_approx(0.25)
    // legitimately returns it and count(<=v)/n = 0.40: a one-sided
    // rank check reads that as a 15pp error and false-flags an
    // in-contract answer; the interval check sees the value's rank
    // RANGE [0, 0.40] covering 0.25 and passes
    val vals = Seq.fill(400)(1.0) ++ (1 to 600).map(i => 1.0 + i / 100.0)
    val df   = vals.map(v => ("tie", v)).toDF("event_type", "value")
    val out  = Stats.approxPercentilesChecked(df)
    assert(out.filter(!$"p25_within_bound" || !$"p50_within_bound" || !$"p90_within_bound")
      .count() === 0)
  }

  test("t-digest percentiles land near exact quantiles") {
    import spark.implicits._
    val ev    = Tables.events(spark, sf)
    val exact = Stats.percentiles(ev).select($"event_type", $"p50".as("e50"))
    val appr  = Stats.approxPercentiles(ev).select($"event_type", $"p50".as("a50"))
    val bad = exact.join(appr, "event_type")
      .filter(abs($"a50" - $"e50") > 2.0)
      .count()
    assert(bad === 0)
  }

  test("CMS: one-sided bound, shard-merge == direct sketch, collisions do real work") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(explode(split(lower($"text"), " ")).as("tok"))
    // estimate >= exact count for EVERY token (not just the hot set)
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val est = Stats.cmsEstimate(Stats.cmsSketch(toks, "tok"), counts, "tok")
    val joined = counts.join(est, "tok")
    assert(joined.filter($"cms_est" < $"cnt").count() === 0)
    // w=16 on a real vocabulary must collide: some estimate strictly
    // exceeds its exact count, or the sketch is doing nothing
    assert(joined.filter($"cms_est" > $"cnt").count() > 0)
    // merging per-shard sketches == sketching the whole stream
    // (counter addition is commutative/associative)
    val sharded = (0 until 4).map(i =>
      Stats.cmsSketch(toks.filter(pmod(crc32($"tok"), lit(4)) === i), "tok"))
    val merged = Stats.cmsMerge(sharded.reduce(_ unionByName _))
    val direct = Stats.cmsSketch(toks, "tok")
    assert(merged.exceptAll(direct).count() === 0 &&
      direct.exceptAll(merged).count() === 0)
    // the gate face: every hot token flagged within bound
    val hh = Stats.heavyHittersChecked(docs)
    assert(hh.count() > 0)
    assert(hh.filter($"cms_upper_ok" === 0).count() === 0)
  }

  test("ks statistic: hand-computed case, zero on identical samples, bounded on the fixture") {
    import TestSession.spark
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex
      .map { case ((t, x), i) => (i.toLong, 1L, t, x) }
      .toDF("event_id", "user_id", "event_type", "value")
    // A = {1,2,3}, B = {2,3,4}: D = 1/3 at every interior jump
    val d1 = Stats.ksTest(ev(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0))), "a", "b").head()
    assert(d1.getAs[Long]("n_a") === 3L && d1.getAs[Long]("n_b") === 3L)
    assert(math.abs(d1.getAs[Double]("ks_stat") - 1.0 / 3) < 1e-6)
    // identical samples: D = 0 exactly
    val d2 = Stats.ksTest(ev(Seq(("a", 5.0), ("a", 7.0), ("b", 5.0), ("b", 7.0))), "a", "b").head()
    assert(d2.getAs[Double]("ks_stat") === 0.0)
    // fixture: D in [0, 1]
    val d3 = Stats.ksTest(Tables.events(spark, TestSession.sf), "view", "click").head()
    val ks = d3.getAs[Double]("ks_stat")
    assert(ks >= 0.0 && ks <= 1.0)
  }

  test("chi2: exactly zero on an independent table, dof correct on the fixture") {
    import TestSession.spark
    import spark.implicits._
    // counts = outer product structure -> E == O everywhere -> chi2 = 0
    // Mon 2024-01-01, Tue 2024-01-02
    def day(d: Int) = 1704067200000000L + (d - 1) * 86400000000L
    val rows =
      Seq.fill(2)(("a", day(1))) ++ Seq.fill(4)(("a", day(2))) ++
      Seq.fill(3)(("b", day(1))) ++ Seq.fill(6)(("b", day(2)))
    val ev = rows.zipWithIndex.map { case ((t, us), i) => (i.toLong, t, us) }
      .toDF("event_id", "event_type", "us")
      .select($"event_id", $"event_type", timestamp_micros($"us").as("ts"))
    val r = Stats.chi2Independence(ev).head()
    assert(r.getAs[Long]("n") === 15L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 0.0)
    val f = Stats.chi2Independence(Tables.events(spark, TestSession.sf)).head()
    assert(f.getAs[Long]("dof") === (5 - 1) * (7 - 1))
    assert(f.getAs[Double]("chi2") >= 0.0)
    // zero cells count: a perfectly dependent 2x2 (its off-diagonal
    // cells never occur) must read chi2 = n, not n/2
    val dep = (Seq.fill(10)(("a", day(1))) ++ Seq.fill(10)(("b", day(2))))
      .zipWithIndex.map { case ((t, us), i) => (i.toLong, t, us) }
      .toDF("event_id", "event_type", "us")
      .select($"event_id", $"event_type", timestamp_micros($"us").as("ts"))
    val d2 = Stats.chi2Independence(dep).head()
    assert(d2.getAs[Double]("chi2") === 20.0, "perfect association: chi2 == n")
  }

  test("grouping sets: every grain's total re-aggregates to the grand-total row") {
    import TestSession.spark
    import spark.implicits._
    val gs = Stats.groupingSetsSummary(Tables.lineitem(spark, TestSession.sf)).cache()
    val grand = gs.filter($"returnflag" === "ALL" && $"linestatus" === "ALL").head()
    for ((fc, lc) <- Seq(($"returnflag" =!= "ALL", $"linestatus" =!= "ALL"),
      ($"returnflag" =!= "ALL", $"linestatus" === "ALL"),
      ($"returnflag" === "ALL", $"linestatus" =!= "ALL"))) {
      val r = gs.filter(fc && lc).agg(sum($"n"), sum($"total_price")).head()
      assert(r.getLong(0) === grand.getAs[Long]("n"), s"grain row-count mismatch")
      assert(math.abs(r.getDouble(1) - grand.getAs[Double]("total_price")) < 1e-4)
    }
    gs.unpersist()
  }

  test("kl divergence: identical slices read 0, a shifted slice reads positive and asymmetric") {
    import TestSession.spark
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex
      .map { case ((t, x), i) => (i.toLong, t, x) }.toDF("event_id", "event_type", "value")
    val same = (0 until 200).flatMap(i => Seq(("view", (i % 10) * 50.0), ("purchase", (i % 10) * 50.0)))
    val r0 = Stats.klDivergence(ev(same), "view", "purchase", 50.0).head()
    assert(r0.getAs[Double]("kl_ab_bits") === 0.0 && r0.getAs[Double]("jeffreys_bits") === 0.0)
    // purchase values shifted up: divergence positive, direction-dependent
    val shifted = (0 until 200).flatMap(i =>
      Seq(("view", (i % 10) * 50.0), ("purchase", (i % 10) * 50.0 + 250.0)))
    val r1 = Stats.klDivergence(ev(shifted), "view", "purchase", 50.0).head()
    assert(r1.getAs[Double]("jeffreys_bits") > 0.5, "a 5-bin shift must diverge")
    // each column rounds independently at 6dp -> identity holds to 1.5 ulp of 1e-6
    assert(math.abs(r1.getAs[Double]("jeffreys_bits") -
      (r1.getAs[Double]("kl_ab_bits") + r1.getAs[Double]("kl_ba_bits"))) < 2.5e-6)
  }

  test("mutual info: independent grid reads 0 bits, deterministic mapping reads full entropy") {
    import TestSession.spark
    import spark.implicits._
    def ev(rows: Seq[(String, Int)]) = rows.zipWithIndex
      .map { case ((t, dow), i) => (i.toLong, t, dow) }
      .toDF("event_id", "event_type", "dw")
      // 2024-01-01 is a Monday: day offset = isodow - 1
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) + ($"dw" - 1) * 86400000000L))
    // independent: every (type, dow) cell has the same count
    val indep = for (t <- Seq("a", "b"); d <- 1 to 7; _ <- 1 to 3) yield (t, d)
    val mi0 = Stats.mutualInfo(ev(indep)).head()
    assert(mi0.getAs[Double]("mi_bits") === 0.0)
    assert(mi0.getAs[Double]("cramers_v") === 0.0)
    // deterministic: type 'a' only on dow 1, 'b' only on dow 2 -> MI = H = 1 bit
    val dep = (1 to 20).flatMap(_ => Seq(("a", 1), ("b", 2)))
    val mi1 = Stats.mutualInfo(ev(dep)).head()
    assert(math.abs(mi1.getAs[Double]("mi_bits") - 1.0) < 1e-6)
    assert(math.abs(mi1.getAs[Double]("cramers_v") - 1.0) < 1e-6)
  }

  test("equi-depth histogram: buckets near n/k, counts conserve, ranges ordered") {
    import TestSession.spark
    import spark.implicits._
    val ev = Tables.events(spark, TestSession.sf)
    val n  = ev.count()
    val h  = Stats.equidepthHistogram(ev, 10).orderBy($"bucket").collect()
    assert(h.map(_.getAs[Long]("n")).sum === n, "buckets must cover every row")
    assert(h.length === 10)
    h.foreach { r =>
      val cnt = r.getAs[Long]("n")
      assert(math.abs(cnt - n / 10.0) < n * 0.05, s"bucket ${r.getLong(0)} holds $cnt of $n")
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
    }
    h.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo") + 1e-9, "ranges must not overlap")
    }
  }

  test("iqr outliers: hand fences, the planted outlier is the only flag") {
    import TestSession.spark
    import spark.implicits._
    val vals = (1 to 99).map(_.toDouble) :+ 1000.0
    val df = vals.zipWithIndex.map { case (x, i) => (i.toLong, "a", x) }
      .toDF("event_id", "event_type", "value")
    val r = Stats.iqrOutliers(df).head()
    val (q1, q3) = (r.getAs[Double]("q1"), r.getAs[Double]("q3"))
    assert(math.abs(r.getAs[Double]("fence_lo") - (q1 - 1.5 * (q3 - q1))) < 1e-5)
    assert(math.abs(r.getAs[Double]("fence_hi") - (q3 + 1.5 * (q3 - q1))) < 1e-5)
    assert(r.getAs[Long]("n_outliers") === 1L, "exactly the planted 1000.0")
    assert(math.abs(r.getAs[Double]("outlier_rate") - 0.01) < 1e-9)
  }

  test("zscore normalize: unit moments per key, constant key nulls, hand values exact") {
    import TestSession.spark
    import spark.implicits._
    val df = Seq(
      (1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0),
      (4L, 2L, 7.0), (5L, 2L, 7.0), (6L, 2L, 7.0)
    ).toDF("event_id", "user_id", "value")
    val got = Stats.zscoreNormalize(df).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L) === Some(-1.0) && got(2L) === Some(0.0) && got(3L) === Some(1.0))
    assert(got(4L) === None && got(5L) === None && got(6L) === None, "constant key must null")
    // fixture: per-key mean(z) ~ 0 and std(z) ~ 1 wherever std exists
    val z = Stats.zscoreNormalize(Tables.events(spark, TestSession.sf))
      .groupBy($"user_id").agg(avg($"z").as("m"), stddev_samp($"z").as("s"))
      .filter($"s".isNotNull).collect()
    z.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-4, s"mean z ${r.getAs[Double]("m")}")
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-4, s"std z ${r.getAs[Double]("s")}")
    }
  }

  test("target encoding: rare categories shrink toward the prior, k=0 is the raw mean") {
    import TestSession.spark
    import spark.implicits._
    val df = Seq.fill(100)(("common", 10.0)) ++ Seq(("rare", 1000.0))
    val ev = df.zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
      .toDF("event_id", "event_type", "value")
    val enc = Stats.targetEncoding(ev, 20).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("raw_mean"), r.getAs[Double]("encoded"))).toMap
    val gmean = (100 * 10.0 + 1000.0) / 101
    val (rawR, encR) = enc("rare")
    assert(rawR === 1000.0)
    assert(math.abs(encR - gmean) < math.abs(rawR - gmean) * 0.1,
      s"rare must shrink hard toward the prior: $encR vs $gmean")
    val k0 = Stats.targetEncoding(ev, 0).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("encoded")).toMap
    assert(k0("rare") === 1000.0 && k0("common") === 10.0, "k=0 must be the raw mean")
  }

  test("ab test: hand counts match the textbook pooled z, equal arms read zero") {
    import TestSession.spark
    import spark.implicits._
    def ev(t: String, n: Int, hi: Int) =
      (0 until n).map(i => (t, if (i < hi) 200.0 else 50.0))
    val df = (ev("view", 100, 30) ++ ev("click", 100, 30) ++ ev("buy", 5, 5))
      .zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
      .toDF("event_id", "event_type", "value")
    val r = Stats.abTest(df, "view", "click", 100.0).head()
    assert(r.getAs[Long]("na") === 100L && r.getAs[Long]("sa") === 30L)
    assert(r.getAs[Double]("z") === 0.0, "identical arms must read exactly zero")
    val r2 = Stats.abTest(df.withColumn("value",
      when($"event_type" === "click" && $"event_id" % 2 === 0, 200.0).otherwise($"value")),
      "view", "click", 100.0).head()
    // textbook recompute
    val (na, nb, sa, sb) = (r2.getAs[Long]("na").toDouble, r2.getAs[Long]("nb").toDouble,
      r2.getAs[Long]("sa").toDouble, r2.getAs[Long]("sb").toDouble)
    val pp = (sa + sb) / (na + nb)
    val want = (sa / na - sb / nb) / math.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    assert(math.abs(r2.getAs[Double]("z") - want) < 1e-6)
    assert(r2.getAs[Double]("z") < -2.0, "boosted B arm must be significant")
  }

  test("cube: all four grains present and each re-aggregates to the grand total") {
    import TestSession.spark
    import spark.implicits._
    val cb = Stats.cubeSummary(Tables.events(spark, TestSession.sf)).cache()
    val grand = cb.filter($"event_type" === "ALL" && $"cohort" === -1L).head()
    // cube adds the (cohort-only) grain rollup lacks — every grain partitions the rows
    for ((fc, lc) <- Seq(($"event_type" =!= "ALL", $"cohort" =!= -1L),
      ($"event_type" =!= "ALL", $"cohort" === -1L),
      ($"event_type" === "ALL", $"cohort" =!= -1L))) {
      val r = cb.filter(fc && lc).agg(sum($"n"), sum($"total")).head()
      assert(r.getLong(0) === grand.getAs[Long]("n"), "grain row-count mismatch")
      assert(math.abs(r.getDouble(1) - grand.getAs[Double]("total")) < 1e-4)
    }
    cb.unpersist()
  }

  test("gap detect: hand-built gaps, none on a dense series") {
    import TestSession.spark
    import spark.implicits._
    def ev(days: Seq[Int], uid: Long) = days.zipWithIndex
      .map { case (d, i) => (uid * 100 + i, uid, 1704067200000000L + d.toLong * 86400000000L) }
    // user 1: days 1,2,5,9 -> gaps (start d3, 2 days) and (start d6, 3 days)
    val df = (ev(Seq(1, 2, 5, 9), 1L) ++ ev(Seq(1, 2, 3), 2L))
      .toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
    val got = Stats.gapDetect(df).orderBy($"user_id", $"gap_start").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      (1L, "2024-01-04", 2L),
      (1L, "2024-01-07", 3L)))
  }

  private def twoSampleDf(a: Seq[Double], b: Seq[Double]) = {
    import TestSession.spark
    import spark.implicits._
    (a.map(("click", _)) ++ b.map(("purchase", _)))
      .zipWithIndex
      .map { case ((t, v), i) => (i.toLong, t, v) }
      .toDF("event_id", "event_type", "value")
  }

  test("welch t matches the direct two-sample computation; swapping groups negates t") {
    import TestSession.spark
    val a = Seq(10.0, 12.0, 14.0, 11.0, 13.5)
    val b = Seq(20.0, 22.0, 19.0, 21.5)
    val got = Stats.welchTTest(twoSampleDf(a, b), "click", "purchase").head()
    def mv(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
    }
    val ((ma, va), (mb, vb)) = (mv(a), mv(b))
    val se2 = va / a.size + vb / b.size
    val tW  = (ma - mb) / math.sqrt(se2)
    val dfW = se2 * se2 /
      (math.pow(va / a.size, 2) / (a.size - 1) + math.pow(vb / b.size, 2) / (b.size - 1))
    assert(got.getAs[Long]("n_a") === a.size.toLong)
    assert(got.getAs[Long]("n_b") === b.size.toLong)
    assert(math.abs(got.getAs[Double]("mean_a") - ma) < 1e-6)
    assert(math.abs(got.getAs[Double]("t_stat") - tW) < 1e-5)
    assert(math.abs(got.getAs[Double]("df") - dfW) < 1e-4)
    val rev = Stats.welchTTest(twoSampleDf(a, b), "purchase", "click").head()
    assert(math.abs(rev.getAs[Double]("t_stat") + got.getAs[Double]("t_stat")) < 1e-9)
    assert(math.abs(rev.getAs[Double]("df") - got.getAs[Double]("df")) < 1e-9)
  }

  test("mann-whitney U matches brute-force pair counting with ties") {
    val a = Seq(1.0, 2.0, 2.0, 5.0, 7.0)
    val b = Seq(2.0, 3.0, 3.0, 6.0)
    val got = Stats.mannWhitney(twoSampleDf(a, b), "click", "purchase").head()
    // U₁ = #(a > b) + ½·#(a == b), counted over all cross pairs
    val u = a.map(x => b.count(x > _) + 0.5 * b.count(x == _)).sum
    assert(got.getAs[Long]("n_a") === a.size.toLong)
    assert(got.getAs[Long]("n_b") === b.size.toLong)
    assert(got.getAs[Double]("u_stat") === u)
    // tie-corrected z from the exact tie profile of the pooled sample
    val pooled = a ++ b
    val ties = pooled.groupBy(identity).values.map(_.size.toLong)
      .map(t => t * t * t - t).sum
    val (na, nb) = (a.size.toDouble, b.size.toDouble)
    val nT = na + nb
    val zW = (u - na * nb / 2) /
      math.sqrt(na * nb / 12 * (nT + 1 - ties / (nT * (nT - 1))))
    assert(math.abs(got.getAs[Double]("z_score") - zW) < 1e-5)
  }

  test("mann-whitney distributed ranks: U1 + U2 = n1·n2 on the fixture events") {
    import TestSession.spark
    val ev = Tables.events(spark, TestSession.sf)
    val u1 = Stats.mannWhitney(ev, "click", "purchase").head()
    val u2 = Stats.mannWhitney(ev, "purchase", "click").head()
    val n1 = u1.getAs[Long]("n_a")
    val n2 = u1.getAs[Long]("n_b")
    assert(u2.getAs[Long]("n_a") === n2)
    assert(u1.getAs[Double]("u_stat") + u2.getAs[Double]("u_stat") === n1.toDouble * n2)
  }

  test("robust z-score: hand-computed median/MAD, outlier flagged, MAD=0 key yields no noise") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1704067200000L + i * 60000L)
    // key 1: [1..5, 100] -> median 3.5, |dev| = [2.5,1.5,.5,.5,1.5,96.5] -> MAD 1.5;
    // only 100 has |0.6745*(x-3.5)/1.5| > 3.5. key 2: constant -> MAD 0.
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 100.0).zipWithIndex.map { case (v, i) => (1L, t(i), v) } ++
      Seq.tabulate(4)(i => (2L, t(i), 7.0))
    val df  = rows.toDF("user_id", "ts", "value")
    val got = Stats.robustZscore(df).orderBy("user_id").collect()
    val r1  = got(0)
    assert(r1.getAs[Long]("n") === 6L)
    assert(r1.getAs[Double]("median") === 3.5)
    assert(r1.getAs[Double]("mad") === 1.5)
    assert(r1.getAs[Long]("n_outliers") === 1L)
    assert(math.abs(r1.getAs[Double]("max_abs_z") - 0.6745 * 96.5 / 1.5) < 1e-5)
    val r2 = got(1)
    assert(r2.getAs[Double]("mad") === 0.0)
    assert(r2.getAs[Long]("n_outliers") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("max_abs_z")))
  }

  test("runs test: alternating signs maximize runs (z>0), streaks minimize (z<0), counts exact") {
    import spark.implicits._
    def mk(uid: Long, closes: Seq[Double]) = closes.zipWithIndex
      .map { case (c, i) => (uid, i.toLong + uid * 1000, i.toLong, c) }
    // user 1: perfectly alternating up/down days (20 returns, R = 20);
    // user 2: 10 up then 10 down (R = 2)
    val alt    = Vector.iterate(100.0, 21)(c => if (c <= 100.0) c * 1.1 else c / 1.1)
    val streak = Vector.tabulate(21)(i => if (i <= 10) 100.0 * math.pow(1.1, i)
      else 100.0 * math.pow(1.1, 20 - i))
    val df = (mk(1L, alt) ++ mk(2L, streak))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L))
      .drop("d")
    val got = Stats.runsTest(df).orderBy("user_id").collect()
    val r1 = got(0)
    assert(r1.getAs[Long]("n_pos") === 10L && r1.getAs[Long]("n_neg") === 10L)
    assert(r1.getAs[Long]("runs") === 20L)
    assert(r1.getAs[Double]("z_runs") > 3.0, s"alternation must read as excess runs: $r1")
    val r2 = got(1)
    assert(r2.getAs[Long]("runs") === 2L)
    assert(r2.getAs[Double]("z_runs") < -3.0, s"streaks must read as deficit runs: $r2")
  }

  test("sign test: a dominating key reads z = sqrt(n); an identical key is all ties (null z)") {
    import spark.implicits._
    def geo(uid: Long, r: Double, n: Int) = (0 until n)
      .map(i => (uid, uid * 1000 + i.toLong, i.toLong, 100.0 * math.pow(1 + r, i)))
    val df = (geo(0L, 0.01, 11) ++ geo(1L, 0.02, 11) ++ geo(2L, 0.01, 11))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L))
      .drop("d")
    val got = Stats.signTest(df, 0L).orderBy("user_id").collect()
    assert(got.length === 2, "the benchmark key is excluded")
    val r1 = got(0)
    assert(r1.getAs[Long]("n_plus") === 10L && r1.getAs[Long]("n_minus") === 0L)
    assert(r1.getAs[Double]("sign_z") === 10.0 / math.sqrt(10.0))
    val r2 = got(1)
    assert(r2.getAs[Long]("n_plus") === 0L && r2.getAs[Long]("n_minus") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("sign_z")), "all ties carry no information")
  }

  test("wilcoxon signed-rank: average tie ranks and the tie-corrected z match a local recompute") {
    import spark.implicits._
    // flat benchmark (mb = 0 every day) so d = the key's micro return
    val rets   = Seq(0.02, -0.01, 0.02, -0.03, 0.01)
    val closes = rets.scanLeft(100.0)((c, r) => c * (1 + r))
    def rows(uid: Long, cs: Seq[Double]) = cs.zipWithIndex
      .map { case (c, i) => (uid, uid * 1000 + i.toLong, i.toLong, c) }
    val df = (rows(0L, Seq.fill(6)(100.0)) ++ rows(1L, closes))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L))
      .drop("d")
    val got = Stats.wilcoxonSigned(df, 0L).collect()
    assert(got.length === 1)
    // local recompute with the same micro quantization + average ranks
    val mks = closes.sliding(2).map { case Seq(p, c) => math.floor((c / p - 1) * 1e6).toLong }.toSeq
    val d   = mks.filter(_ != 0L)
    val byAbs  = d.groupBy(math.abs).toSeq.sortBy(_._1)
    var cum    = 0L
    var w2     = 0L
    var tie3   = 0L
    byAbs.foreach { case (_, block) =>
      val t = block.length.toLong
      cum += t
      val dr = 2 * cum - t + 1
      w2 += block.count(_ > 0) * dr
      tie3 += t * t * t - t
    }
    val n  = d.length.toLong
    val s  = 2 * n * (n + 1) * (2 * n + 1) - tie3
    val r1 = got(0)
    assert(r1.getAs[Long]("n_days") === n)
    assert(r1.getAs[Double]("w_plus") === w2 / 2.0)
    assert(r1.getAs[Double]("wilcoxon_z") ===
      (w2 - n * (n + 1) / 2).toDouble * math.sqrt(12.0 / s))
    // the two equal up-moves must actually tie, or the fixture is not testing ties
    assert(tie3 > 0, s"fixture must contain a tie block: $byAbs")
  }

  test("permutation entropy: monotone series reads exactly 0; a 2-cycle reads ln2/ln6") {
    import spark.implicits._
    def rows(uid: Long, cs: Seq[Double]) = cs.zipWithIndex
      .map { case (c, i) => (uid, uid * 1000 + i.toLong, i.toLong, c) }
    val rising = (0 until 10).map(i => 100.0 + i)
    val cycle  = (0 until 10).map(i => if (i % 2 == 0) 100.0 else 110.0)
    val df = (rows(1L, rising) ++ rows(2L, cycle))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L))
      .drop("d")
    val got = Stats.permutationEntropy(df).orderBy("user_id").collect()
    val r1 = got(0)
    assert(r1.getAs[Long]("n_triples") === 8L)
    assert(r1.getAs[Long]("n_patterns") === 1L, "monotone series has one ordinal pattern")
    assert(r1.getAs[Double]("perm_entropy") === 0.0)
    val r2 = got(1)
    assert(r2.getAs[Long]("n_patterns") === 2L, "a 2-cycle alternates between two patterns")
    // 8 triples split 4/4: entropy = ln2/ln6 normalized
    assert(r2.getAs[Double]("perm_entropy") ===
      BigDecimal(math.log(2.0) / math.log(6.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("benford: digit extraction exact across magnitudes, shares sum to 1, law recovered on 10^U data") {
    import spark.implicits._
    // hand magnitudes: leading digit must survive decimals, tiny and
    // large values, and negatives; sub-1e-6 values carry no digit
    val hand = Seq(123.45, 0.0456, -7.2, 900000.1, 0.000001, 0.0000004, 1.0)
      .toDF("value")
    val got = Stats.benfordTest(hand).orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // 0.0000004 quantizes to 0.000000 -> excluded; the rest keep digits 1,4,7,9,1,1
    assert(got === Seq((1, 3L), (4, 1L), (7, 1L), (9, 1L)))
    // Benford holds exactly for 10^Uniform(0,1): digit d has measure log10(1+1/d)
    val n = 200000
    val rng = new scala.util.Random(7)
    val synth = Seq.fill(n)(math.pow(10.0, rng.nextDouble() * 3)).toDF("value")
    val rows = Stats.benfordTest(synth).orderBy("digit").collect()
    assert(rows.map(_.getAs[Long]("n_obs")).sum === n.toLong)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("obs_share") - r.getAs[Double]("exp_share")) < 0.01,
        s"digit ${r.getInt(0)} deviates: $r")
    }
  }

  test("moments: symmetric series has zero skew, known kurtosis; constant key degrades to nulls") {
    import spark.implicits._
    def t(i: Int) = new java.sql.Timestamp(1704067200000L + i * 60000L)
    // key 1: [1..5] -> mean 3, m2 2, m3 0, m4 6.8 -> skew 0, kurt 6.8/4-3 = -1.3
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex.map { case (v, i) => (1L, t(i), v) } ++
      Seq.tabulate(3)(i => (2L, t(i), 9.0))
    val got = Stats.momentsProfile(rows.toDF("user_id", "ts", "value")).orderBy("user_id").collect()
    val r1  = got(0)
    assert(r1.getAs[Double]("mean") === 3.0)
    assert(math.abs(r1.getAs[Double]("std_pop") - math.sqrt(2.0)) < 1e-6)
    assert(r1.getAs[Double]("skewness") === 0.0)
    assert(math.abs(r1.getAs[Double]("excess_kurtosis") - (-1.3)) < 1e-6)
    val r2 = got(1)
    assert(r2.getAs[Double]("std_pop") === 0.0)
    assert(r2.isNullAt(r2.fieldIndex("skewness")))
    assert(r2.isNullAt(r2.fieldIndex("excess_kurtosis")))
  }

  test("anova: identical groups read F ~ 0; separated means match the textbook recompute") {
    import spark.implicits._
    def mk(rows: Seq[(String, Double)]) =
      rows.zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
        .toDF("event_id", "event_type", "value")
    val same = (0 until 30).map(i => (s"g${i % 3}", 10.0 + (i / 3) % 5))
    val f0 = graft.operators.Stats.anovaF(mk(same)).head()
    assert(f0.getAs[Long]("k_groups") === 3L && f0.getAs[Long]("n_total") === 30L)
    assert(math.abs(f0.getAs[Double]("f_stat")) < 1e-6, "identical groups carry no between-group variance")
    // separated means: textbook one-way ANOVA recomputed locally
    val sep = (0 until 12).map { i =>
      (s"g${i % 3}", Seq(1.0, 5.0, 9.0)(i % 3) + 0.25 * (i / 3))
    }
    val groups = sep.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val grand  = sep.map(_._2).sum / sep.size
    val ssb = groups.map(g => g.size * math.pow(g.sum / g.size - grand, 2)).sum
    val ssw = groups.map(g => g.map(x => math.pow(x - g.sum / g.size, 2)).sum).sum
    val want = (ssb / (groups.size - 1)) / (ssw / (sep.size - groups.size))
    val f1 = graft.operators.Stats.anovaF(mk(sep)).head().getAs[Double]("f_stat")
    assert(math.abs(f1 - want) / want < 1e-6, s"F $f1 vs textbook $want")
  }

  test("kruskal-wallis: tie-free textbook H recomputes; all-tied data reads H=0 and a null tie adjustment") {
    import spark.implicits._
    def mk(rows: Seq[(String, Double)]) =
      rows.zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
        .toDF("event_id", "event_type", "value")
    // disjoint groups 1-3 / 4-6 / 7-9: ranks are 1..9, H = 7.2 exactly
    val sep = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 4.0, "b" -> 5.0,
      "b" -> 6.0, "c" -> 7.0, "c" -> 8.0, "c" -> 9.0)
    val got = graft.operators.Stats.kruskalWallis(mk(sep)).orderBy("event_type").collect()
    assert(got.map(_.getAs[Double]("mean_rank")).toSeq === Seq(2.0, 5.0, 8.0))
    assert(math.abs(got.head.getAs[Double]("h_stat") - 7.2) < 1e-9)
    assert(math.abs(got.head.getAs[Double]("h_tie_adj") - 7.2) < 1e-9, "no ties: C = 1")
    // every observation identical: one giant tie, H = 0, C = 0 -> adj null
    val tied = (0 until 12).map(i => s"g${i % 3}" -> 42.0)
    val t0 = graft.operators.Stats.kruskalWallis(mk(tied)).head()
    assert(math.abs(t0.getAs[Double]("h_stat")) < 1e-9)
    assert(t0.isNullAt(t0.fieldIndex("h_tie_adj")), "C = 1 - (N^3-N)/(N^3-N) = 0 guards to null")
  }

  test("levene/brown-forsythe: hand-computed F on doubled deviations; equal spreads read ~0") {
    import spark.implicits._
    def mk(rows: Seq[(String, Double)]) =
      rows.zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
        .toDF("event_id", "event_type", "value")
    // medians 2 / 6; |dev| = (1,0,1) vs (2,0,2): textbook BF F = 0.8
    val two = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 4.0, "b" -> 6.0, "b" -> 8.0)
    val got = graft.operators.Stats.levene(mk(two)).orderBy("event_type").collect()
    assert(got.map(_.getAs[Double]("median_value")).toSeq === Seq(2.0, 6.0))
    assert(math.abs(got(0).getAs[Double]("mean_absdev") - 2.0 / 3) < 1e-9)
    assert(math.abs(got(1).getAs[Double]("mean_absdev") - 4.0 / 3) < 1e-9)
    assert(math.abs(got.head.getAs[Double]("bf_stat") - 0.8) < 1e-6)
    // same spread in both groups: zero between-group deviation variance
    val same = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 11.0, "b" -> 12.0, "b" -> 13.0)
    assert(math.abs(graft.operators.Stats.levene(mk(same)).head().getAs[Double]("bf_stat")) < 1e-6)
  }

  test("fdr-bh: a lone mean-shifted user is rank 1 and rejected; identical users reject nothing") {
    import spark.implicits._
    def mk(rows: Seq[(Long, Double)]) =
      rows.zipWithIndex.map { case ((u, x), i) => (i.toLong, u, x) }
        .toDF("event_id", "user_id", "value")
    val base = (1L to 10L).flatMap(u => Seq(u -> 10.0, u -> 11.0, u -> 12.0))
    val shifted = base ++ Seq(11L -> 99.0, 11L -> 100.0, 11L -> 101.0)
    val got = graft.operators.Stats.fdrBh(mk(shifted)).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got(11L).getAs[Long]("bh_rank") === 1L, "the outlier has the smallest Chebyshev p")
    assert(got(11L).getAs[Boolean]("rejected"))
    // BH rejections are a prefix of the p-sorted order
    val byRank = got.values.toSeq.sortBy(_.getAs[Long]("bh_rank"))
    val flags  = byRank.map(_.getAs[Boolean]("rejected"))
    assert(!flags.dropWhile(identity).contains(true), "rejected set must be a rank prefix")
    // exactly identical users: every t2 = 0, p = 1, nothing rejected
    val flat = graft.operators.Stats.fdrBh(mk(base)).collect()
    assert(flat.forall(r => r.getAs[Double]("p_cheb") === 1.0 && !r.getAs[Boolean]("rejected")))
  }

  test("woe/iv: proportional bins read exactly 0; a separating feature reads signed WoE and large IV") {
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex.map { case ((t, x), i) =>
      (i.toLong, t, x)
    }.toDF("event_id", "event_type", "value")
    // proportional: every bin has the same good:bad ratio (1:1) ->
    // pg = pb exactly under smoothing, all terms exactly 0
    val prop = (0 until 40).map(i =>
      (if (i % 2 == 0) "purchase" else "view", ((i / 2) % 4) * 50.0 + 10))
    val g0 = graft.operators.Stats.woeIv(ev(prop)).collect()
    assert(g0.nonEmpty)
    g0.foreach { r =>
      assert(r.getAs[Double]("woe") === 0.0 && r.getAs[Double]("iv_term") === 0.0)
      assert(r.getAs[Double]("iv_total") === 0.0)
    }
    // separating: goods live in bin 0, bads in bin 1
    val sep = (0 until 20).map(i =>
      if (i % 2 == 0) ("purchase", 10.0) else ("view", 60.0))
    val g1 = graft.operators.Stats.woeIv(ev(sep)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(g1(0L).getAs[Double]("woe") > 0, "the all-good bin has positive WoE")
    assert(g1(1L).getAs[Double]("woe") < 0)
    assert(g1(0L).getAs[Double]("iv_total") > 0.3, "a perfect separator is a strong feature")
  }

  test("psi: mirrored halves read exactly 0; a shifted second half trips the drift alert") {
    import spark.implicits._
    def ev(rows: Seq[(Long, Double)]) = rows.zipWithIndex.map { case ((t, x), i) =>
      (i.toLong, t, x)
    }.toDF("event_id", "t_s", "value")
      .withColumn("ts", timestamp_micros($"t_s" * 1000000L))
      .withColumn("event_type", lit("view"))
    // first half t in [0, 100), second in [100, 200): identical value
    // histograms -> ca = cb per bin -> every term exactly 0
    val stable = (0 until 50).flatMap(i =>
      Seq((i.toLong, (i % 5) * 50.0 + 5), (100L + i, (i % 5) * 50.0 + 5)))
    val r0 = graft.operators.Stats.psi(ev(stable)).head()
    assert(r0.getAs[Double]("psi") === 0.0 && !r0.getAs[Boolean]("drift_alert"))
    assert(r0.getAs[Long]("n_first_half") === 50L && r0.getAs[Long]("n_second_half") === 50L)
    // shifted: second half moves 200 value units up
    val shifted = (0 until 50).flatMap(i =>
      Seq((i.toLong, (i % 5) * 50.0 + 5), (100L + i, (i % 5) * 50.0 + 205)))
    val r1 = graft.operators.Stats.psi(ev(shifted)).head()
    assert(r1.getAs[Double]("psi") > 0.2 && r1.getAs[Boolean]("drift_alert"))
  }

  test("bootstrap ci: constant values collapse the interval to the mean; varied values bracket it") {
    import spark.implicits._
    val const = (0 until 200).map(i => (i.toLong, "a", 42.5))
    val vari  = (0 until 200).map(i => (1000L + i, "b", 10.0 + (i % 7)))
    val df = (const ++ vari).toDF("event_id", "event_type", "value")
    val got = graft.operators.Stats.bootstrapCi(df).collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getAs[Double]("mean") === 42.5)
    assert(a.getAs[Double]("ci_lo") === 42.5 && a.getAs[Double]("ci_hi") === 42.5)
    val b = got("b")
    assert(b.getAs[Double]("ci_lo") <= b.getAs[Double]("mean"))
    assert(b.getAs[Double]("ci_hi") >= b.getAs[Double]("mean"))
    assert(b.getAs[Double]("ci_hi") > b.getAs[Double]("ci_lo"))
    // half-sample replicate spread is a real interval, not the full range
    assert(b.getAs[Double]("ci_hi") - b.getAs[Double]("ci_lo") < 6.0)
  }

  test("fdr-bh: the two-phase rank route equals the single-partition route bit-for-bit") {
    import spark.implicits._
    val rows = (0 until 2000).map { i =>
      (i.toLong, s"u${i % 40}", 10.0 + (i % 11) + (if (i % 40 == 7) 30.0 else 0.0))
    }
    val df = rows.toDF("event_id", "user_id", "value").repartition(7)
    val small = graft.operators.Stats.fdrBh(df, key = "user_id")
      .orderBy("user_id").collect() // 40 keys << default cap: single-partition window route
    val dist = graft.operators.Stats.fdrBhRouted(df, 0.05, "user_id", "value", singlePartitionKeys = 8)
      .orderBy("user_id").collect()
    assert(small.length === 40 && small.toSeq === dist.toSeq)
  }

  test("replicate-sums aggregate is bit-identical to the 66 conditional built-ins, nulls and negatives included") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val b   = 32
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // deterministic mixed fixture: negatives, zeros, null vu, null h,
    // several groups, spread over partitions so merge+serialize run
    val rows = (0 until 4000).map { i =>
      val h: java.lang.Long  = if (i % 17 == 0) null else java.lang.Long.valueOf((i * 2654435761L) & 0xffffffffL)
      val vu: java.lang.Long = if (i % 13 == 0) null else java.lang.Long.valueOf((i % 7).toLong * 1000003L - 2000000L)
      (s"t${i % 3}", h, vu)
    }
    val df = rows.toDF("event_type", "h", "vu").repartition(8)
    val builtinAggs =
      sum(col("vu").cast(dec)).as("st") +: count(lit(1)).as("ct") +:
        (0 until b).flatMap { i =>
          val in = col("h").bitwiseAND(lit(1L << i)) =!= 0
          Seq(sum(when(in, col("vu").cast(dec))).as(s"s$i"), count(when(in, 1)).as(s"c$i"))
        }
    val want = df.groupBy(col("event_type")).agg(builtinAggs.head, builtinAggs.tail: _*)
      .orderBy("event_type").collect()
    val got = df.groupBy(col("event_type"))
      .agg(expr(s"graft_replicate_sums(h, vu, $b)").as("m"))
      .select(col("event_type") +: col("m.st").as("st") +: col("m.ct").as("ct") +:
        (0 until b).flatMap(i => Seq(
          element_at(col("m.ss"), i + 1).as(s"s$i"),
          element_at(col("m.cs"), i + 1).as(s"c$i"))): _*)
      .orderBy("event_type").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) === w.getString(0))
      // same column set, different order: compare by name
      w.schema.fieldNames.drop(1).foreach { f =>
        assert(g.getAs[Any](f) === w.getAs[Any](f), s"column $f for group ${g.getString(0)}")
      }
    }
  }

  test("grubbs: a planted gross outlier is the suspect with the textbook G; clean group reads small") {
    import spark.implicits._
    val base = (0 until 20).map(i => ("a", 50.0 + (i % 5)))
    val rows = (base :+ ("a", 500.0)) ++ (0 until 10).map(i => ("b", 10.0 + i))
    val df = rows.zipWithIndex.map { case ((t, x), i) => (i.toLong, t, x) }
      .toDF("event_id", "event_type", "value")
    val got = graft.operators.Stats.grubbs(df).collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getAs[Double]("suspect_value") === 500.0 && a.getAs[Boolean]("suspect_is_max"))
    val xs = base.map(_._2) :+ 500.0
    val mean = xs.sum / xs.size
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1))
    val wantG = xs.map(x => math.abs(x - mean)).max / sd
    assert(math.abs(a.getAs[Double]("grubbs_g") - wantG) < 1e-6)
    assert(got("b").getAs[Double]("grubbs_g") < 2.0, "a uniform group hides no gross outlier")
  }

  test("hodges-lehmann: the pseudo-median of Walsh averages matches the hand sort") {
    import spark.implicits._
    // flat benchmark; key returns ~ (+2%, -1%, +3%): walsh sums sort to
    // (-2,1,2,4,5,6)e4 -> doubled median = (2+4)e4 -> HL = 0.015
    val rets   = Seq(0.02, -0.01, 0.03)
    val closes = rets.scanLeft(100.0)((c, r) => c * (1 + r))
    def rows(uid: Long, cs: Seq[Double]) = cs.zipWithIndex
      .map { case (c, i) => (uid, uid * 1000 + i.toLong, i.toLong, c) }
    val df = (rows(0L, Seq.fill(4)(100.0)) ++ rows(1L, closes))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L)).drop("d")
    val got = Stats.hodgesLehmann(df, 0L).head()
    assert(got.getAs[Long]("n_pairs") === 6L)
    val mks = closes.sliding(2).map { case Seq(p0, c) => math.floor((c / p0 - 1) * 1e6).toLong }.toSeq
    val walsh = (for (i <- mks.indices; j <- i until mks.length) yield mks(i) + mks(j)).sorted
    val m2s = walsh(2) + walsh(3)
    assert(got.getAs[Double]("hl_shift") === m2s.toDouble / 4000000.0)
  }

  test("energy distance: identical samples read exactly 0, a unit shift exactly 1") {
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex
      .map { case ((t, x), i) => (i.toLong, 1L, t, x) }
      .toDF("event_id", "user_id", "event_type", "value")
    val same = ev(Seq(("view", 1.0), ("view", 2.0), ("click", 1.0), ("click", 2.0)))
    assert(Stats.energyDistance(same, "view", "click").head().getAs[Double]("energy_dist") === 0.0)
    // A={1,2}, B={2,3}: 2*1 - 0.5 - 0.5 = 1 in value units, exact dyadics
    val shift = ev(Seq(("view", 1.0), ("view", 2.0), ("click", 2.0), ("click", 3.0)))
    val r = Stats.energyDistance(shift, "view", "click").head()
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("energy_dist") === 1.0)
  }

  test("median test: the 2x2 split on the pooled median reads the exact hand chi2") {
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex
      .map { case ((t, x), i) => (i.toLong, 1L, t, x) }
      .toDF("event_id", "user_id", "event_type", "value")
    // pooled 1..10 -> median 5.5; A above/below = 1/4, B = 4/1 -> chi2 = 3.6
    val df = ev(Seq(1.0, 2.0, 3.0, 4.0, 10.0).map(("view", _)) ++
      Seq(6.0, 7.0, 8.0, 9.0, 5.0).map(("click", _)))
    val r = Stats.medianTest(df, "view", "click").head()
    assert(r.getAs[Long]("n_a_above") === 1L && r.getAs[Long]("n_a_below") === 4L)
    assert(r.getAs[Long]("n_b_above") === 4L && r.getAs[Long]("n_b_below") === 1L)
    assert(r.getAs[Double]("median_chi2") === 3.6)
  }

  test("cochran q: hand-built binary activity matrix reads exactly 0.5; outcomes split on 2c > m2") {
    import spark.implicits._
    // daily counts per type over 4 days: a=(1,9,9,1), b=(9,1,1,9),
    // c=(1,1,1,9) -> outcomes (0110),(1001),(0001) -> Q = 0.5 exactly
    val counts = Map("a" -> Seq(1, 9, 9, 1), "b" -> Seq(9, 1, 1, 9), "c" -> Seq(1, 1, 1, 9))
    val rows = counts.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(j => (t.hashCode.toLong * 1000 + d * 100 + j, 1L,
          d.toLong * 86400L + 3600L + j, t))
      }
    }
    val df = rows.toDF("event_id", "user_id", "t_s", "event_type")
      .withColumn("ts", timestamp_micros($"t_s" * 1000000L)).drop("t_s")
    val got = Stats.cochranQ(df).head()
    assert(got.getAs[Long]("k_types") === 3L)
    assert(got.getAs[Long]("n_days") === 4L)
    assert(got.getAs[Long]("n_success") === 5L)
    assert(got.getAs[Double]("cochran_q") === 0.5)
  }

  test("turning points: an alternating series turns at every interior point, a ramp never") {
    import spark.implicits._
    def mk(uid: Long, closes: Seq[Double]) = closes.zipWithIndex
      .map { case (c, i) => (uid, uid * 1000 + i.toLong, i.toLong, c) }
    val alt  = Seq(1.0, 3.0, 1.0, 3.0, 1.0, 3.0, 1.0)
    val ramp = (0 until 7).map(i => 10.0 + i)
    val df = (mk(1L, alt) ++ mk(2L, ramp))
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L)).drop("d")
    val got = Stats.turningPoints(df).orderBy("user_id").collect()
    val a = got(0)
    assert(a.getAs[Long]("n_turning") === 5L, "every interior point of an alternation turns")
    assert(a.getAs[Double]("tp_z") === (3.0 * 5 - 2 * 5) / 3.0 * math.sqrt(90.0 / (16 * 7 - 29)))
    val r = got(1)
    assert(r.getAs[Long]("n_turning") === 0L)
    assert(r.getAs[Double]("tp_z") < -1.0, "a ramp is maximally turn-free")
  }

  test("wasserstein-1: a unit shift reads exactly 1.0, identical samples 0.0, bucket-count invariant") {
    import spark.implicits._
    def ev(rows: Seq[(String, Double)]) = rows.zipWithIndex
      .map { case ((t, x), i) => (i.toLong, 1L, t, x) }
      .toDF("event_id", "user_id", "event_type", "value")
    val shifted = ev(Seq(("view", 1.0), ("view", 2.0), ("view", 3.0),
      ("click", 2.0), ("click", 3.0), ("click", 4.0)))
    val r1 = Stats.wasserstein1(shifted, "view", "click").head()
    assert(r1.getAs[Long]("n_a") === 3L && r1.getAs[Long]("n_b") === 3L)
    assert(r1.getAs[Double]("w1") === 1.0, "every unit of mass moves exactly 1")
    // partition-boundary safety: 2 buckets vs 32 buckets, same exact answer
    val r2 = Stats.wasserstein1(shifted, "view", "click", nBuckets = 2).head()
    assert(r2.getAs[Double]("w1") === 1.0, "the cross-partition gap must not drop")
    val same = ev(Seq(("view", 5.0), ("view", 7.0), ("click", 5.0), ("click", 7.0)))
    assert(Stats.wasserstein1(same, "view", "click").head().getAs[Double]("w1") === 0.0)
  }

  test("friedman: perfectly consistent rankings read the textbook n(k-1); all-tied blocks null") {
    import spark.implicits._
    // 3 complete day-blocks, types a<b<c every day, plus one
    // INCOMPLETE day (only a, b) that must not count as a block
    def ev(d: Int, t: String, x: Double, id: Long) =
      (id, 1L, d.toLong * 86400L + 3600L, t, x)
    val rows = (0 until 3).flatMap { d =>
      Seq(ev(d, "a", 1.0 + d, d * 10L), ev(d, "b", 2.0 + d, d * 10L + 1),
        ev(d, "c", 3.0 + d, d * 10L + 2))
    } ++ Seq(ev(3, "a", 1.0, 90L), ev(3, "b", 2.0, 91L))
    val df = rows.toDF("event_id", "user_id", "t_s", "event_type", "value")
      .withColumn("ts", timestamp_micros($"t_s" * 1000000L)).drop("t_s")
    val got = Stats.friedman(df).head()
    assert(got.getAs[Long]("k_types") === 3L)
    assert(got.getAs[Long]("n_blocks") === 3L, "the incomplete day must drop")
    assert(got.getAs[Double]("friedman_q") === 6.0, "perfect consistency: Q = n(k-1)")
    // all-tied: every type identical each day -> zero denominator -> null
    val tied = (0 until 3).flatMap(d =>
      Seq(ev(d, "a", 5.0, d * 10L), ev(d, "b", 5.0, d * 10L + 1), ev(d, "c", 5.0, d * 10L + 2)))
      .toDF("event_id", "user_id", "t_s", "event_type", "value")
      .withColumn("ts", timestamp_micros($"t_s" * 1000000L)).drop("t_s")
    val g2 = Stats.friedman(tied).head()
    assert(g2.isNullAt(g2.fieldIndex("friedman_q")))
  }

  test("changepoint: a clean level shift pins the CUSUM argmax at the shift day, magnitude exact") {
    import spark.implicits._
    // 10,10,10,20,20,20: |D_t| peaks at t=3 (the last pre-shift day);
    // max|S| = |6*30e6 - 3*90e6| / (6*1e6) = 15 exactly
    val closes = Seq(10.0, 10.0, 10.0, 20.0, 20.0, 20.0)
    val df = closes.zipWithIndex.map { case (c, i) => (1L, i.toLong, i.toLong, c) }
      .toDF("user_id", "event_id", "d", "value")
      .withColumn("ts", timestamp_micros(($"d" * 86400L + 3600L) * 1000000L))
      .drop("d")
    val got = Stats.changepoint(df).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getAs[Long]("n_days") === 6L)
    assert(r.getAs[String]("cp_day") === "1970-01-03")
    assert(r.getAs[Double]("cusum_stat") === 15.0)
  }
}
