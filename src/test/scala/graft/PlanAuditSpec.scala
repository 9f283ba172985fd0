package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Structural plan-shape assertions for the headline queries: the
  * properties the 100 TB design depends on (pushed filters, broadcast
  * dim joins, no cartesian products, codegen'd hot paths) fail
  * `sbt test` on regression instead of waiting for a human to read a
  * dumped plan file. Assertions run on the pre-execution physical
  * plan string — the shapes asserted here (join strategy picked by
  * the broadcast hint, scan pushdown, cartesian absence) are all
  * decided at planning time, so no job needs to run.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSession._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def planOf(name: String): String = plan(SparkEntry.queries(name)(spark, sf))

  test("filter and projection reach the parquet scan (q_validate_filter)") {
    val p = planOf("q_validate_filter")
    assert(p.contains("PushedFilters: ["), s"no pushdown section in scan:\n$p")
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"PushedFilters is EMPTY — the time-range predicate stopped reaching the scan:\n$p")
  }

  test("dimension joins broadcast the small side, never shuffle the fact side") {
    for (q <- Seq("q_dim_join", "q_multi_join_agg", "q_tracking_error", "q_info_ratio")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q lost its broadcast join:\n$p")
    }
  }

  test("no declared query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = plan(fn(spark, sf))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — an all-pairs sweep at 100 TB:\n$p")
    }
  }

  test("hot per-row operators stay inside whole-stage codegen") {
    // scan-stage queries whose per-row work must be generated code,
    // not interpreted expressions. Codegen spans only appear in the
    // non-adaptive physical plan, so AQE is off for the inspection
    // (plan shape, not execution, is what's asserted).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // note: HOF-lambda projections (aggregate/filter/transform, as
      // in q_quality_gate) are CodegenFallback by Spark design and
      // can never carry a span — only scalar/custom-doGenCode
      // pipelines are asserted here
      for (q <- Seq("q_transform_project", "q_simhash", "q_simhash_wide", "q_redact_pii", "q_lz4_stats")) {
        val p = planOf(q)
        // codegen'd operators print with a `*(stageId)` prefix; the
        // Project doing the per-row work must carry one
        assert(p.matches("(?s).*\\*\\(\\d+\\) Project.*"),
          s"$q's projection fell out of codegen:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("Q3-style topN pushes date cutoffs into BOTH fact scans and avoids a global sort") {
    val p = planOf("q_shipping_priority")
    // each date filter must reach its own parquet scan
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"o_orderdate cutoff stopped reaching the orders scan:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      s"l_shipdate cutoff stopped reaching the lineitem scan:\n$p")
    // the top-10 must be the distributed heap-merge operator, never a
    // single-partition sort of the whole per-order aggregate
    assert(p.contains("TakeOrderedAndProject"),
      s"q_shipping_priority lost TakeOrderedAndProject:\n$p")
  }

  test("Q18-style large-volume query scans lineitem once") {
    val p = planOf("q_large_volume_cust")
    // classic Q18 rejoins lineitem to re-aggregate quantities; this
    // shape carries the HAVING aggregate as the join payload instead
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly one lineitem scan, found $scans:\n$p")
  }

  test("wide-simhash banding joins on the band bucket, not an all-pairs shape") {
    val p = planOf("q_simhash_wide_neardup")
    // the candidate generator must be an equi-join keyed on the
    // (band, band-value) pair — the whole point of banding is that
    // the corpus never meets itself outside shared buckets
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"banded join lost its equi-join shape:\n$p")
    assert(p.matches("(?s).*Join [^\\n]*band.*") || p.matches("(?s).*\\[band.*"),
      s"join is not keyed on the band columns:\n$p")
  }

  test("semantic dedup assigns cells in a codegen'd scan-stage projection and joins on the cell") {
    // the 100 TB shape: the corpus side's cell assignment is the
    // codegen'd broadcast-literal argmin riding the scan stage (no
    // join, no shuffle to pick a cell), and the pair space is an
    // equi-join on the cell — never an all-pairs product
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = planOf("q_semantic_dedup")
      assert(p.contains("graft_ivf_assign"),
        s"cell assignment no longer uses the codegen'd IvfAssign expression:\n$p")
      assert(p.matches("(?s).*\\*\\(\\d+\\) Project \\[[^\\n]*graft_ivf_assign.*"),
        s"the IvfAssign projection fell out of whole-stage codegen:\n$p")
      assert(p.matches("(?s).*Join [^\\n]*cell[^\\n]*.*") ||
        p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*cell[^\\]]*\\].*"),
        s"the within-cell pair join is not keyed on the cell:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"semantic dedup degenerated to an all-pairs join shape:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("banded jaccard generates candidates via a band-bucket equi-join on scan-stage signatures") {
    val p = planOf("q_ngram_jaccard_banded")
    // candidates must come from the (band, sig) bucket join — the
    // property that keeps corpus-scale Jaccard off the PPJoin
    // saturation curve — with signatures from the codegen'd
    // per-row MinHash expression, not a shingle shuffle
    assert(p.contains("graft_minhash_sig"),
      s"banded jaccard lost the codegen'd MinHash signature expression:\n$p")
    assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*(band|sig)[^\\]]*\\].*") ||
      p.matches("(?s).*Join [^\\n]*(band|sig).*"),
      s"candidate join is not keyed on the band bucket:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"banded jaccard degenerated to a product:\n$p")
  }

  test("int8 ANN broadcasts the quantized queries; rate sampling never sorts") {
    val p = planOf("q_ann_int8")
    // the query side must broadcast (tiny by construction) so the
    // corpus side stays a single scan-stage pass
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q_ann_int8 lost its broadcast query join:\n$p")
    // rate-based token budgeting exists to avoid the per-source sort
    // entirely: the kept-rows plan may aggregate and broadcast, but
    // a Sort or Window node means the exact variant leaked in
    val r = plan(graft.operators.Sampling.tokenBudgetSampleRate(Tables.documents(spark, sf), 800))
    assert(!r.contains("Sort") && !r.contains("Window"),
      s"rate-based token budget must not sort or window:\n$r")
  }

  test("the salted join keeps both sides hash-partitioned (no broadcast fallback)") {
    // the skew remedy only matters when both sides genuinely shuffle;
    // with broadcast disabled the salted plan must be a shuffle join
    // on the salted key, not a nested-loop fallback
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions._
      val fact = Tables.lineitem(spark, sf)
        .select(pmod(col("l_orderkey"), lit(100)).as("k"), col("l_orderkey").as("rowkey"))
      val dim = spark.range(0, 100).select(col("id").as("dk"), col("id").cast("string").as("w"))
      val p = plan(graft.operators.Relational.saltedJoin(fact, dim, "k", "dk", "rowkey", 8))
      // the MAIN join must shuffle on (salt, key); the dim side's
      // salt replication is a broadcast nested-loop against the tiny
      // salt range by design — only a cartesian is a degeneration
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"salted join is not a shuffle join:\n$p")
      assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin) \\[__salt[^\\]]*\\].*"),
        s"the shuffle join is not keyed on the salt:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"salted join degenerated to a product:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("BM25 broadcasts the query-term and stats sides; corpus shuffles only on (doc, term)") {
    val p = planOf("q_bm25_topk")
    // query terms and the 1-row stats frame must broadcast — a
    // shuffled join on either turns the posting-list prune into a
    // corpus-wide exchange
    assert(p.contains("BroadcastHashJoin"), s"q_bm25_topk lost its broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_bm25_topk planned a product:\n$p")
  }

  test("heavy hitters probes a BROADCAST sketch; weighted sample never globally sorts") {
    val p = planOf("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the d*w sketch stopped broadcasting onto the probe:\n$p")
    // the weighted race selects via TakeOrderedAndProject (partition
    // heaps + driver merge of k rows); a global Sort node means the
    // corpus is being sorted to take 50 rows
    val w = planOf("q_weighted_sample")
    assert(w.contains("TakeOrderedAndProject"),
      s"q_weighted_sample must select via TakeOrderedAndProject:\n$w")
    assert(!w.matches("(?s).*Sort \\[race.*global.*"),
      s"q_weighted_sample plans a global sort:\n$w")
  }

  test("containment caps posting lists BEFORE the self-join and sizes live in the capped space") {
    val p = planOf("q_containment")
    // the df-cap filter must gate ALL THREE consumers of the shingle
    // stream (both pair-join sides + the size aggregates), or the
    // sizes are computed in the uncapped space (ratio skew). Two
    // lawful shapes: (a) the cap filter replicated into each branch
    // (>= 3 textual occurrences), or (b) the capped frame
    // materialized ONCE via localCheckpoint and every branch reading
    // that same ExistingRDD (>= 3 scans of it) — shape (b) is the
    // optimized plan; the cap is upstream of the checkpoint by
    // construction (Dedup.containmentPairs applies df<=maxDf before
    // .localCheckpoint()), and DedupSimilaritySpec's containment
    // fixtures pin the capped-space ratios numerically.
    val caps  = "df#\\d+L? <= 50".r.findAllIn(p).size
    val scans = "Scan ExistingRDD".r.findAllIn(p).size
    assert(caps >= 3 || scans >= 3,
      s"expected the df<=50 cap on pair sides AND size branches " +
        s"(3 cap filters or 3 reads of one materialized capped frame), " +
        s"found caps=$caps scans=$scans:\n$p")
    // shape (b) must not be trusted on construction alone: when the
    // final plan only shows ExistingRDD scans, assert the df<=maxDf
    // cap IS in the pre-checkpoint plan of the frame those scans read
    // (a cap removal would otherwise still pass on scan count)
    if (caps < 3) {
      val keyedPlan = graft.operators.Dedup
        .containmentKeyed(Tables.documents(spark, sf))
        .queryExecution.executedPlan.toString
      assert("df#\\d+L? <= 50".r.findAllIn(keyedPlan).nonEmpty,
        s"the materialized posting frame lost its df<=50 cap:\n$keyedPlan")
    }
    // candidates must come from the fp equi-join, never a product
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"posting-list join lost its equi shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment degenerated to an all-pairs product:\n$p")
  }

  test("strip_spans joins the span-fp registry back with an equi-join, no pair space") {
    val p = planOf("q_strip_spans")
    // the registry (groupBy span_fp, first_doc) is small by
    // construction and must ride as a broadcast/equi join; any
    // nested-loop or product means the per-doc interval rebuild
    // regressed into a pair sweep
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"registry join lost its equi shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"strip_spans planned a pair-space join:\n$p")
  }

  test("pareto frontier: the lag grid broadcasts back and no product appears") {
    val p = planOf("q_pareto_frontier")
    // the bounded running-min grid must return to the part frame as a
    // broadcast equi-join — a shuffled join here means the grid was
    // mistaken for a fact table; a product means the skyline
    // regressed to the quadratic NOT-EXISTS shape
    assert(p.contains("BroadcastHashJoin"), s"grid join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline planned a pair-space join:\n$p")
  }

  test("edit near-dup: the block-size cap gates the self-join; candidates stay equi-keyed") {
    val p = planOf("q_edit_neardup")
    // the blk_n <= maxBlock filter must appear (the cap runs BEFORE
    // the self-join), and the pair join must be an equi join on blk
    assert("blk_n#\\d+L? <= 256".r.findAllIn(p).nonEmpty,
      s"block cap filter missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"block self-join lost its equi shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit near-dup degenerated to an all-pairs product:\n$p")
  }

  test("unpivot melt is one Expand in the bar stage; lead-lag broadcasts the shifted benchmark") {
    val u = planOf("q_unpivot_long")
    assert(u.contains("Expand"), s"unpivot must plan an Expand:\n$u")
    // exactly the bar groupBy's exchanges — the melt itself adds none
    // (sort for the output ordering is fine; count data exchanges)
    val l = planOf("q_lead_lag_corr")
    assert(l.contains("BroadcastHashJoin") || l.contains("BroadcastExchange"),
      s"the 5-shift benchmark frame must broadcast:\n$l")
    assert(!l.contains("CartesianProduct"), s"lead-lag planned a product:\n$l")
  }

  test("correlated subqueries decorrelate into aggregate joins, never per-row re-execution") {
    // Q17 shape: the per-part threshold must become ONE grouped avg
    // over lineitem joined back on l_partkey — visible as a second
    // lineitem scan feeding an avg aggregate, with no subquery
    // expression left in the physical plan
    val p17 = planOf("q_small_qty_revenue")
    assert(!p17.contains("scalar-subquery") && !p17.contains("Subquery"),
      s"q_small_qty_revenue kept an undecorrelated subquery:\n$p17")
    assert(p17.contains("partial_avg(l_quantity"),
      s"the per-part threshold is not a grouped avg aggregate:\n$p17")
    val scans17 = "lineitem\\.parquet".r.findAllIn(p17).size
    assert(scans17 == 2,
      s"expected exactly 2 lineitem scans (fact + threshold agg), found $scans17:\n$p17")
    // Q20 shape: EXISTS -> left-semi, IN -> semi on p_partkey, inner
    // scalar -> grouped aggregate; again no surviving subquery nodes
    val p20 = planOf("q_qualified_suppliers")
    assert(!p20.contains("scalar-subquery") && !p20.contains("Subquery"),
      s"q_qualified_suppliers kept an undecorrelated subquery:\n$p20")
    assert(p20.contains("LeftSemi"),
      s"the EXISTS chain did not become semi joins:\n$p20")
    val scans20 = "lineitem\\.parquet".r.findAllIn(p20).size
    assert(scans20 == 2,
      s"expected exactly 2 lineitem scans in the Q20 shape, found $scans20:\n$p20")
    assert(!p17.contains("CartesianProduct") && !p20.contains("CartesianProduct"))
  }

  test("Q2/Q22 shapes: min-cost decorrelates to a grouped aggregate, NOT EXISTS to an anti join") {
    // Q2 shape: the correlated scalar-min must become ONE grouped
    // min over lineitem joined back on l_partkey — never a per-part
    // re-execution
    val p2 = planOf("q_min_cost_supplier")
    assert(!p2.contains("scalar-subquery") && !p2.contains("Subquery"),
      s"q_min_cost_supplier kept an undecorrelated subquery:\n$p2")
    assert(p2.contains("partial_min("),
      s"the per-part floor is not a grouped min aggregate:\n$p2")
    val scans2 = "lineitem\\.parquet".r.findAllIn(p2).size
    assert(scans2 == 2,
      s"expected exactly 2 lineitem scans (fact + min agg), found $scans2:\n$p2")
    // Q22 shape: NOT EXISTS -> LeftAnti; the two uncorrelated
    // scalars evaluate once (they appear as reusable subquery
    // results, not correlated re-execution — so only the
    // CORRELATED marker is red-barred here)
    val p22 = planOf("q_dormant_customers")
    assert(p22.contains("LeftAnti"),
      s"NOT EXISTS did not become an anti join:\n$p22")
    assert(!p22.contains("scalar-subquery"),
      s"q_dormant_customers kept a correlated scalar subquery:\n$p22")
    assert(!p2.contains("CartesianProduct") && !p22.contains("CartesianProduct"))
  }

  test("Q21 shape: EXISTS/NOT-EXISTS self-joins decorrelate to semi+anti, never per-row probes") {
    val p = planOf("q_waiting_suppliers")
    assert(!p.contains("scalar-subquery"),
      s"q_waiting_suppliers kept a correlated scalar subquery:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // Q19 shape: the disjunctive predicate keeps its broadcast
    // equi-join — it must never degrade to a nested-loop product
    val p19 = planOf("q_or_predicate_revenue")
    assert(p19.contains("BroadcastHashJoin") || p19.contains("BroadcastExchange"),
      s"q_or_predicate_revenue lost its broadcast dim join:\n$p19")
    assert(!p19.contains("CartesianProduct") && !p19.contains("BroadcastNestedLoopJoin"))
    // the date window must reach the lineitem scan in the Q12 shape
    val p12 = planOf("q_ship_priority_classes")
    assert(p12.contains("PushedFilters: [") && !p12.matches("(?s).*PushedFilters: \\[\\].*"),
      s"q_ship_priority_classes ship-date window not pushed to scan:\n$p12")
  }

  test("bloom join: codegen'd probe filter present, equi-join strategy, no product") {
    val p = planOf("q_bloom_join")
    assert(p.contains("getbit"),
      s"the bloom probe (getbit on the bitset literal) is missing from the plan:\n$p")
    assert(p.contains("xxhash64"),
      s"the probe hash family is missing — the filter is not the bloom probe:\n$p")
    assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*"),
      s"bloom join lost its equi-join strategy:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded corr pairs: candidates from the (band,sig) bucket join, verification equi-keyed") {
    val p = planOf("q_corr_pairs_banded")
    assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*(band|sig)[^\\]]*\\].*") ||
      p.matches("(?s).*Join [^\\n]*(band|sig).*"),
      s"candidate join is not keyed on the band bucket:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded corr degenerated to a product:\n$p")
  }

  test("Q4 shape: the late-line EXISTS decorrelates to one semi join on the order key") {
    val p = planOf("q_late_orders")
    assert(p.contains("LeftSemi"),
      s"q_late_orders lost its semi-join decorrelation:\n$p")
    assert(!p.contains("InSubqueryExec") && !p.contains("ScalarSubquery"),
      s"a per-row subquery survived in q_late_orders:\n$p")
    // the order-date window must still reach the orders scan
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"the order-date window stopped reaching the orders scan:\n$p")
  }

  test("Q5 shape: the same-nation condition rides the supplier equi-join, not a post-filter") {
    val p = planOf("q_local_supplier_volume")
    // the supplier join must key on BOTH suppkey and nationkey —
    // dropping the nationkey conjunct out of the join would leave a
    // 25x-larger intermediate to filter after the fact
    assert(p.matches("(?s).*BroadcastHashJoin \\[[^\\]]*l_suppkey[^\\]]*c_nationkey[^\\]]*\\].*") ||
      p.matches("(?s).*BroadcastHashJoin \\[[^\\]]*c_nationkey[^\\]]*l_suppkey[^\\]]*\\].*"),
      s"c_nationkey = s_nationkey fell out of the supplier join keys:\n$p")
  }

  test("Q10 shape: return flag and date window push to their scans; top-k is the heap merge") {
    val p = planOf("q_returned_items")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_returnflag[^\\]]*\\].*"),
      s"the return-flag filter stopped reaching the lineitem scan:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"the order-date window stopped reaching the orders scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q_returned_items lost TakeOrderedAndProject — a global sort of all customers at scale:\n$p")
  }

  test("Q11/Q15 shapes: the scalar derives from the materialized aggregate, never a second fact scan") {
    for (q <- Seq("q_important_parts", "q_top_supplier")) {
      val p = planOf(q)
      // both branches (scalar and output) must read the checkpointed
      // per-key frame; any lineitem parquet scan in THIS plan means
      // the 100 TB fact is being read twice
      assert(p.contains("ExistingRDD"),
        s"$q no longer reads the materialized per-key aggregate:\n$p")
      assert(!p.contains("lineitem"),
        s"$q re-scans lineitem for its scalar branch:\n$p")
    }
  }

  test("Q16 shape: complaint suppliers anti-join; pairs dedup BEFORE the part dim join") {
    val p = planOf("q_supplier_part_counts")
    assert(p.contains("LeftAnti"),
      s"the NOT IN complaint-supplier exclusion lost its anti join:\n$p")
    // the distinct over (l_partkey, l_suppkey) must exist as its own
    // aggregate (dedup BEFORE the dim join — dedup-after-join would
    // carry every duplicate line through the join at full volume),
    // and lineitem must be scanned exactly once
    assert(p.matches("(?s).*HashAggregate\\(keys=\\[l_partkey[^\\]]*l_suppkey[^\\]]*\\].*"),
      s"pair-dedup aggregate missing:\n$p")
    assert("lineitem".r.findAllIn(p).size <= 2, // path shows once per scan block
      s"lineitem scanned more than once:\n$p")
  }

  test("ADC searches broadcast codebook and LUT; the DAU day grid broadcasts its range join") {
    for (q <- Seq("q_pq_search", "q_ivfpq_search")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q lost its broadcast equi-joins (codebook/LUT must never shuffle the corpus):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q degenerated to a product:\n$p")
    }
    val p = planOf("q_dau_wau")
    // the trailing-window condition is a non-equi join: correct shape
    // is the DAY GRID broadcast under a nested-loop join (one row per
    // calendar day — bounded by the date span), never a cartesian and
    // never a shuffle of the user-day frame for the grid's benefit
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q_dau_wau lost the broadcast day-grid range join:\n$p")
    assert(p.contains("datediff"),
      s"the trailing-window condition left the join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_dau_wau planned a product:\n$p")
  }

  test("mann-whitney ranks ride range-partitioned local windows, not one global data window") {
    val p = planOf("q_mann_whitney")
    // the distributed prefix sum: the range partitioning sits behind
    // the localCheckpoint (the plan reads the materialized RDD), so
    // the post-checkpoint signature is the LOCAL cumsum window keyed
    // on the frozen pid plus the broadcast offsets — a regression to
    // a global data window would drop the pid partitioning
    assert(p.contains("hashpartitioning(pid"),
      s"q_mann_whitney lost its pid-partitioned local cumsum — the ECDF would be a single-partition window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the per-partition offsets stopped broadcasting:\n$p")
  }

  test("merge upsert pays one fact shuffle; welch t-test is one conditional-aggregate pass") {
    val pm = planOf("q_merge_upsert")
    // window + presence flags share a single hashpartitioning
    // exchange on the key (the trailing exchange is the output sort)
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(pm).length
    assert(hashEx === 1, s"q_merge_upsert now pays $hashEx key shuffles (want 1):\n$pm")
    assert(!pm.contains("Join"), s"q_merge_upsert grew a join:\n$pm")
    val pw = planOf("q_welch_ttest")
    assert(!pw.contains("Window") && !pw.contains("Join"),
      s"q_welch_ttest should be scan + aggregate only:\n$pw")
  }

  test("temperature mix and hard negatives broadcast their small sides") {
    val t = planOf("q_temperature_mix")
    assert(t.contains("BroadcastHashJoin"),
      s"the per-source rate table stopped broadcasting:\n$t")
    val h = planOf("q_hard_negatives")
    // anchors are a broadcast non-equi join (self-exclusion), same
    // class as the ANN query joins
    assert(h.contains("BroadcastNestedLoopJoin") || h.contains("BroadcastHashJoin"),
      s"q_hard_negatives lost its broadcast anchor join:\n$h")
  }

  test("power users cumsum rides range-partitioned local windows; benford total broadcasts") {
    val p = planOf("q_power_users")
    // the ksTest shape: local cumsum windows keyed on the frozen pid
    // behind the localCheckpoint, offsets and grand total broadcast —
    // a regression to a global (n_events desc) window would
    // single-partition the entire user population
    assert(p.contains("hashpartitioning(pid"),
      s"q_power_users lost its pid-partitioned local cumsum:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q_power_users offsets/total stopped broadcasting:\n$p")
    val b = planOf("q_benford")
    assert(b.contains("BroadcastNestedLoopJoin") || b.contains("BroadcastExchange"),
      s"q_benford's one-row total stopped broadcasting:\n$b")
    assert(!b.contains("Window"), s"q_benford grew a window:\n$b")
  }

  test("incremental dedup confirms only the bloom-positive sliver through the equi-join") {
    val p = planOf("q_incremental_dedup")
    // the bloom probe is a scan-stage filter: the confirm join must
    // be an equi hash join on the fingerprint, and there must be no
    // shape that pushes the WHOLE batch through a join regardless of
    // the probe (a BNLJ or cartesian would)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q_incremental_dedup's confirm join degraded to a product shape:\n$p")
    assert(p.contains("bloom") || p.contains("xxhash64"),
      s"the bloom probe disappeared from the plan:\n$p")
  }

  test("source overlap broadcasts the per-source size dim; profiler is a single aggregate job") {
    val s = planOf("q_source_overlap")
    assert(s.contains("BroadcastHashJoin"),
      s"q_source_overlap's size dim stopped broadcasting:\n$s")
    val p = planOf("q_profile_table")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"q_profile_table must stay one scan + aggregate (Expand for distincts):\n$p")
    assert(p.contains("Expand"),
      s"the multi-distinct Expand vanished — profiler now scans per column?:\n$p")
  }

  test("rfm scores through broadcast cuts (no ntile window); basket top-k is the heap merge") {
    val r = planOf("q_rfm")
    assert(!r.contains("Window"),
      s"q_rfm grew a window — quartile scoring must stay a broadcast CASE chain:\n$r")
    assert(r.contains("BroadcastNestedLoopJoin") || r.contains("BroadcastExchange"),
      s"q_rfm's one-row cuts frame stopped broadcasting:\n$r")
    val b = planOf("q_basket_pairs")
    assert(b.contains("TakeOrderedAndProject"),
      s"q_basket_pairs' top-k degraded to a global sort:\n$b")
  }

  test("readability is scan-only; triangle count joins stay equi-keyed") {
    val r = planOf("q_readability")
    assert(!r.contains("Exchange hashpartitioning") && !r.contains("Join"),
      s"q_readability must be a pure scan-stage projection (sort excepted):\n$r")
    val t = planOf("q_triangle_count")
    assert(!t.contains("CartesianProduct"),
      s"q_triangle_count planned a cartesian:\n$t")
  }

  test("spearman/capture broadcast the benchmark; kendall's pair join stays equi-keyed") {
    for (q <- Seq("q_spearman_corr", "q_capture_ratios")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q lost its benchmark broadcast:\n$p")
    }
    val k = planOf("q_kendall_trend")
    assert(!k.contains("CartesianProduct") && !k.contains("BroadcastNestedLoopJoin"),
      s"q_kendall_trend's day-pair join must ride the user_id equi-key:\n$k")
  }

  test("bootstrap CI is one scan with no replicate blowup; stickiness broadcasts the day grid") {
    val b = planOf("q_bootstrap_ci")
    assert(!b.contains("Generate"),
      s"q_bootstrap_ci grew an explode — the 32 replicates must be conditional aggregates, not a 32x row blowup:\n$b")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(b).length
    assert(exchanges <= 1,
      s"q_bootstrap_ci must pay at most the one event_type aggregate shuffle, found $exchanges:\n$b")
    val s = planOf("q_stickiness")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"q_stickiness' trailing-window join must broadcast the bounded day grid:\n$s")
  }

  test("fk integrity broadcasts its dim parents; mean-lag funnel join stays user-equi-keyed") {
    val f = planOf("q_fk_integrity")
    assert(f.contains("BroadcastHashJoin"),
      s"q_fk_integrity's dim-parent membership joins stopped broadcasting:\n$f")
    val w = planOf("q_funnel_windowed")
    assert(!w.contains("CartesianProduct") && !w.contains("BroadcastNestedLoopJoin"),
      s"q_funnel_windowed's horizon predicate must ride the user_id equi-join, not a product:\n$w")
  }

  test("wasserstein rides pid-local windows with broadcast offsets; walsh pair join stays equi-keyed") {
    val p = planOf("q_wasserstein")
    // the ksTest distributed-prefix-sum shape: local cumsum keyed on
    // the frozen pid + broadcast offsets — a regression to a global
    // data window would drop the pid partitioning
    assert(p.contains("hashpartitioning(pid"),
      s"q_wasserstein lost its pid-partitioned local cumsum:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"q_wasserstein's offsets stopped broadcasting:\n$p")
    val h = planOf("q_hodges_lehmann")
    assert(!h.contains("BroadcastNestedLoopJoin"),
      s"q_hodges_lehmann's Walsh pair join must stay a key equi-join:\n$h")
    assert(h.contains("hashpartitioning(user_id") || h.contains("SortMergeJoin"),
      s"q_hodges_lehmann lost its user_id-keyed pair join:\n$h")
  }

  test("heaps law shuffles once on the token axis; isotropy never plans a pair join") {
    val p = planOf("q_heaps_law")
    assert(p.contains("hashpartitioning(tok"),
      s"q_heaps_law's first-occurrence aggregate must key on the token axis:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_heaps_law grew a product:\n$p")
    val i = planOf("q_isotropy")
    // (||S||^2 - n)/(n(n-1)) needs NO pair frame: a join between two
    // corpus-sized sides would mean the identity regressed to a sweep
    assert(!i.contains("SortMergeJoin") && !i.contains("ShuffledHashJoin"),
      s"q_isotropy must not join corpus-sized sides:\n$i")
  }
}
