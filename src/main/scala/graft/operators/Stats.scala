package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

/** Distribution statistics, multi-level rollups, data cleaning and
  * gap handling — the summary/quality layer of the analytics engine.
  *
  * Scale notes: percentile here is the exact single-pass aggregate
  * (fine up to huge groups since it buffers per group key, and group
  * count is bounded); for unbounded cardinality switch to
  * approx_percentile (t-digest) — same plan shape. countDistinct
  * expands to a two-level aggregate (partial distinct per partition,
  * final merge) — the HLL sketch (approx_count_distinct) is the
  * 100 TB default when exactness isn't required.
  */
object Stats {

  /** Exact quantiles per group (linear interpolation — the same
    * definition DuckDB's quantile_cont and numpy's percentile use).
    */
  def percentiles(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(Array(0.25, 0.5, 0.9))).as("qs"))
      .select(
        col("event_type"),
        round(element_at(col("qs"), 1), 6).as("p25"),
        round(element_at(col("qs"), 2), 6).as("p50"),
        round(element_at(col("qs"), 3), 6).as("p90"))

  /** Winsorize values to per-group [pLo, pHi] quantile bounds — the
    * standard outlier-clipping step before model features. Bounds
    * come from one per-group aggregate broadcast back onto the row
    * stream; the clip itself is a narrow least/greatest.
    */
  def winsorize(events: DataFrame, groupCol: String, pLo: Double, pHi: Double): DataFrame = {
    val bounds = events
      .groupBy(col(groupCol))
      .agg(percentile(col("value"), lit(Array(pLo, pHi))).as("qs"))
      .select(col(groupCol), element_at(col("qs"), 1).as("lo"), element_at(col("qs"), 2).as("hi"))
    events
      .join(org.apache.spark.sql.functions.broadcast(bounds), groupCol)
      .select(
        col("event_id"), col(groupCol),
        round(greatest(col("lo"), least(col("hi"), col("value"))), 6).as("value_w"))
  }

  /** Fixed-width value histogram: one groupBy, bins as floor-div. */
  def histogram(events: DataFrame, width: Double): DataFrame =
    events
      .groupBy(floor(col("value") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), min("value").as("bin_min"), max("value").as("bin_max"))

  /** Multi-level ROLLUP summary with sentinel labels instead of the
    * engine-dependent NULL group markers.
    */
  def rollupSummary(events: DataFrame): DataFrame =
    events
      .withColumn("cohort", pmod(col("user_id"), lit(10)))
      .rollup(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double").as("total"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("cohort"), lit(-1L)).as("cohort"),
        col("n"), col("total"))

  /** Equi-DEPTH histogram over the value column: k buckets holding
    * ~n/k rows each, boundaries at the exact interpolating
    * percentiles — the complement of [[histogram]]'s fixed-width
    * bins (equi-width starves the tails; equi-depth puts resolution
    * where the data is, and IS the statistics histogram an optimizer
    * keeps). The k−1 cut points are ONE aggregate row broadcast back;
    * bucket assignment is a scan-stage compare chain. At 100 TB the
    * exact percentile swaps for approx_percentile (its checked twin
    * is q_approx_percentiles) and the shape is unchanged.
    */
  def equidepthHistogram(events: DataFrame, k: Int = 10, v: String = "value"): DataFrame = {
    require(k >= 2 && k <= 100, s"bucket count out of range: $k")
    val probs = (1 until k).map(_.toDouble / k)
    val cuts = events.agg(percentile(col(v), lit(probs.toArray)).as("cuts"))
    val bucket = (1 until k).reverse.foldLeft(lit(k - 1)) { (acc, i) =>
      // built highest-cut-innermost so the assembled CASE chain tests
      // the LOWEST cut first — the first cut the value is below wins
      when(col(v) < element_at(col("cuts"), i), lit(i - 1)).otherwise(acc)
    }
    events
      .crossJoin(org.apache.spark.sql.functions.broadcast(cuts))
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), min(col(v)).as("lo"), max(col(v)).as("hi"))
  }

  /** Tukey IQR outlier fences per event type: q1/q3, the 1.5·IQR
    * fences, and the count/share of rows outside them — the boxplot
    * outlier rule beside [[robustZscore]]'s MAD z. The percentile
    * pass reduces to one row per type (bounded dim, broadcast back);
    * the fence check is a scan-stage compare; counts exact, share
    * one division. Exact interpolating percentiles both engines
    * share; fences are IEEE chains on those exact values.
    */
  def iqrOutliers(events: DataFrame, mult: Double = 1.5,
                  key: String = "event_type", v: String = "value"): DataFrame = {
    require(mult > 0, s"fence multiplier must be positive: $mult")
    val q = events.groupBy(col(key))
      .agg(percentile(col(v), lit(Array(0.25, 0.75))).as("qs"))
      .select(col(key), element_at(col("qs"), 1).as("q1"), element_at(col("qs"), 2).as("q3"))
      .withColumn("lo", col("q1") - lit(mult) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(mult) * (col("q3") - col("q1")))
    events
      .join(org.apache.spark.sql.functions.broadcast(q), key)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        max(col("q1")).as("q1x"), max(col("q3")).as("q3x"),
        max(col("lo")).as("lox"), max(col("hi")).as("hix"),
        sum(when(col(v) < col("lo") || col(v) > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col(key), col("n"),
        round(col("q1x"), 6).as("q1"), round(col("q3x"), 6).as("q3"),
        round(col("lox"), 6).as("fence_lo"), round(col("hix"), 6).as("fence_hi"),
        col("n_outliers"),
        // UNROUNDED: an exact-count quotient can terminate on a 6dp
        // half boundary; the raw IEEE division is bit-identical
        (col("n_outliers").cast("double") / col("n")).as("outlier_rate"))
  }

  /** Per-key z-score feature normalization — the standard-scaler ETL
    * transform (fit per key, apply per row, in one query): z =
    * (x − mean) / sample std against the key's own distribution.
    * Values quantize ONCE to DECIMAL(18,6) at the scan (the welch
    * recipe), so the per-key moments (n, Σx, Σx²) are exact,
    * order-independent decimal sums at any partition count; the
    * moment table joins back co-partitioned on the key's own
    * aggregate hash partitioning and each row's z is one short IEEE
    * chain. Constant keys (std 0) surface null, not noise. At 100 TB
    * this is the fit-then-transform split: the tiny moment table is
    * the "model", the scan-stage chain the "transform".
    */
  def zscoreNormalize(events: DataFrame,
                      key: String = "user_id", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val x   = col(v).cast(dec)
    val m = events
      .select(col(key), x.as("x"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
    val nd  = col("n").cast("double")
    val sxd = col("sx").cast("double"); val sxxd = col("sxx").cast("double")
    val mean = sxd / nd
    val varS = (sxxd - sxd * sxd / nd) / (nd - 1)
    val stats = m.select(col(key), col("n"), mean.as("mean"),
      when(col("n") > 1 && varS > 0, sqrt(varS)).as("std"))
    events
      .join(stats, key)
      .select(col("event_id"), col(key),
        round((x.cast("double") - col("mean")) / col("std"), 6).as("z"))
  }

  /** Smoothed target (mean) encoding of a categorical column — the
    * classic ML feature-engineering move for high-cardinality
    * categories: enc = (Σ_cat target + k · global mean) / (n_cat + k),
    * shrinking rare categories toward the prior so they can't
    * memorize noise. One aggregate pass builds every category's exact
    * DECIMAL sums; the global prior is a one-row broadcast derived
    * from the SAME sums (no second scan); the encode itself is one
    * IEEE chain per category row. Category count, not corpus size,
    * bounds the output.
    */
  def targetEncoding(events: DataFrame, k: Int = 20,
                     cat: String = "event_type", v: String = "value"): DataFrame = {
    require(k >= 0, s"smoothing k must be >= 0: $k")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val per = events
      .select(col(cat), col(v).cast(dec).as("x"))
      .groupBy(col(cat))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val glob = per.agg(sum(col("n")).as("gn"), sum(col("sx")).as("gsx"))
    per.crossJoin(org.apache.spark.sql.functions.broadcast(glob))
      .select(col(cat), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("raw_mean"),
        round((col("sx").cast("double") + lit(k.toDouble) * (col("gsx").cast("double") / col("gn")))
          / (col("n") + lit(k)).cast("double"), 6).as("encoded"))
  }

  /** Two-proportion A/B z-test between two event types on a success
    * predicate (value above a cutoff): the experiment-readout
    * companion of [[welchTTest]] (means) and [[mannWhitney]] (ranks)
    * for BINARY outcomes. Everything up to z is exact integer counts
    * from ONE conditional-aggregate scan; z is a single shared IEEE
    * chain (pooled proportion, as the classical test prescribes) at
    * 6dp. Degenerate pools (p̂ = 0 or 1, or an empty arm) surface
    * null.
    */
  def abTest(events: DataFrame, typeA: String, typeB: String, cutoff: Double,
             key: String = "event_type", v: String = "value"): DataFrame = {
    val m = events
      .filter(col(key).isin(typeA, typeB))
      .select(
        when(col(key) === typeA, lit(1L)).otherwise(lit(0L)).as("ia"),
        when(col(v) > cutoff, lit(1L)).otherwise(lit(0L)).as("s"))
      .agg(
        sum(col("ia")).as("na"),
        sum(lit(1L) - col("ia")).as("nb"),
        sum(when(col("ia") === 1L, col("s")).otherwise(lit(0L))).as("sa"),
        sum(when(col("ia") === 0L, col("s")).otherwise(lit(0L))).as("sb"))
    val nad = col("na").cast("double"); val nbd = col("nb").cast("double")
    val pa  = col("sa").cast("double") / nad
    val pb  = col("sb").cast("double") / nbd
    val pp  = (col("sa") + col("sb")).cast("double") / (col("na") + col("nb")).cast("double")
    val se  = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / nad + lit(1.0) / nbd))
    m.select(
      col("na"), col("nb"), col("sa"), col("sb"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(when(col("na") > 0 && col("nb") > 0 && pp > 0 && pp < 1,
        (pa - pb) / se), 6).as("z"))
  }

  /** Full CUBE over (event_type, cohort): every grain of the
    * two-dimension lattice — (both), (type), (cohort), () — in one
    * pass, completing the [[rollupSummary]] (prefix ladder) /
    * [[groupingSetsSummary]] (hand-picked grains) family. Spark
    * expands grains map-side, so grain count x distinct groups (not
    * x fact rows) pays the exchange; sentinel labels; exact counts +
    * DECIMAL money sums imaged to double once.
    */
  def cubeSummary(events: DataFrame): DataFrame =
    events
      .withColumn("cohort", pmod(col("user_id"), lit(10)))
      .cube(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double").as("total"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("cohort"), lit(-1L)).as("cohort"),
        col("n"), col("total"))

  /** Multi-grain summary via GROUPING SETS — the grains a report
    * actually wants ((flag, status), (flag), (status), ()) in ONE
    * pass, where [[rollupSummary]]'s ROLLUP can only express the
    * prefix-closed ladder. Spark expands the sets map-side (partial
    * aggregation applies per grain before the shuffle — grain count
    * x distinct groups, not grain count x fact rows, pays the
    * exchange); sentinel labels make the null-vs-ALL distinction
    * explicit. DECIMAL money sums, exact counts.
    */
  def groupingSetsSummary(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("graft_gs_lineitem")
    spark.sql("""
      |SELECT
      |  coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM graft_gs_lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
      |""".stripMargin)
  }

  /** Calendar-gap detection in per-key daily series — the data-
    * quality scan feeding [[resampleFfill]]: for each key, every
    * hole between consecutive observed days (gap_start = first
    * missing day, gap_days = its width). One bar reduction + one
    * lead window on the same (key, day) sort; exact date arithmetic,
    * no floats anywhere.
    */
  def gapDetect(events: DataFrame,
                key: String = "user_id", ts: String = "ts"): DataFrame = {
    val w = Window.partitionBy(key).orderBy("day")
    events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(count(lit(1)).as("n_obs"))
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .filter(col("next_day").isNotNull &&
        datediff(col("next_day"), col("day")) > 1)
      .select(col(key),
        date_format(date_add(col("day"), 1), "yyyy-MM-dd").as("gap_start"),
        (datediff(col("next_day"), col("day")).cast("long") - 1L).as("gap_days"))
  }

  /** The approximate-at-scale twins of distinctCounts/percentiles:
    * HLL++ sketch counts and t-digest quantiles — constant memory
    * per group, one pass, mergeable across partitions. Sketches are
    * engine-specific so these are spec-checked against the exact
    * operators (within rsd/tolerance) rather than hash-matched.
    */
  def approxDistinctCounts(lineitem: DataFrame, rsd: Double = 0.02): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd).as("n_orders"),
        approx_count_distinct(col("l_suppkey"), rsd).as("n_suppliers"))

  def approxPercentiles(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(Array(0.25, 0.5, 0.9)), lit(accuracy)).as("qs"))
      .select(
        col("event_type"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p90"))

  /** Oracle-checkable twin of [[approxDistinctCounts]]: emits the
    * EXACT distinct counts (hash-matched against the oracle) plus
    * within-bound booleans asserting the HLL++ estimate landed inside
    * 3*rsd of exact. The sketch is a deterministic algorithm given
    * the data, so the booleans are engine-deterministic: the oracle
    * emits literal TRUE, and a sketch regression flips a flag and
    * fails the hash match instead of hiding behind "approx".
    */
  def approxDistinctChecked(lineitem: DataFrame, rsd: Double = 0.02): DataFrame = {
    // two aggregates joined on the tiny group key, NOT one: mixing
    // countDistinct with the HLLs in a single agg makes Catalyst
    // expand every row once per distinct column (measured ~4x the
    // cost in the sweep); separately, the sketch pass is a plain
    // single-scan agg and the exact pass is the standard
    // partial-distinct shape
    // null-safe join key (<=>): the single-scan oracle keeps a
    // NULL-key group, so an inner equi-join would silently drop it
    val approx = lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd).as("orders_approx"),
        approx_count_distinct(col("l_suppkey"), rsd).as("suppliers_approx"))
      .withColumnRenamed("l_returnflag", "rf_approx")
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .join(approx, col("l_returnflag") <=> col("rf_approx"))
      .select(
        col("l_returnflag"), col("n_orders"), col("n_suppliers"),
        (abs(col("orders_approx") - col("n_orders")) <= col("n_orders") * (3 * rsd))
          .as("orders_within_bound"),
        (abs(col("suppliers_approx") - col("n_suppliers")) <= col("n_suppliers") * (3 * rsd))
          .as("suppliers_within_bound"))
  }

  /** Oracle-checkable twin of [[approxPercentiles]]: emits the exact
    * interpolated quantiles (hash-matched) plus rank-error flags for
    * the Greenwald-Khanna approximation. percentile_approx guarantees
    * SOME rank of the returned value lies within n/accuracy of the
    * target rank; a duplicated value occupies the whole rank interval
    * [count(<v)+1, count(<=v)], so the check asserts that INTERVAL
    * intersects [q-eps, q+eps] (+2/n discreteness slack) — a
    * one-sided count(<=v)/n test would overstate the realized rank on
    * tie-heavy data and false-flag an in-contract answer. Counts are
    * exact integers, so the flags are engine-stable.
    */
  def approxPercentilesChecked(events: DataFrame, accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    def ok(q: Double, lt: org.apache.spark.sql.Column, le: org.apache.spark.sql.Column,
           n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (lt / n <= lit(q) + lit(eps) + lit(2.0) / n) &&
        (le / n >= lit(q) - lit(eps) - lit(2.0) / n)
    // null-safe join key (<=>): a NULL event_type group must survive
    // the broadcast join as it would the oracle's single scan
    events
      .join(
        broadcast(approxPercentiles(events, accuracy).withColumnRenamed("event_type", "et_approx")),
        col("event_type") <=> col("et_approx"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("value") < col("p25")).cast("long")).as("lt25"),
        sum((col("value") <= col("p25")).cast("long")).as("le25"),
        sum((col("value") < col("p50")).cast("long")).as("lt50"),
        sum((col("value") <= col("p50")).cast("long")).as("le50"),
        sum((col("value") < col("p90")).cast("long")).as("lt90"),
        sum((col("value") <= col("p90")).cast("long")).as("le90"),
        percentile(col("value"), lit(Array(0.25, 0.5, 0.9))).as("qs"))
      .select(
        col("event_type"),
        round(element_at(col("qs"), 1), 6).as("p25_exact"),
        round(element_at(col("qs"), 2), 6).as("p50_exact"),
        round(element_at(col("qs"), 3), 6).as("p90_exact"),
        ok(0.25, col("lt25"), col("le25"), col("n")).as("p25_within_bound"),
        ok(0.50, col("lt50"), col("le50"), col("n")).as("p50_within_bound"),
        ok(0.90, col("lt90"), col("le90"), col("n")).as("p90_within_bound"))
  }

  /** The incremental half of the sketch story: per-shard DataSketches
    * HLL sketches that persist as binary columns and merge later —
    * the canonical 100 TB pattern where each ingest batch/partition
    * sketches once and the global estimate is a cheap union over
    * sketch rows instead of a re-scan of history. [[mergeSketches]]
    * reduces a shard-sketch table to final estimates; the spec
    * asserts the shard-union estimate tracks the direct sketch
    * closely (union promotes the sketch representation, so the two
    * are near- but not bit-identical) and lands within rsd of exact.
    */
  def sketchDistinctByShard(lineitem: DataFrame, nShards: Int = 8): DataFrame =
    lineitem
      .withColumn("shard", pmod(col("l_orderkey"), lit(nShards.toLong)))
      .groupBy(col("l_returnflag"), col("shard"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("orders_sketch"))

  def mergeSketches(shardSketches: DataFrame): DataFrame =
    shardSketches
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("orders_sketch"))).as("n_orders_est"))

  /** Oracle-checkable face of the shard-sketch-merge pattern, same
    * design as [[approxDistinctChecked]]: the exact count is
    * hash-matched, and the shard-union estimate's accuracy is an
    * engine-deterministic boolean the oracle asserts TRUE (HLL
    * registers are per-value hashes combined by max — insertion- and
    * merge-order independent, so the estimate is a pure function of
    * the data and shard rule).
    */
  def sketchMergeChecked(lineitem: DataFrame, nShards: Int = 8): DataFrame = {
    // null-safe join key (<=>), same rationale as approxDistinctChecked
    val merged = mergeSketches(sketchDistinctByShard(lineitem, nShards))
      .withColumnRenamed("l_returnflag", "rf_merged")
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      .join(merged, col("l_returnflag") <=> col("rf_merged"))
      .select(col("l_returnflag"), col("n_orders"),
        (abs(col("n_orders_est") - col("n_orders")) <= col("n_orders") * 0.1)
          .as("merge_within_bound"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan '05) over one string
    * column: a `d` x `w` integer counter matrix where each value
    * occurrence increments one counter per row (bucket = md5 of the
    * row-tagged value). The matrix is CONSTANT-SIZE regardless of
    * input cardinality and builds in one map-side-combinable groupBy
    * over at most d*w distinct keys — the frequency-sketch
    * complement of the HLL distinct sketch: at 100 TB each ingest
    * batch sketches once and [[cmsMerge]] unions the matrices by
    * plain counter addition (sum is commutative/associative, so the
    * merged sketch is partitioning- and order-invariant). Buckets
    * are md5-derived (not xxhash) so a SQL oracle can replay the
    * sketch bit-exactly — the estimates are engine-deterministic
    * integers, not "approximately close".
    */
  def cmsSketch(items: DataFrame, valueCol: String, d: Int = 3, w: Int = 16): DataFrame =
    items
      .select(explode(transform(sequence(lit(0), lit(d - 1)), r =>
        struct(r.cast("int").as("r"), cmsBucket(col(valueCol), r, w).as("b")))).as("p"))
      .groupBy(col("p.r").as("r"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Bucket of `v` in sketch row `r`: md5 of the row-tagged value —
    * mirrorable bit-exactly in any engine with md5.
    */
  private[graft] def cmsBucket(v: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
                               w: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), v)), 1, 8), 16, 10).cast("long"),
      lit(w.toLong))

  /** Merge per-shard/per-batch CMS matrices: counter-wise sum. */
  def cmsMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("cnt"))

  /** Point-frequency estimates for `items` from a sketch: min over
    * the d row counters each value hashes to — the classic CMS upper
    * bound (cnt <= est <= cnt + collisions). The sketch is d*w rows,
    * so it rides the probe as a broadcast.
    */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, valueCol: String,
                  d: Int = 3, w: Int = 16): DataFrame =
    items
      .select(col(valueCol),
        explode(transform(sequence(lit(0), lit(d - 1)), r =>
          struct(r.cast("int").as("r"), cmsBucket(col(valueCol), r, w).as("b")))).as("p"))
      .join(broadcast(sketch),
        col("p.r") === sketch("r") && col("p.b") === sketch("b"), "left")
      .groupBy(col(valueCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** Oracle-checkable face of the CMS heavy-hitters pattern, in the
    * [[approxDistinctChecked]] style: tokens above a relative
    * frequency threshold (cnt * pctDen >= total — integer compare,
    * so the threshold scales with the corpus and stays exact), with
    * the exact count AND the sketch estimate both hash-matched (the
    * md5 bucket rule replays in SQL), plus the one-sided-error
    * invariant est >= cnt as a flag. At true scale the candidate set
    * comes FROM the sketch (est-threshold scan of d*w counters — a
    * superset of the true heavy hitters by the one-sided bound) and
    * only candidates pay an exact confirm pass; w here is small on
    * purpose so collisions actually occur and the min-over-rows
    * estimate does real work on the gate.
    */
  def heavyHittersChecked(documents: DataFrame, pctDen: Long = 100,
                          d: Int = 3, w: Int = 16): DataFrame = {
    val toks   = documents.select(explode(split(lower(col("text")), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total  = counts.agg(sum(col("cnt")).as("n_total"))
    val hot = counts.crossJoin(broadcast(total))
      .filter(col("cnt") * pctDen >= col("n_total"))
      .select(col("tok"), col("cnt"))
    val est = cmsEstimate(cmsSketch(toks, "tok", d, w), hot, "tok", d, w)
    hot.join(est, "tok")
      .select(col("tok"), col("cnt"), col("cms_est"),
        (col("cms_est") >= col("cnt")).cast("int").as("cms_upper_ok"))
  }

  /** Exact distinct counts per group (two-level partial-distinct
    * aggregation; HLL for the approximate path at scale).
    */
  def distinctCounts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_lines"))

  /** The full ranking-function family per key (value order with a
    * deterministic tiebreak): rank, dense_rank, percent_rank,
    * cume_dist, ntile, lead — one shuffle, one sort.
    */
  def rankSuite(events: DataFrame): DataFrame = {
    val byVal = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    val byTs  = Window.partitionBy("user_id").orderBy("ts")
    events.select(
      col("event_id"), col("user_id"), col("value"),
      rank().over(byVal).cast("long").as("rnk"),
      dense_rank().over(byVal).cast("long").as("drnk"),
      percent_rank().over(byVal).as("prnk"),
      cume_dist().over(byVal).as("cdist"),
      ntile(4).over(byVal).cast("long").as("quartile"),
      lead(col("value"), 1).over(byTs).as("next_value"))
  }

  /** Text cleaning pipeline: lower, strip non-alphanumerics,
    * collapse runs of spaces, trim — ONE codegen'd byte pass
    * (the graft_clean_text kernel), not a chain of java.util.regex
    * passes: the regex chain measured ~16x slower per char, and on
    * the bench host's JVM concurrent regex tasks additionally
    * collapse ~20x (thread-scaling pathology, reproduced Spark-free
    * — the root cause of q_clean_normalize's former 9x-at-x10
    * ratio). [[cleanNormalizeRegex]] is the composed twin the spec
    * asserts bit-identity against.
    */
  def cleanNormalize(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"), expr("graft_clean_text(text)").as("norm_text"))
      .withColumn("norm_fp", md5(col("norm_text")))
  }

  /** The chained-regex twin of [[cleanNormalize]] — same output bit
    * for bit (spec-asserted); kept as the cross-engine-readable
    * specification of the cleaning semantics.
    */
  def cleanNormalizeRegex(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")).as("norm_text"))
      .withColumn("norm_fp", md5(col("norm_text")))

  /** Forward-fill: treat one event kind as a missing observation and
    * carry the last valid value forward per key.
    */
  def fillForward(events: DataFrame, missingType: String = "error"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("user_id"), unix_micros(col("ts")).as("ts_us"),
      last(when(col("event_type") =!= missingType, col("value")), ignoreNulls = true).over(w)
        .as("value_filled"))
  }

  /** Gap-fill to a daily grid: per key, generate every calendar day
    * in the range, left-join the observed daily close, forward-fill
    * the gaps. The grid explode is per key (narrow), the join is on
    * (key, day) — one shuffle.
    */
  def resampleDailyFfill(events: DataFrame, start: String, end: String): DataFrame = {
    val grid = events
      .select(col("user_id")).distinct()
      .withColumn("day",
        explode(sequence(lit(start).cast("date"), lit(end).cast("date"), expr("interval 1 day"))))
      .withColumn("day", col("day").cast("timestamp"))
    val closes = TimeSeries.dailyClose(events)
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(closes, Seq("user_id", "day"), "left")
      .select(
        col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ffill"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of two event types: D = sup |F_a - F_b|, attained
    * at a jump point of either empirical CDF, so the max over the
    * DISTINCT observed values is exact.
    *
    * Scale design — a distributed prefix sum, NOT a global window:
    * the naive cumsum (`Window.orderBy(x)` with no partition key)
    * funnels the whole distinct-value frame through ONE partition.
    * Instead the frame is range-partitioned on x, each partition
    * cumsums locally (the pid window reshuffles nothing new — rows
    * are already range-grouped), and per-partition totals (nBuckets
    * rows) cumsum on the driver side of a broadcast join to give
    * each partition its global offset. Output determinism does not
    * depend on where the range bounds land: offset + local cumsum
    * IS the global prefix count regardless of the split. Counts
    * exact longs; each F value is one long/long double division;
    * D is an exact max.
    */
  def ksTest(events: DataFrame, typeA: String, typeB: String,
             key: String = "event_type", v: String = "value",
             nBuckets: Int = 32): DataFrame = {
    val d = events
      .filter(col(key).isin(typeA, typeB))
      .select(col(v).as("x"),
        when(col(key) === typeA, 1L).otherwise(0L).as("ia"),
        when(col(key) === typeB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("x"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(nBuckets, col("x"))
      .withColumn("pid", spark_partition_id())
      .materialize("Stats.ksTest.d") // totals + local cumsums both read it; pid is frozen
    val wLocal = Window.partitionBy("pid").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global order over nBuckets offset rows; pid frozen by Stats.ksTest.d
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy(col("pid")).agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      // nBuckets rows: the single-partition window is over the
      // per-partition TOTALS, never the data
      .select(col("pid").as("opid"),
        coalesce(sum(col("ta")).over(wOff), lit(0L)).as("offa"),
        coalesce(sum(col("tb")).over(wOff), lit(0L)).as("offb"))
    val totals = d.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    d
      .withColumn("la", sum(col("ca")).over(wLocal))
      .withColumn("lb", sum(col("cb")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(totals))
      .select(col("na"), col("nb"),
        abs((col("offa") + col("la")).cast("double") / col("na") -
          (col("offb") + col("lb")).cast("double") / col("nb")).as("diff"))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(round(max(col("diff")), 6).as("ks_stat"))
  }

  /** Chi-square independence statistic for event_type x ISO weekday:
    * sum over cells of (O - E)^2 / E with E = rowTotal x colTotal /
    * n. The observed table reduces from one fact scan and is
    * materialized (a handful of rows), so margins, total, and
    * degrees of freedom all derive from it without re-scanning.
    * Counts exact; every E term is exact-long arithmetic imaged into
    * doubles once (products < 2^53), and the final ~|types x 7| term
    * sum rounds at 6dp.
    */
  def chi2Independence(events: DataFrame,
                       key: String = "event_type", ts: String = "ts"): DataFrame = {
    val cells = events
      .groupBy(col(key).as("et"), (weekday(col(ts)) + 1).as("dow"))
      .agg(count(lit(1)).as("o"))
      .materialize("Stats.chi2Independence.cells")
    val rowT = cells.groupBy(col("et")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("et")).as("nr"), countDistinct(col("dow")).as("nc"))
    // the FULL margin grid, zero cells included: a zero cell still
    // contributes e = rt·ct/n to chi² — omitting it understates the
    // association whenever a (type, weekday) combination never
    // occurs (the [[mutualInfo]] fix applied here; the gate fixture
    // is dense, so its committed values are unchanged)
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("et", "dow"), "left")
      .withColumn("o0", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val e = (col("rt") * col("ct")).cast("double") / col("n")
    grid
      .select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        (pow(col("o0").cast("double") - e, 2) / e).as("term"))
      .groupBy(col("n"), col("dof"))
      .agg(round(sum(col("term")), 6).as("chi2"))
  }

  /** Symmetrised KL divergence (Jeffreys, in bits) between two event
    * types' value distributions over fixed-width bins — the
    * distribution-shift tripwire for NUMERIC columns, next to
    * [[ksTest]]'s sup-distance (KS is threshold-free, KL weights the
    * whole shape) and q_vocab_shift's token version. Exact-long bin
    * counts from ONE conditional-aggregate scan; add-one smoothing
    * over the UNION of occupied bins keeps every term finite; the
    * ≤bins term sum is bounded-group at 6dp.
    */
  def klDivergence(events: DataFrame, typeA: String, typeB: String, width: Double = 50.0,
                   key: String = "event_type", v: String = "value"): DataFrame = {
    require(width > 0, s"bin width must be positive: $width")
    val cells = events
      .filter(col(key).isin(typeA, typeB))
      .groupBy(floor(col(v) / width).cast("long").as("bin"))
      .agg(
        sum(when(col(key) === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(key) === typeB, 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("k"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + col("k")).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + col("k")).cast("double")
    val ln2 = 0.6931471805599453
    cells.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("k"),
        (pa * log(pa / pb) / lit(ln2)).as("tab"),
        (pb * log(pb / pa) / lit(ln2)).as("tba"))
      .groupBy(col("na"), col("nb"), col("k"))
      .agg(
        round(sum(col("tab")), 6).as("kl_ab_bits"),
        round(sum(col("tba")), 6).as("kl_ba_bits"),
        round(sum(col("tab") + col("tba")), 6).as("jeffreys_bits"))
      .select(col("na"), col("nb"), col("k").as("n_bins"),
        col("kl_ab_bits"), col("kl_ba_bits"), col("jeffreys_bits"))
  }

  /** Mutual information (bits) + Cramér's V between event type and
    * ISO weekday — the dependence panel beside [[chi2Independence]]:
    * chi² says "is there association", MI says how many BITS of one
    * variable the other carries, V normalizes the effect size to
    * [0,1]. Same one-scan contingency shape: exact-long cells,
    * margins derived from the materialized cells, both term sums
    * over the BOUNDED ≤types×7 grid at 6dp; ln/ln2 with the exact-
    * double 2·ln2 literal convention so both engines share the
    * chain.
    */
  def mutualInfo(events: DataFrame,
                 key: String = "event_type", ts: String = "ts"): DataFrame = {
    val cells = events
      .groupBy(col(key).as("et"), (weekday(col(ts)) + 1).as("dow"))
      .agg(count(lit(1)).as("o"))
      .materialize("Stats.mutualInfo.cells")
    val rowT = cells.groupBy(col("et")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("et")).as("nr"), countDistinct(col("dow")).as("nc"))
    // the FULL margin grid, zero cells included: a zero cell
    // contributes 0 to MI (0·log 0) but e = rt·ct/n to chi² — leaving
    // it out silently understates the association (V read 1/√2
    // instead of 1 on a perfectly dependent 2×2 before this)
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("et", "dow"), "left")
      .withColumn("o0", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val p     = col("o0").cast("double") / col("n")
    val ratio = (col("o0").cast("double") * col("n").cast("double")) /
      (col("rt").cast("double") * col("ct").cast("double"))
    val e = (col("rt") * col("ct")).cast("double") / col("n")
    grid
      .select(col("n"), col("nr"), col("nc"),
        when(col("o0") > 0, p * log(ratio) / lit(0.6931471805599453))
          .otherwise(lit(0.0)).as("mi_term"),
        (pow(col("o0").cast("double") - e, 2) / e).as("chi_term"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(
        round(sum(col("mi_term")), 6).as("mi_bits"),
        round(sqrt(sum(col("chi_term")) /
          (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")), 6).as("cramers_v"))
      .select(col("n"), col("mi_bits"), col("cramers_v"))
  }

  /** Robust outlier profile per key: median / MAD (median absolute
    * deviation) and the modified z-score count — the outlier detector
    * that survives the outliers it hunts, where mean/std-based
    * z-scores get dragged by the very tails they should flag
    * (Iglewicz–Hoaglin 0.6745·(x−med)/MAD, |z| > 3.5). Two exact
    * percentile aggregates (the [[percentiles]] interpolation both
    * engines share) with the intermediate join co-partitioned on the
    * key; per-row z is a narrow IEEE chain; output one row per key
    * (n, median, mad, n_outliers, max |z|) so the corpus-sized frame
    * never leaves the executors. MAD == 0 (constant-majority key)
    * yields null z — flagged rows 0, not division noise.
    */
  def robustZscore(events: DataFrame,
                   key: String = "user_id", v: String = "value"): DataFrame = {
    val med = events.groupBy(col(key))
      .agg(percentile(col(v), lit(0.5)).as("med"))
    val withMed = events.select(col(key), col(v)).join(med, key)
    val mad = withMed.groupBy(col(key))
      .agg(percentile(abs(col(v) - col("med")), lit(0.5)).as("mad"))
    val z = when(col("mad") =!= 0.0,
      lit(0.6745) * (col(v) - col("med")) / col("mad"))
    withMed.join(mad, key)
      .withColumn("z", z)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("median"),
        round(min(col("mad")), 6).as("mad"),
        coalesce(sum(when(abs(col("z")) > 3.5, 1L).otherwise(0L)), lit(0L)).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
  }

  /** Distribution-shape moments per key over the value stream: mean,
    * population std, skewness, and EXCESS kurtosis under one
    * explicit closed form — NOT the engines' builtin
    * skewness/kurtosis, whose bias-correction conventions differ
    * between engines. TWO-PASS central moments, not raw power sums:
    * Σx³/Σx⁴ of large-magnitude values cancel catastrophically
    * (error ~ulp·mean³ breaches the 6-dp policy long before the
    * mean does), so pass one anchors a 6-dp-rounded per-key mean
    * (deterministic on both engines) and pass two sums the small
    * CENTERED powers, which stay in safe float range. The mean join
    * is co-partitioned with its own aggregate's hash partitioning.
    */
  def momentsProfile(events: DataFrame,
                     key: String = "user_id", v: String = "value"): DataFrame = {
    val mean = events.groupBy(col(key))
      .agg(round(avg(col(v)), 6).as("mu"))
    val d = col(v) - col("mu")
    val m = events.select(col(key), col(v)).join(mean, key)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        min(col("mu")).as("mu"),
        sum(d * d).as("c2"),
        sum(d * d * d).as("c3"),
        sum(d * d * d * d).as("c4"))
    val n  = col("n").cast("double")
    val m2 = col("c2") / n
    m.select(col(key), col("n"),
      col("mu").as("mean"),
      round(sqrt(m2), 6).as("std_pop"),
      round(when(m2 > 0.0, (col("c3") / n) / pow(m2, 1.5)), 6).as("skewness"),
      round(when(m2 > 0.0, (col("c4") / n) / (m2 * m2) - 3.0), 6).as("excess_kurtosis"))
  }

  /** Welch's two-sample t statistic (unequal variances) between two
    * event types' value distributions, with the Welch–Satterthwaite
    * degrees of freedom. The 100 TB determinism move: raw doubles
    * are quantized ONCE to DECIMAL(18,6) at the scan, so every
    * moment (n, Σx, Σx²) accumulates as an EXACT decimal —
    * order-independent however many partitions the sum spans, where
    * a double sum over millions of rows drifts run-to-run. Means
    * and variances image the exact sums into doubles once; t and df
    * are single IEEE chains both engines share, rounded 6dp. One
    * conditional-aggregate pass over one scan — no per-type
    * sub-scans, no shuffle beyond the single global aggregate.
    */
  def welchTTest(events: DataFrame, typeA: String, typeB: String,
                 key: String = "event_type", v: String = "value"): DataFrame = {
    val dv = col(v).cast("decimal(18,6)")
    val m = events
      .filter(col(key).isin(typeA, typeB))
      .select(
        when(col(key) === typeA, lit(1L)).otherwise(lit(0L)).as("ia"),
        dv.as("x"))
      .agg(
        sum(col("ia")).as("na"),
        sum(lit(1L) - col("ia")).as("nb"),
        sum(when(col("ia") === 1L, col("x"))).as("sa"),
        sum(when(col("ia") === 0L, col("x"))).as("sb"),
        sum(when(col("ia") === 1L, col("x") * col("x"))).as("qa"),
        sum(when(col("ia") === 0L, col("x") * col("x"))).as("qb"))
    // sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1),
    // every operand imaged into double exactly once
    def meanOf(s: Column, n: Column): Column = s.cast("double") / n
    def varOf(q: Column, s: Column, n: Column): Column =
      (q.cast("double") - s.cast("double") * s.cast("double") / n) / (n - 1)
    m.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      round(meanOf(col("sa"), col("na")), 6).as("mean_a"),
      round(meanOf(col("sb"), col("nb")), 6).as("mean_b"),
      round(
        (meanOf(col("sa"), col("na")) - meanOf(col("sb"), col("nb"))) /
          sqrt(varOf(col("qa"), col("sa"), col("na")) / col("na") +
               varOf(col("qb"), col("sb"), col("nb")) / col("nb")), 6).as("t_stat"),
      round(
        pow(varOf(col("qa"), col("sa"), col("na")) / col("na") +
            varOf(col("qb"), col("sb"), col("nb")) / col("nb"), 2) /
          (pow(varOf(col("qa"), col("sa"), col("na")) / col("na"), 2) / (col("na") - 1) +
           pow(varOf(col("qb"), col("sb"), col("nb")) / col("nb"), 2) / (col("nb") - 1)), 6)
        .as("df"))
  }

  /** Mann–Whitney U (two-sided rank-sum) between two event types,
    * tie-corrected normal approximation. EXACT rank arithmetic at
    * any scale via [[ksTest]]'s distributed prefix sum: reduce to
    * per-distinct-value counts (ca, cb), range-partition by value,
    * local cumsums + broadcast per-partition offsets give each
    * distinct value its global "count of smaller" — never a global
    * single-partition window over the data. Tied values take the
    * average rank; working in HALF-rank units (2·rank is integral)
    * keeps every rank-sum an exact long. U₁ = R₁ − n₁(n₁+1)/2; z
    * applies the tie correction Σ(t³−t) — exact longs under a single
    * IEEE chain both engines share, rounded 6dp.
    */
  def mannWhitney(events: DataFrame, typeA: String, typeB: String,
                  key: String = "event_type", v: String = "value",
                  nBuckets: Int = 32): DataFrame = {
    val d = events
      .filter(col(key).isin(typeA, typeB))
      .select(col(v).as("x"),
        when(col(key) === typeA, 1L).otherwise(0L).as("ia"),
        when(col(key) === typeB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("x"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(nBuckets, col("x"))
      .withColumn("pid", spark_partition_id())
      .materialize("Stats.mannWhitney.d") // offsets + local cumsums both read it; pid frozen
    val wLocal = Window.partitionBy("pid").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global order over nBuckets offset rows; pid frozen by Stats.mannWhitney.d
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy(col("pid")).agg(sum(col("ca") + col("cb")).as("t"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("t")).over(wOff), lit(0L)).as("off"))
    val t = col("ca") + col("cb")
    val ranked = d
      .withColumn("lall", sum(t).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      // smaller = global count of values strictly below x; the tied
      // block's average rank doubled = 2·smaller + t + 1 (integral)
      .select(col("ca"), col("cb"), t.as("t"),
        (col("off") + col("lall") - t).as("smaller"))
    ranked
      .agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * (lit(2L) * col("smaller") + col("t") + 1L)).as("r2a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        // U₁ in half units is integral: (R₁·2 − n₁(n₁+1)·... ) / 2
        ((col("r2a") - col("na") * (col("na") + 1L)).cast("double") / 2).as("u_stat"),
        round(
          ((col("r2a") - col("na") * (col("na") + 1L)).cast("double") / 2 -
            col("na").cast("double") * col("nb") / 2) /
            sqrt(col("na").cast("double") * col("nb") / 12 *
              ((col("na") + col("nb") + 1).cast("double") -
                col("ties").cast("double") /
                  ((col("na") + col("nb")).cast("double") * (col("na") + col("nb") - 1)))),
          6).as("z_score"))
  }

  /** Benford first-digit audit over a value column: observed
    * first-significant-digit shares next to the log₁₀(1+1/d) law —
    * the fabricated-data / broken-feed screen (organic multiplicative
    * data follows the law; hand-keyed or truncated feeds don't).
    * Digit extraction is ENGINE-EXACT by construction: the value
    * quantizes to DECIMAL(18,6) whose string form is identical in
    * both engines (fixed scale, no scientific notation — a raw
    * double's string form is NOT portable), and the first [1-9] char
    * of that string is the significant digit, with no float log10
    * anywhere near a digit boundary. One scan + one 9-group
    * aggregate; the total rides a broadcast one-row frame. Values
    * quantizing to 0.000000 carry no significant digit and are
    * excluded (reported via the n_sample vs digit-sum gap closing —
    * shares are over the SAMPLE, so they still sum to 1).
    */
  /** Wald–Wolfowitz runs test per key over daily return signs: are
    * up/down days randomly interleaved, or do they streak (momentum)
    * or alternate (mean reversion) more than chance allows? Counts
    * the sign runs R via one lag on the (key, day) sort, then the
    * closed-form z against E[R] = 1 + 2n₊n₋/n — everything up to z
    * is EXACT integer arithmetic (runs, sign counts), z one IEEE
    * chain at 6dp. Zero returns carry no sign information and drop
    * (the classical test's convention). One bar reduction + one lag
    * window + one aggregate on the same per-key sort.
    */
  def runsTest(events: DataFrame,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = graft.operators.TimeSeries.dailyCloseReturns(events, key, ts, v)
      .filter(col("ret") =!= 0.0)
      .withColumn("sgn", when(col("ret") > 0, 1L).otherwise(0L))
    val w = Window.partitionBy(key).orderBy("day")
    val flagged = rets.withColumn("chg",
      when(lag(col("sgn"), 1).over(w).isNull, 1L)
        .when(lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
    val n1 = col("n_pos").cast("double")
    val n2 = col("n_neg").cast("double")
    val n  = n1 + n2
    val eR = lit(1.0) + lit(2.0) * n1 * n2 / n
    val vR = (lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n)) / (n * n * (n - 1))
    flagged.groupBy(col(key))
      .agg(
        sum(col("sgn")).as("n_pos"),
        sum(lit(1L) - col("sgn")).as("n_neg"),
        sum(col("chg")).as("runs"))
      .select(col(key), col("n_pos"), col("n_neg"), col("runs"),
        // variance is positive only when 2·n₊·n₋ > n (fails exactly at
        // n₊ = n₋ = 1, where the statistic is undefined)
        round(when(col("n_pos") > 0 && col("n_neg") > 0 &&
            lit(2.0) * n1 * n2 - n > 0,
          (col("runs").cast("double") - eR) / sqrt(vR)), 6).as("z_runs"))
  }

  def benfordTest(df: DataFrame, v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val digits = df
      .select(regexp_extract(abs(col(v)).cast(dec).cast("string"), "[1-9]", 0).as("d"))
      .filter(col("d") =!= "")
      .groupBy(col("d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum(col("n_obs")).as("n_sample"))
    digits.crossJoin(broadcast(total))
      .select(
        col("digit"), col("n_obs"), col("n_sample"),
        round(col("n_obs").cast("double") / col("n_sample").cast("double"), 6).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6).as("exp_share"),
        round(abs(col("n_obs").cast("double") / col("n_sample").cast("double") -
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))), 6).as("abs_dev"))
  }

  /** Engine-portable integer-decimal → double conversion for values
    * past 2^53: a direct wide-integer cast is rounded DIFFERENTLY
    * across engines (DuckDB composes two word-halves and
    * double-rounds), so split |s| = q·2^53 + r — both halves exactly
    * representable, the shift exact, the single + r rounding the
    * same IEEE add everywhere. The oracle mirrors with HUGEINT
    * `//`/`%` on abs then the identical rebuild.
    */
  private[operators] def splitDouble(c: Column): Column = {
    val p = lit(9007199254740992L)
    val a = abs(c)
    val q = ((a - pmod(a, p)) / p).cast("double")
    val d = q * lit(9.007199254740992e15) + pmod(a, p).cast("double")
    when(c < 0, -d).otherwise(d)
  }

  /** One-way ANOVA F across event types on the value column — does
    * the group mean differ anywhere, the k-sample extension of
    * [[welchTTest]] (means) beside [[mannWhitney]] (ranks) and
    * [[ksTest]] (shapes). Values quantize ONCE to integer
    * micro-units, so per-group (n, Σx, Σx²) are exact 128-bit
    * decimals at any partition count. The one cross-group float —
    * Σ s_g²/n_g — folds each group's IEEE term through
    * floor(t/1e6): an exact long, so the cross-group sum is
    * order-independent (a raw double sum over groups drifts with
    * partition order) and the defined semantics quantize each
    * between-group term at 1e-6 micro² (relative 1e-22 here).
    * F and η² are unit-free IEEE chains from those integers,
    * UNROUNDED. Single scan + one bounded-cardinality aggregate.
    */
  def anovaF(events: DataFrame, key: String = "event_type", v: String = "value"): DataFrame =
    anovaFromQu(events.withColumn("qu_int", floor(col(v) * 1000000).cast("long")), key, "qu_int")

  /** anovaF's exact arithmetic over an ALREADY-integer observation
    * column (shared with [[levene]], whose observations are integer
    * doubled absolute deviations — same moment chain, same
    * micro²-quantized between-group fold, byte-for-byte the ops
    * [[anovaF]] always ran). */
  private def anovaFromQu(events: DataFrame, key: String, quCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = events
      .withColumn("qu", col(quCol).cast(dec))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_g"),
        sum(col("qu")).as("s_g"),
        sum(col("qu") * col("qu")).as("ss_g"))
    val sd  = splitDouble(col("s_g"))
    val t_g = sd * sd / col("n_g").cast("double")
    val m = g
      .withColumn("tq", floor(t_g / lit(1000000.0)).cast("long"))
      .agg(count(lit(1)).cast("long").as("k_groups"),
        sum(col("n_g")).as("n_total"),
        sum(col("s_g")).as("s_all"),
        sum(col("ss_g")).as("q_all"),
        sum(col("tq")).as("t_all"))
    val nd  = col("n_total").cast("double")
    val kd  = col("k_groups").cast("double")
    val sD  = splitDouble(col("s_all"))
    val qD  = splitDouble(col("q_all")) / lit(1000000.0)
    val tD  = col("t_all").cast("double")
    val cf  = (sD * sD / nd) / lit(1000000.0)
    val ssb = tD - cf
    val ssw = qD - tD
    val sst = qD - cf
    val f   = (ssb / (kd - 1)) / (ssw / (nd - kd))
    m.select(col("k_groups"), col("n_total").cast("long").as("n_total"),
      when(col("k_groups") > 1 && ssw > 0, f).as("f_stat"),
      when(sst > 0, ssb / sst).as("eta_sq"))
  }

  /** Weight-of-Evidence / Information-Value screen of the value-bin
    * feature against a binary target (event type = `goodType`) —
    * the credit-scoring-born feature-selection standard: per bin,
    * WoE = ln(pct_good/pct_bad) says direction, and IV = Σ(pg−pb)·WoE
    * grades the whole feature (<0.02 useless, >0.3 strong). Laplace
    * smoothing over the occupied-bin grid keeps empty arms finite
    * (the [[klDivergence]] convention). Counts are exact longs; each
    * bin's WoE/IV term is one IEEE chain; the IV total sums the
    * per-bin terms AS round(t·1e6) exact micro-longs over the
    * bounded bin axis (a raw float window-sum would be
    * order-dependent), surfaced on every row.
    */
  def woeIv(events: DataFrame, goodType: String = "purchase", width: Double = 50.0,
            key: String = "event_type", v: String = "value"): DataFrame = {
    require(width > 0, s"bin width must be positive: $width")
    val cells = events
      .filter(col(v).isNotNull)
      .groupBy(floor(col(v) / width).cast("long").as("bin"))
      .agg(
        sum(when(col(key) === goodType, 1L).otherwise(0L)).as("g"),
        sum(when(col(key) === goodType, 0L).otherwise(1L)).as("b"))
    val tot = cells.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"),
      count(lit(1)).as("k"))
    val pg  = (col("g") + 1).cast("double") / (col("gt") + col("k")).cast("double")
    val pb  = (col("b") + 1).cast("double") / (col("bt") + col("k")).cast("double")
    val woe = log(pg / pb)
    val term = (pg - pb) * woe
    val withTerm = cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("g").as("n_good"), col("b").as("n_bad"),
        round(woe, 6).as("woe"),
        round(term, 6).as("iv_term"),
        round(term * 1000000, 0).cast("long").as("tu"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    withTerm
      .withColumn("iv_total", sum(col("tu")).over(w).cast("double") / 1000000)
      .drop("tu")
  }

  /** Population Stability Index between the first and second halves
    * of the time range — the production-ML drift gate (PSI < 0.1
    * stable, > 0.2 investigate): PSI = Σ(p₁−p₂)·ln(p₁/p₂) over
    * value bins. The temporal split point is the exact integer
    * midpoint of the epoch-micro range (broadcast scalar, no
    * quantile sort); bin counts are one conditional-aggregate scan;
    * Laplace smoothing over occupied bins ([[klDivergence]]); the
    * bounded ≤bins term sum rounds at 6dp. One row out.
    */
  def psi(events: DataFrame, width: Double = 50.0,
          ts: String = "ts", v: String = "value"): DataFrame = {
    require(width > 0, s"bin width must be positive: $width")
    val us = unix_micros(col(ts))
    val mid = events.agg(
      ((min(us) + max(us)) - pmod(min(us) + max(us), lit(2L))).divide(lit(2L)).cast("long")
        .as("mid"))
    val cells = events.filter(col(v).isNotNull).crossJoin(broadcast(mid))
      .groupBy(floor(col(v) / width).cast("long").as("bin"))
      .agg(
        sum(when(us < col("mid"), 1L).otherwise(0L)).as("ca"),
        sum(when(us >= col("mid"), 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("k"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + col("k")).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + col("k")).cast("double")
    cells.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), col("k"), ((pa - pb) * log(pa / pb)).as("t"))
      .groupBy(col("na"), col("nb"), col("k"))
      .agg(round(sum(col("t")), 6).as("psi"))
      .select(col("na").as("n_first_half"), col("nb").as("n_second_half"),
        col("k").as("n_bins"), col("psi"),
        (col("psi") > 0.2).as("drift_alert"))
  }

  /** Deterministic hash-replicate confidence interval for the mean
    * value per event type — the uncertainty bar a know-your-data
    * report should carry beside every point estimate. Replicate b
    * (b < 32) is the HALF-SAMPLE whose rows have bit b of a 32-bit
    * md5 hash set — 32 deterministic, overlapping ~n/2 subsamples
    * whose mean spread estimates the sampling distribution (a
    * random-multiplier bootstrap without randomness: engine- and
    * cluster-size-invariant, reproducible forever). ONE scan with 64
    * conditional aggregates (map-side combine — no 32× row blowup at
    * 100 TB); values quantize to micro-longs so every replicate sum
    * is exact, each mean one IEEE division; the 2.5%/97.5% bounds
    * interpolate EXPLICITLY over the array_sort'd 32 means (no
    * engine percentile-formula dependence), UNROUNDED.
    */
  def bootstrapCi(events: DataFrame, v: String = "value"): DataFrame = {
    graft.plans.GraftFunctions.register(events.sparkSession)
    val b  = 32
    val h  = conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10).cast("long")
    val vu = floor(col(v) * 1000000).cast("long")
    val base = events.filter(col(v).isNotNull)
      .select(col("event_type"), h.as("h"), vu.as("vu"))
    // ONE custom aggregate instead of 66 conditional built-ins: the
    // planner/codegen chewed 0.6 s on the 66-expression tree per
    // build and each row paid 64 `when` branches + Decimal adds; the
    // ReplicateSums buffer does B bit tests + primitive 128-bit adds
    // per row with bit-identical exact sums (guide §4; equivalence
    // vs the built-in form pinned in StatsSpec).
    val aggd = base.groupBy(col("event_type"))
      .agg(expr(s"graft_replicate_sums(h, vu, $b)").as("m"))
      .select(col("event_type"), col("m.st").as("st"), col("m.ct").as("ct"),
        col("m.ss").as("ss"), col("m.cs").as("cs"))
    val means  = array((0 until b).map(i =>
      splitDouble(element_at(col("ss"), i + 1)) /
        element_at(col("cs"), i + 1).cast("double")): _*)
    val minC   = (0 until b).map(i => element_at(col("cs"), i + 1)).reduce((x, y) => least(x, y))
    val sorted = array_sort(means)
    // explicit linear interpolation at ranks (B-1)*0.025 = 0.775 and
    // (B-1)*0.975 = 30.225 over the 32 sorted replicate means
    val lo = (element_at(sorted, 1) +
      (element_at(sorted, 2) - element_at(sorted, 1)) * lit(0.775)) / 1000000.0
    val hi = (element_at(sorted, 31) +
      (element_at(sorted, 32) - element_at(sorted, 31)) * lit(0.225)) / 1000000.0
    val ok = minC > 0
    aggd.select(col("event_type"), col("ct").as("n"),
      (splitDouble(col("st")) / col("ct").cast("double") / 1000000.0).as("mean"),
      when(ok, lo).as("ci_lo"),
      when(ok, hi).as("ci_hi"))
  }

  /** Grubbs outlier statistic per event type: the most extreme
    * value's studentized distance G = max|x−mean|/sd — the one-look
    * screen that says WHICH group hides a single gross outlier
    * (compare G to the t-based critical value for n). The extreme is
    * necessarily the group min or max, so the two-sided max-deviation
    * needs NO second pass over rows: welch-style exact decimal
    * moments plus exact integer min/max in one aggregate, then one
    * IEEE chain; the suspect value is reported (micro-exact) with
    * its side. UNROUNDED; degenerate groups null.
    */
  def grubbs(events: DataFrame, key: String = "event_type", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val m = events
      .withColumn("qu", floor(col(v) * 1000000).cast("long"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("qu").cast(dec)).as("s1"),
        sum(col("qu").cast(dec) * col("qu")).as("s2"),
        min(col("qu")).as("mn"), max(col("qu")).as("mx"))
    val nd   = col("n").cast("double")
    val d1   = splitDouble(col("s1"))
    val d2   = splitDouble(col("s2"))
    val mean = d1 / nd
    val vr   = (d2 - d1 * d1 / nd) / (nd - 1)
    val sd   = sqrt(vr)
    val devHi = col("mx").cast("double") - mean
    val devLo = mean - col("mn").cast("double")
    val gOk   = col("n") > 2 && vr > 0
    m.select(col(key), col("n"),
      (mean / 1000000).as("mean_value"),
      when(col("n") > 1 && vr >= 0, sd / 1000000).as("std_value"),
      when(gOk, greatest(devHi, devLo) / sd).as("grubbs_g"),
      when(gOk, when(devHi >= devLo, col("mx")).otherwise(col("mn")).cast("double") / 1000000)
        .as("suspect_value"),
      when(gOk, devHi >= devLo).as("suspect_is_max"))
  }

  /** Kruskal–Wallis H across event types — the rank-based k-sample
    * test beside [[anovaF]] (means) when normality is off the table.
    * Rank determinism without a global sort of N rows: observations
    * quantize to micro-longs, counts collapse onto the BOUNDED value
    * axis (2dp domain ⇒ ≤49k distinct micros at any SF), and the
    * doubled mid-rank of a tie group is the INTEGER 2·c+t+1 off a
    * cumulative count over that bounded axis. Per-group doubled rank
    * sums T_j are exact longs; Σ T_j²/n_j folds each group through
    * the exact pmod floor-division in decimal(38,0) (remainder < 1
    * rank-unit² discarded — defined semantics, no float drift); the
    * tie correction Σ(t³−t) is an exact integer off the same axis.
    * H and H/C are fixed IEEE chains from those integers via
    * splitDouble, UNROUNDED. Shuffles: one (key, value-cell)
    * aggregate + one bounded-axis aggregate; the rank table
    * broadcasts back.
    */
  def kruskalWallis(events: DataFrame, key: String = "event_type", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = events
      .withColumn("qu", floor(col(v) * 1000000).cast("long"))
      .groupBy(col(key), col("qu"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .materialize("Stats.kruskalWallis.cells")
    val axis = cells.groupBy(col("qu")).agg(sum(col("cnt")).as("t"))
    // global order over the axis: one row per distinct quantized value
    val wAxis = org.apache.spark.sql.expressions.Window
      .orderBy("qu").rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rk = axis
      .withColumn("c0", coalesce(sum(col("t")).over(wAxis), lit(0L)))
      .withColumn("r2", lit(2L) * col("c0") + col("t") + 1)
    val g = cells.join(broadcast(rk.select(col("qu"), col("r2"))), "qu")
      .groupBy(col(key))
      .agg(sum(col("cnt")).as("n_g"), sum(col("cnt") * col("r2")).as("t_j"))
      // exact floor of T², n_g in 128-bit decimal: q_j = (T² - T² mod n) / n
      .withColumn("tsq", col("t_j").cast(dec) * col("t_j"))
      .withColumn("q_j", ((col("tsq") - pmod(col("tsq"), col("n_g").cast(dec))) / col("n_g").cast(dec)).cast(dec))
    val m = g.agg(sum(col("n_g")).as("n_total"), sum(col("q_j")).as("s_all"),
      count(lit(1)).cast("long").as("k_groups"))
    val ties = axis.agg(sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("t3"))
    val nTd = col("n_total").cast("double")
    val h   = lit(3.0) * splitDouble(col("s_all")) / (nTd * (nTd + 1.0)) - lit(3.0) * (nTd + 1.0)
    val cTie = lit(1.0) - splitDouble(col("t3")) / (nTd * nTd * nTd - nTd)
    g.select(col(key), col("n_g"),
        (col("t_j").cast("double") / (lit(2.0) * col("n_g").cast("double"))).as("mean_rank"))
      .crossJoin(broadcast(m.select(col("n_total"), col("k_groups"), col("s_all"))))
      .crossJoin(broadcast(ties))
      .select(col(key), col("n_g"), col("mean_rank"), col("n_total"), col("k_groups"),
        when(col("k_groups") > 1, h).as("h_stat"),
        when(col("k_groups") > 1 && cTie > 0, h / cTie).as("h_tie_adj"))
  }

  /** Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    * screen across event types — the gate in front of [[anovaF]],
    * whose F assumes equal spreads. The per-group center is the
    * MEDIAN as two order statistics off the micro-quantized values
    * (m2 = qu@⌈n/2⌉ + qu@⌈(n+1)/2⌉, the DOUBLED median — an exact
    * long, no halving float), the observation is the integer doubled
    * absolute deviation z = |2·qu − m2|, and the F statistic is
    * byte-for-byte [[anovaF]]'s exact-moment chain over z (shared
    * [[anovaFromQu]]). One per-key sort for the order statistics
    * (broadcast back, ≤k rows), then the anova single scan.
    */
  def levene(events: DataFrame, key: String = "event_type", v: String = "value"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key)).orderBy(col("qu"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val q = events.withColumn("qu", floor(col(v) * 1000000).cast("long"))
    // INTEGER division for the order-statistic positions (Column `/`
    // would be double division and 2.5 never equals an int rank)
    val lo = expr("(n + 1) div 2")
    val hi = expr("(n + 2) div 2")
    val med = q
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === lo || col("rn") === hi)
      .groupBy(col(key))
      .agg((sum(when(col("rn") === lo, col("qu"))) +
        sum(when(col("rn") === hi, col("qu")))).as("m2"))
    val z = q.join(broadcast(med), Seq(key))
      .withColumn("z", abs(lit(2L) * col("qu") - col("m2")))
    val f = anovaFromQu(z, key, "z")
      .select(col("k_groups"), col("n_total"), col("f_stat").as("bf_stat"), col("eta_sq"))
    val perGroup = z.groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_g"), max(col("m2")).as("m2"), sum(col("z")).as("sz"))
      .select(col(key), col("n_g"),
        (col("m2").cast("double") / 2000000.0).as("median_value"),
        (col("sz").cast("double") / (col("n_g").cast("double") * 2000000.0)).as("mean_absdev"))
    perGroup.crossJoin(broadcast(f))
  }

  /** Benjamini–Hochberg FDR screen over per-user mean-shift
    * hypotheses: for each user, does their mean event value differ
    * from the global mean? The per-hypothesis statistic is the
    * one-sample t² from EXACT decimal moments (A = N·s_j − n_j·S and
    * B = n_j·ss_j − s_j² never leave 128-bit integers), surfaced as
    * the distribution-free Chebyshev p-bound p = min(1, 1/t²) — a
    * pure IEEE chain cross-engine (no erf/t-CDF, which no two
    * engines agree on bitwise). BH then ranks p ascending (user id
    * tie-break) and rejects ranks ≤ argmax{k: p_(k) ≤ q·k/m} — every
    * comparison is between bit-identical doubles, so the reject set
    * is engine-exact, UNROUNDED. One scan for moments; the m
    * hypotheses (the user axis) are the output itself, so the BH
    * rank rides a bounded single-partition window.
    */
  def fdrBh(events: DataFrame, alpha: Double = 0.05,
            key: String = "user_id", v: String = "value"): DataFrame =
    fdrBhRouted(events, alpha, key, v, FdrSinglePartitionKeys)

  /** Key count up to which [[fdrBh]] ranks in one single-partition
    * window; above it the rank is the distributed two-phase one.
    */
  private val FdrSinglePartitionKeys = 1L << 20

  /** [[fdrBh]] with the route threshold as an argument, so specs can
    * force the two-phase route on a small input.
    */
  private[graft] def fdrBhRouted(events: DataFrame, alpha: Double, key: String, v: String,
                                 singlePartitionKeys: Long): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = events
      .withColumn("qu", floor(col(v) * 1000000).cast("long"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("qu").cast(dec)).as("s1"),
        sum(col("qu").cast(dec) * col("qu")).as("s2"))
      .materialize("Stats.fdrBh.g")
    val tot = g.agg(sum(col("n")).as("n_all"), sum(col("s1")).as("s_all"),
      count(lit(1)).cast("long").as("m"))
    val a  = col("n_all").cast(dec) * col("s1") - col("n").cast(dec) * col("s_all")
    val b  = col("n").cast(dec) * col("s2") - col("s1") * col("s1")
    val ad = splitDouble(a) / col("n_all").cast("double")
    val t2 = when(b > 0 && col("n") > 1,
      (col("n") - 1).cast("double") * (ad * ad) / splitDouble(b))
    val withP = g.crossJoin(broadcast(tot))
      .withColumn("t2", t2)
      .withColumn("p_cheb",
        when(col("t2").isNull, lit(1.0))
          .when(col("t2") === 0.0, lit(1.0))
          .otherwise(least(lit(1.0), lit(1.0) / col("t2"))))
    // BH rank ROUTED by the MEASURED key count (the knnAssignCells
    // ladder discipline; the count rides the just-checkpointed g
    // blocks). Below the cap, ONE bounded single-partition window —
    // m ≤ cap rows of ~40 bytes is the documented-bounded window
    // case (pid grids, post-limit heads), and the two-phase
    // machinery's extra range-sampling job + checkpoint + offset
    // join measured 2.3x this query's whole wall at fixture scale
    // (0.73 s → 1.65 s). Above the cap, the TWO-PHASE rank (the
    // ksTest/peakConcurrency distributed prefix-sum recipe):
    // range-partition by the SAME total order (p_cheb, key), rank
    // locally per partition, add broadcast per-partition count
    // offsets — bit-identical ranks on either route (same total
    // order), never one task holding a 1e9-key universe. k_max is a
    // one-row broadcast aggregate on both routes.
    val mKeys = Materialize.named("count Stats.fdrBh.keys")(g.count())
    val rankedUp =
      if (mKeys <= singlePartitionKeys) {
        val wAll = org.apache.spark.sql.expressions.Window
          .orderBy(col("p_cheb"), col(key)) // mKeys <= singlePartitionKeys rows
        withP.withColumn("bh_rank", row_number().over(wAll).cast("long"))
      } else {
        val nBuckets = 32
        val ranked = withP
          .repartitionByRange(nBuckets, col("p_cheb"), col(key))
          .withColumn("pid", spark_partition_id())
          // range bounds are SAMPLED: two evaluations could split
          // differently, desyncing pid between the offset and rank
          // consumers — materialize once
          .materialize("Stats.fdrBh.ranked")
        val wLocal = org.apache.spark.sql.expressions.Window
          .partitionBy("pid").orderBy(col("p_cheb"), col(key))
        val wOff = org.apache.spark.sql.expressions.Window
          .orderBy("pid") // nBuckets rows; pid frozen by Stats.fdrBh.ranked
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val offsets = ranked.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
          .select(col("pid").as("opid"),
            coalesce(sum(col("cnt")).over(wOff), lit(0L)).as("off"))
        ranked
          .withColumn("lrn", row_number().over(wLocal).cast("long"))
          .join(broadcast(offsets), col("pid") === col("opid"))
          .withColumn("bh_rank", col("lrn") + col("off"))
          .select(col(key), col("n"), col("t2"), col("p_cheb"), col("m"), col("bh_rank"))
      }
    val withRank = rankedUp
      .withColumn("ok", col("p_cheb") <= lit(alpha) * col("bh_rank").cast("double") / col("m").cast("double"))
    val kMax = withRank.agg(max(when(col("ok"), col("bh_rank"))).as("k_max"))
    withRank
      .crossJoin(broadcast(kMax))
      .select(col(key), col("n"), col("t2"), col("p_cheb"), col("bh_rank"), col("m"),
        coalesce(col("bh_rank") <= col("k_max"), lit(false)).as("rejected"))
  }

  /** Paired sign test of every key's daily returns vs the benchmark
    * key: on the matched day grid, n₊ = days the key beat the
    * benchmark, n₋ = days it lost (integer micro-return comparison;
    * ties carry no information and drop — the classical convention),
    * z = (n₊ − n₋)/√(n₊+n₋) under H0 p = ½. The distribution-free
    * median-drift companion of [[welchTTest]] (means) and the
    * Wilcoxon ([[wilcoxonSigned]], magnitudes): everything up to z
    * is exact integer counts, z ONE IEEE chain, UNROUNDED. The
    * benchmark is one key ⇒ broadcast; one aggregate, no windows.
    */
  def signTest(events: DataFrame, benchmarkId: Long = 0L,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = graft.operators.TimeSeries.dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = broadcast(rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb")))
    rets.filter(col(key) =!= benchmarkId)
      .join(bench, Seq("day"))
      .groupBy(col(key))
      .agg(
        sum(when(col("mk") > col("mb"), 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("mk") < col("mb"), 1L).otherwise(0L)).as("n_minus"))
      .withColumn("sign_z",
        when(col("n_plus") + col("n_minus") > 0,
          (col("n_plus") - col("n_minus")).cast("double") /
            sqrt((col("n_plus") + col("n_minus")).cast("double"))))
  }

  /** Wilcoxon signed-rank test of every key's daily returns vs the
    * benchmark: rank |d| (d = micro-return difference, zeros drop)
    * with AVERAGE ranks on ties, W⁺ = rank sum over positive d,
    * z = (W⁺ − n(n+1)/4)/σ with the tie-corrected σ² = n(n+1)(2n+1)/
    * 24 − Σ(t³−t)/48. Rank determinism without per-row windows: tie
    * BLOCKS reduce per (key, |d|) first (t members, t⁺ positive),
    * the block's doubled average rank is the exact integer
    * 2·cum(t) − t + 1 off one bounded per-key prefix window, so
    * W2 = Σ t⁺·dr (doubled W⁺), the doubled mean n(n+1)/2, and
    * 48σ² = 2n(n+1)(2n+1) − Σ(t³−t) are ALL exact longs — z is the
    * single IEEE chain (W2 − m2)·√(12/S), UNROUNDED (the
    * [[mannWhitney]] doubled-half-rank recipe on the paired axis).
    */
  def wilcoxonSigned(events: DataFrame, benchmarkId: Long = 0L,
                     key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = graft.operators.TimeSeries.dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = broadcast(rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb")))
    val blocks = rets.filter(col(key) =!= benchmarkId)
      .join(bench, Seq("day"))
      .withColumn("d", col("mk") - col("mb"))
      .filter(col("d") =!= 0L)
      .groupBy(col(key), abs(col("d")).as("ad"))
      .agg(count(lit(1)).cast("long").as("t"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("tp"))
    val wc = Window.partitionBy(key).orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, 0)
    val agg = blocks
      .withColumn("dr", lit(2L) * sum(col("t")).over(wc) - col("t") + 1L)
      .groupBy(col(key))
      .agg(sum(col("t")).as("n_days"),
        sum(col("tp") * col("dr")).as("w2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    val n  = col("n_days")
    val m2 = n * (n + 1L) / lit(2L)
    val s48 = lit(2L) * n * (n + 1L) * (lit(2L) * n + 1L) - col("tie3")
    agg.select(col(key), col("n_days"),
      (col("w2").cast("double") / 2.0).as("w_plus"),
      when(s48 > 0,
        (col("w2") - m2).cast("double") * sqrt(lit(12.0) / s48.cast("double")))
        .as("wilcoxon_z"))
  }

  /** Permutation entropy (order 3, normalized) per key over daily
    * closes — the model-free series-complexity score (0 = perfectly
    * predictable ordinal structure, 1 = all six up/down/flat-shape
    * patterns equally likely), the ordinal companion of the Markov
    * [[graft.operators.EventAnalytics.entropyRate]]. Each day's
    * ordinal pattern id is EXACT integer arithmetic over two lags of
    * the micro-quantized close (ties break by time index —
    * lexicographic (value, idx) rank, so every triple maps to one of
    * the 6 permutations deterministically); pattern counts are exact
    * longs on a ≤6-row per-key grid, and the entropy is a bounded
    * 6-term sum at 6dp (the chi²/mutual-info float recipe). One lag
    * window + two bounded aggregates on the same per-key sort.
    */
  def permutationEntropy(events: DataFrame,
                         key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w  = Window.partitionBy(key).orderBy("day")
    val qc = floor(col("close") * 1000000).cast("long")
    val t = graft.operators.TimeSeries.dailyClose(events, key, ts, v)
      .withColumn("x2", qc)
      .withColumn("x0", lag(qc, 2).over(w))
      .withColumn("x1", lag(qc, 1).over(w))
      .filter(col("x0").isNotNull)
    // lexicographic (value, index) ranks: r_i = #{j : (x_j, j) < (x_i, i)}
    val r0 = when(col("x1") < col("x0"), 1L).otherwise(0L) +
      when(col("x2") < col("x0"), 1L).otherwise(0L)
    val r1 = when(col("x0") <= col("x1"), 1L).otherwise(0L) +
      when(col("x2") < col("x1"), 1L).otherwise(0L)
    val r2 = when(col("x0") <= col("x2"), 1L).otherwise(0L) +
      when(col("x1") <= col("x2"), 1L).otherwise(0L)
    val counts = t
      .withColumn("pid", r0 * 9L + r1 * 3L + r2)
      .groupBy(col(key), col("pid"))
      .agg(count(lit(1)).cast("long").as("c"))
    val share = col("c").cast("double") / col("n_tr").cast("double")
    counts
      .withColumn("n_tr", sum(col("c")).over(Window.partitionBy(key)))
      .groupBy(col(key))
      .agg(max(col("n_tr")).as("n_triples"),
        count(lit(1)).cast("long").as("n_patterns"),
        round(-sum(share * log(share)) / math.log(6.0), 6).as("perm_entropy"))
  }

  /** CUSUM changepoint per key over daily closes: the day t
    * maximizing |Σ_{i≤t} x_i − t·x̄| — where the running sum departs
    * farthest from the global-mean line, the single most likely
    * mean-shift point (the offline screen ahead of q_cusum's online
    * alert). INTEGER-EXACT argmax: with micro closes, D_t = n·P_t −
    * t·T (P prefix sum, T total) is exact in 128-bit decimal (the
    * cross-products pass 2^63 on long large-value series), so the
    * argmax and the tie-break (earliest day) are deterministic at
    * any partition count — no float enters until the REPORTED magnitude
    * max|S_t| = |D|/(n·1e6), one IEEE division of exact integers,
    * UNROUNDED. The last day (D_n = 0 identically) is excluded. One
    * per-key sort shared by the prefix/rank windows + one aggregate.
    */
  def changepoint(events: DataFrame,
                  key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w    = Window.partitionBy(key).orderBy("day")
    val wAll = Window.partitionBy(key)
    val qc = floor(col("close") * 1000000).cast("long")
    val t = graft.operators.TimeSeries.dailyClose(events, key, ts, v)
      .withColumn("qc", qc)
      .withColumn("rn",  count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pre", sum(col("qc")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n",   count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("qc")).over(wAll))
      .filter(col("rn") < col("n"))
      // 128-bit cross-multiplication (the volCones recipe): with
      // large micro closes n·pre passes 2^63 (~4e15 per day over a
      // few years), where int64 would silently wrap on Spark while
      // DuckDB BIGINT raises — so both engines compute D_t exactly
      // in decimal/HUGEINT and the argmax stays integer-exact.
      .withColumn("abs_d", {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        abs(col("n").cast(dec) * col("pre").cast(dec) -
          col("rn").cast(dec) * col("tot").cast(dec))
      })
    val pick = Window.partitionBy(key).orderBy(col("abs_d").desc, col("day").asc)
    t.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col(key), col("n").as("n_days"),
        date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        (col("abs_d").cast("double") / (col("n") * 1000000L).cast("double"))
          .as("cusum_stat"))
  }

  /** Hodges–Lehmann pseudo-median of each key's daily return edge
    * vs the benchmark: the median of all pairwise Walsh averages
    * (d_i + d_j)/2 — the robust LOCATION estimate that pairs with
    * [[wilcoxonSigned]]'s test (the test says IS there a shift;
    * HL says HOW BIG, immune to the fat tails that drag a mean).
    * Walsh numerators d_i + d_j are exact micro longs, the median
    * is the doubled order statistic over the pair frame (two
    * row_number picks — no interpolation), and HL = m2s/4e6 is ONE
    * IEEE division of exact integers, UNROUNDED. DECLARED
    * bounded-series pair join (pairs/key fixed by the calendar —
    * the kendallTauTrend shape, linear in keys, plan red-barred
    * non-cartesian).
    */
  def hodgesLehmann(events: DataFrame, benchmarkId: Long = 0L,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = graft.operators.TimeSeries.dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = broadcast(rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb")))
    val d = rets.filter(col(key) =!= benchmarkId)
      .join(bench, Seq("day"))
      .select(col(key), col("day"), (col("mk") - col("mb")).as("d"))
    val a = d.select(col(key), col("day").as("da"), col("d").as("x"))
    val b = d.select(col(key), col("day").as("db"), col("d").as("y"))
    val walsh = a.join(b, Seq(key)).filter(col("da") <= col("db"))
      .select(col(key), (col("x") + col("y")).as("s"), col("da"), col("db"))
    val wS   = Window.partitionBy(key).orderBy(col("s").asc, col("da").asc, col("db").asc)
    val wAll = Window.partitionBy(key)
    val lo = expr("(np + 1) div 2")
    val hi = expr("(np + 2) div 2")
    walsh
      .withColumn("rn", row_number().over(wS).cast("long"))
      .withColumn("np", count(lit(1)).over(wAll))
      .filter(col("rn") === lo || col("rn") === hi)
      .groupBy(col(key))
      .agg(max(col("np")).as("n_pairs"),
        (sum(when(col("rn") === lo, col("s"))) +
          sum(when(col("rn") === hi, col("s")))).as("m2s"))
      .select(col(key), col("n_pairs"),
        (col("m2s").cast("double") / 4000000.0).as("hl_shift"))
  }

  /** Energy distance between two event types' value distributions:
    * E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the rotation-free two-sample
    * metric that completes [[ksTest]] (sup), [[wasserstein1]] (mass
    * transport) and the KL tripwire (information): zero iff the
    * distributions are equal, sensitive everywhere. In 1-D every
    * expectation reduces to SEGMENT sums on the same micro-quantized
    * value axis as [[wasserstein1]]: Σ|x−y| = Σ_seg gap·[cumA·(nB−
    * cumB) + cumB·(nA−cumA)] and Σ|x−x'| = 2Σ_seg gap·cumA·(nA−cumA)
    * — ALL exact 128-bit decimal products summed order-free, then
    * ONE fixed IEEE chain over three splitDouble images and integer
    * denominators, UNROUNDED. Same distributed prefix-sum scale
    * shape (range partitions, broadcast offsets, next-partition Δv).
    */
  def energyDistance(events: DataFrame, typeA: String, typeB: String,
                     key: String = "event_type", v: String = "value",
                     nBuckets: Int = 32): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = events
      .filter(col(key).isin(typeA, typeB))
      .select(floor(col(v) * 1000000).cast("long").as("xq"),
        when(col(key) === typeA, 1L).otherwise(0L).as("ia"),
        when(col(key) === typeB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("xq"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(nBuckets, col("xq"))
      .withColumn("pid", spark_partition_id())
      .materialize("Stats.energyDistance.d")
    val wLocal = Window.partitionBy("pid").orderBy("xq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeq  = Window.partitionBy("pid").orderBy("xq")
    // both global orders run over nBuckets offset rows; pid frozen by Stats.energyDistance.d
    val wOff  = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.orderBy("pid")
    val offsets = d.groupBy(col("pid"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), min(col("xq")).as("minx"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("ta")).over(wOff), lit(0L)).as("offa"),
        coalesce(sum(col("tb")).over(wOff), lit(0L)).as("offb"),
        lead(col("minx"), 1).over(wNext).as("next_min"))
    val totals = d.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val cumA = (col("offa") + col("la")).cast(dec)
    val cumB = (col("offb") + col("lb")).cast(dec)
    val gap  = (coalesce(lead(col("xq"), 1).over(wSeq), col("next_min")) - col("xq")).cast(dec)
    val sxy  = gap * (cumA * (col("nb").cast(dec) - cumB) + cumB * (col("na").cast(dec) - cumA))
    val sxx  = gap * cumA * (col("na").cast(dec) - cumA)
    val syy  = gap * cumB * (col("nb").cast(dec) - cumB)
    val z    = lit(0L).cast(dec)
    val agg = d
      .withColumn("la", sum(col("ca")).over(wLocal))
      .withColumn("lb", sum(col("cb")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(totals))
      // window-bearing terms materialize BEFORE the aggregate
      // (window functions cannot nest inside sum())
      .withColumn("t_xy", when(gap.isNotNull, sxy).otherwise(z))
      .withColumn("t_xx", when(gap.isNotNull, sxx).otherwise(z))
      .withColumn("t_yy", when(gap.isNotNull, syy).otherwise(z))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(sum(col("t_xy")).as("sxy"),
        sum(col("t_xx")).as("sxx"),
        sum(col("t_yy")).as("syy"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        (lit(2.0) * splitDouble(col("sxy")) / (naD * nbD) -
          lit(2.0) * splitDouble(col("sxx")) / (naD * naD) -
          lit(2.0) * splitDouble(col("syy")) / (nbD * nbD)) / 1e6)
        .as("energy_dist"))
  }

  /** Mood's median test between two event types: split both samples
    * on the POOLED median (doubled order statistic — exact integer
    * compares, values AT the median excluded as the classical test
    * prescribes) and read the 2×2 association χ² =
    * n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — the crude-but-assumption-free
    * two-sample location test beside [[mannWhitney]] (which uses
    * full ranks). Everything up to χ² is exact integer counts and
    * 128-bit products; ONE IEEE division, UNROUNDED; a degenerate
    * margin nulls cleanly.
    */
  def medianTest(events: DataFrame, typeA: String, typeB: String,
                 key: String = "event_type", v: String = "value",
                 nBuckets: Int = 32): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = events.filter(col(key).isin(typeA, typeB))
      .select(col(key).as("k"), floor(col(v) * 1000000).cast("long").as("qu"))
      // NULL values are OUTSIDE the test (the replaced percentile()
      // ignored them on both engines); without this filter Spark's
      // range-partition sort ranks nulls FIRST while DuckDB's
      // row_number ranks them LAST, shifting the pooled median
      .filter(col("qu").isNotNull)
    // pooled doubled median as the EXACT integer doubled order
    // statistic (the friedman/cochranQ recipe, made distributed): a
    // value histogram range-partitioned by qu, local cumulative
    // counts + broadcast per-partition offsets give each distinct
    // value its global rank interval (prev, cum]; the lo/hi order
    // statistics ((n+1) div 2, (n+2) div 2) are read off the
    // intervals containing them and summed, so m2 = qu_lo + qu_hi is
    // an exact integer and the tie-exclusion compare 2·qu != m2 is
    // exact at ANY magnitude — the former percentile()·2 doubled
    // median was only exactly representable while |lo+hi| < 2^53.
    val hist = q.groupBy(col("qu")).agg(count(lit(1)).as("c"))
      .repartitionByRange(nBuckets, col("qu"))
      .withColumn("pid", spark_partition_id())
      .materialize("Stats.medianTest.hist")
    val wLocal = Window.partitionBy("pid").orderBy("qu")
      .rowsBetween(Window.unboundedPreceding, 0)
    // global order over nBuckets offset rows; pid frozen by Stats.medianTest.hist
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist.groupBy(col("pid")).agg(sum(col("c")).as("tc"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("tc")).over(wOff), lit(0L)).as("off"))
    val tot = q.agg(count(lit(1)).as("n"))
    val med = broadcast(hist
      .withColumn("l", sum(col("c")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(tot))
      .withColumn("cum", col("off") + col("l"))
      .withColumn("prev", col("cum") - col("c"))
      .withColumn("lo", expr("(n + 1) div 2"))
      .withColumn("hi", expr("(n + 2) div 2"))
      .agg((sum(when(col("prev") < col("lo") && col("lo") <= col("cum"),
          col("qu").cast(dec)).otherwise(lit(0L).cast(dec))) +
        sum(when(col("prev") < col("hi") && col("hi") <= col("cum"),
          col("qu").cast(dec)).otherwise(lit(0L).cast(dec)))).as("m2")))
    val two = col("qu").cast(dec) * 2
    val cts = q.crossJoin(med)
      .filter(two =!= col("m2"))
      .groupBy(lit(1).as("g"))
      .agg(
        sum(when(col("k") === typeA && two > col("m2"), 1L).otherwise(0L)).as("a"),
        sum(when(col("k") === typeA && two < col("m2"), 1L).otherwise(0L)).as("b"),
        sum(when(col("k") === typeB && two > col("m2"), 1L).otherwise(0L)).as("c"),
        sum(when(col("k") === typeB && two < col("m2"), 1L).otherwise(0L)).as("d"))
    val n   = col("a") + col("b") + col("c") + col("d")
    val det = col("a").cast(dec) * col("d").cast(dec) - col("b").cast(dec) * col("c").cast(dec)
    val den = (col("a") + col("b")).cast(dec) * (col("c") + col("d")).cast(dec) *
      (col("a") + col("c")).cast(dec) * (col("b") + col("d")).cast(dec)
    cts.select(col("a").as("n_a_above"), col("b").as("n_a_below"),
      col("c").as("n_b_above"), col("d").as("n_b_below"),
      when(den > 0,
        n.cast("double") * splitDouble(det * det) / splitDouble(den)).as("median_chi2"))
  }

  /** Cochran's Q across event types on BINARY high-activity-day
    * outcomes — the dichotomous member of the blocked k-sample
    * family ([[friedman]] ranks levels; this tests whether
    * above-median activity days are equally likely across types).
    * Outcome x_{day,type} = 1 iff the type's event count that day
    * strictly exceeds its own median daily count, over the COMPLETE
    * day×type grid (empty cells count 0 — the [[graft.operators.EventAnalytics.dispersionIndex]]
    * grid move), with the median as the doubled order statistic
    * (2c > m2, an exact integer compare — no float near the
    * boundary). Q = (k−1)(k·ΣC_j² − N²)/(k·N − ΣR_i²) is a ratio of
    * EXACT LONGS — one IEEE division, UNROUNDED; the degenerate
    * denominator (every day all-0 or all-1) nulls cleanly.
    */
  def cochranQ(events: DataFrame,
               key: String = "event_type", ts: String = "ts"): DataFrame = {
    val bounds = broadcast(events.agg(
      date_trunc("day", min(col(ts))).as("d0"),
      date_trunc("day", max(col(ts))).as("d1")))
    val grid  = bounds.select(
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val types = events.select(col(key)).distinct()
    val counts = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(count(lit(1)).as("c"))
    val cells = types.crossJoin(grid)
      .join(counts, Seq(key, "day"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wT    = Window.partitionBy(col(key)).orderBy(col("c"))
    val wTAll = Window.partitionBy(col(key))
    val lo = expr("(n + 1) div 2")
    val hi = expr("(n + 2) div 2")
    val med = cells
      .withColumn("rn", row_number().over(wT).cast("long"))
      .withColumn("n", count(lit(1)).over(wTAll))
      .filter(col("rn") === lo || col("rn") === hi)
      .groupBy(col(key))
      .agg((sum(when(col("rn") === lo, col("c"))) +
        sum(when(col("rn") === hi, col("c")))).as("m2"))
    val x = cells.join(broadcast(med), Seq(key))
      .withColumn("x", (lit(2L) * col("c") > col("m2")).cast("long"))
    val byType = x.groupBy(col(key)).agg(sum(col("x")).as("cj"))
    val byDay  = x.groupBy(col("day")).agg(sum(col("x")).as("ri"))
    val tAgg = byType.agg(count(lit(1)).as("k"), sum(col("cj")).as("nn"),
      sum(col("cj") * col("cj")).as("sc2"))
    val dAgg = byDay.agg(count(lit(1)).as("n_days"), sum(col("ri") * col("ri")).as("sr2"))
    val den = col("k") * col("nn") - col("sr2")
    tAgg.crossJoin(dAgg)
      .select(col("k").as("k_types"), col("n_days"), col("nn").as("n_success"),
        when(den > 0,
          ((col("k") - 1L) * (col("k") * col("sc2") - col("nn") * col("nn"))).cast("double") /
            den.cast("double")).as("cochran_q"))
  }

  /** Turning-point test per key on daily closes: count strict local
    * maxima/minima in the series — a random i.i.d. sequence turns at
    * 2/3 of interior points, trending series turn less, oscillating
    * series more (the shape-free randomness screen beside
    * [[runsTest]]'s sign version). Turns are exact integer compares
    * of micro closes (ties break NO turn, strict), E[T] = 2(n−2)/3
    * and Var = (16n−29)/90 enter as one fixed IEEE chain over the
    * exact longs 3T − 2(n−2) and 16n − 29 — UNROUNDED. One lag
    * window + one aggregate on the same per-key sort.
    */
  def turningPoints(events: DataFrame,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w  = Window.partitionBy(key).orderBy("day")
    val qc = floor(col("close") * 1000000).cast("long")
    val t = graft.operators.TimeSeries.dailyClose(events, key, ts, v)
      .withColumn("cur",  qc)
      .withColumn("prev", lag(qc, 1).over(w))
      .withColumn("nxt",  lead(qc, 1).over(w))
    val isTurn = (col("cur") > col("prev") && col("cur") > col("nxt")) ||
      (col("cur") < col("prev") && col("cur") < col("nxt"))
    val agg = t.groupBy(col(key))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("prev").isNotNull && col("nxt").isNotNull && isTurn, 1L)
          .otherwise(0L)).as("n_turning"))
    val num = lit(3L) * col("n_turning") - lit(2L) * (col("n_days") - 2L)
    agg.select(col(key), col("n_days"), col("n_turning"),
      when(col("n_days") >= 3,
        num.cast("double") / 3.0 *
          sqrt(lit(90.0) / (lit(16L) * col("n_days") - 29L).cast("double"))).as("tp_z"))
  }

  /** Wasserstein-1 (earth-mover) distance between two event types'
    * value distributions: W1 = ∫|F_A − F_B| dv — the metric that
    * SEES HOW FAR mass moved where [[ksTest]] sees only the largest
    * gap and the KL tripwire only information. FULLY EXACT until one
    * division: on the micro-quantized value axis, each segment
    * contributes |cumA·n_B − cumB·n_A| · Δv — exact 128-bit decimal
    * products summed order-independently — and W1 = S/(n_A·n_B·1e6)
    * via the splitDouble conversion, ONE IEEE division, UNROUNDED.
    * The global prefix sums ride the [[ksTest]] distributed recipe
    * (range partitions, local cumsum, broadcast offsets — never a
    * global window over data); each partition's last segment takes
    * its Δv from the NEXT partition's first value via the same
    * nBuckets-row offsets frame.
    */
  def wasserstein1(events: DataFrame, typeA: String, typeB: String,
                   key: String = "event_type", v: String = "value",
                   nBuckets: Int = 32): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = events
      .filter(col(key).isin(typeA, typeB))
      .select(floor(col(v) * 1000000).cast("long").as("xq"),
        when(col(key) === typeA, 1L).otherwise(0L).as("ia"),
        when(col(key) === typeB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("xq"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(nBuckets, col("xq"))
      .withColumn("pid", spark_partition_id())
      .materialize("Stats.wasserstein1.d")
    val wLocal = Window.partitionBy("pid").orderBy("xq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeq  = Window.partitionBy("pid").orderBy("xq")
    // both global orders run over nBuckets offset rows; pid frozen by Stats.wasserstein1.d
    val wOff  = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.orderBy("pid")
    val offsets = d.groupBy(col("pid"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), min(col("xq")).as("minx"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("ta")).over(wOff), lit(0L)).as("offa"),
        coalesce(sum(col("tb")).over(wOff), lit(0L)).as("offb"),
        lead(col("minx"), 1).over(wNext).as("next_min"))
    val totals = d.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    // the cross-products go through 128-bit decimal BEFORE the
    // multiply: cum·n would overflow int64 at petabyte counts
    val dfn = (col("offa") + col("la")).cast(dec) * col("nb").cast(dec) -
      (col("offb") + col("lb")).cast(dec) * col("na").cast(dec)
    val gap = coalesce(lead(col("xq"), 1).over(wSeq), col("next_min")) - col("xq")
    val agg = d
      .withColumn("la", sum(col("ca")).over(wLocal))
      .withColumn("lb", sum(col("cb")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(totals))
      .withColumn("term",
        when(gap.isNotNull, abs(dfn) * gap.cast(dec)).otherwise(lit(0L).cast(dec)))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(sum(col("term")).as("s"))
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        splitDouble(col("s")) /
          (col("n_a") * col("n_b") * lit(1000000L)).cast("double")).as("w1"))
  }

  /** Friedman test across event types BLOCKED BY DAY — the
    * repeated-measures k-sample test completing [[anovaF]] (means) /
    * [[kruskalWallis]] (pooled ranks): does any type's level differ
    * when each day serves as its own control? Per-(day, type) cell
    * statistic is the DOUBLED MEDIAN (two order statistics on micro
    * longs — the [[levene]] recipe, exact where a per-cell mean is a
    * non-comparable rational); only COMPLETE blocks (all k types
    * present) enter, per the classical design. Within-day ranks ride
    * bounded ≤k-row windows with average ties as the exact integer
    * dr = 2·rank + t − 1, and the tie-robust statistic
    * Q = (k−1)·Σ_j(R2_j − n(k+1))² / (Σ_{ij}dr² − n·k·(k+1)²)
    * is a ratio of EXACT LONGS — one IEEE division, UNROUNDED
    * (all-tied blocks everywhere null the denominator cleanly).
    */
  def friedman(events: DataFrame,
               key: String = "event_type", ts: String = "ts", v: String = "value"): DataFrame = {
    val q = events
      .withColumn("day", date_trunc("day", col(ts)))
      .withColumn("qu", floor(col(v) * 1000000).cast("long"))
    val wCell    = Window.partitionBy(col("day"), col(key)).orderBy(col("qu"))
    val wCellAll = Window.partitionBy(col("day"), col(key))
    val lo = expr("(n + 1) div 2")
    val hi = expr("(n + 2) div 2")
    val cells = q
      .withColumn("rn", row_number().over(wCell).cast("long"))
      .withColumn("n", count(lit(1)).over(wCellAll))
      .filter(col("rn") === lo || col("rn") === hi)
      .groupBy(col("day"), col(key))
      .agg((sum(when(col("rn") === lo, col("qu"))) +
        sum(when(col("rn") === hi, col("qu")))).as("m2"))
    val kDf = broadcast(events.select(col(key)).distinct()
      .agg(count(lit(1)).cast("long").as("k")))
    val dayCnt = cells.groupBy(col("day")).agg(count(lit(1)).as("c"))
    val full = cells.join(dayCnt, "day").crossJoin(kDf)
      .filter(col("c") === col("k"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("m2"))
    val wTie = Window.partitionBy(col("day"), col("m2"))
    val ranked = full
      .withColumn("rmin", rank().over(wDay).cast("long"))
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("dr", lit(2L) * col("rmin") + col("t") - 1L)
    val perType = ranked.groupBy(col(key))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("dr")).as("r2"),
        sum(col("dr") * col("dr")).as("dr2"),
        max(col("k")).as("k"))
    val dev = col("r2") - col("n_blocks") * (col("k") + 1L)
    val res = perType.agg(
      max(col("k")).as("k_types"),
      max(col("n_blocks")).as("n_blocks"),
      sum(dev * dev).as("st4"),
      sum(col("dr2")).as("sum_dr2"))
    val se4 = col("sum_dr2") -
      col("n_blocks") * col("k_types") * (col("k_types") + 1L) * (col("k_types") + 1L)
    res.select(col("k_types"), col("n_blocks"),
      when(se4 > 0,
        ((col("k_types") - 1L) * col("st4")).cast("double") / se4.cast("double"))
        .as("friedman_q"))
  }
}
