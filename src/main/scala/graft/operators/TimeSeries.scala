package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

/** Time-series / financial analytics: the reference's metrics engine
  * (src/jobs/yfinance_etl/app.py:254-364 calculate_metrics,
  * app.py:444-475 cumulative returns + SMA/EMA/trend) re-expressed as
  * per-key window + aggregate plans.
  *
  * Scale design: every per-key operator shares one Window spec
  * (partitionBy key, orderBy ts) ⇒ a single shuffle by instrument
  * key serves the whole per-key stage; aggregates are single-pass
  * moment computations (no self-joins); benchmark comparisons
  * broadcast the single benchmark series.
  *
  * ddof fidelity to the reference: pandas .std() is sample std
  * (volatility), numpy np.std() is population std (tracking error,
  * Sortino downside deviation) — both preserved below.
  */
object TimeSeries {
  /** Session-lifetime memo of [[ema]]'s routing decision, keyed by
    * (analyzed-plan semanticHash, key column, span). Bounded; cleared
    * wholesale past 1024 entries. */
  private val emaRouteMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, Int), java.lang.Boolean]()

  private val TradingDays = 252.0
  private val RiskFree    = 0.01 // annual, as in the reference

  private def wk(key: String, ts: String): org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(key).orderBy(ts)

  /** Fail-loudly guard for the closed-form EMA family: the
    * (1-a)^(-rn) term exceeds double range past a span-dependent row
    * count and the running sum silently saturates to Inf/NaN. Wraps
    * the OUTPUT column (so pruning can't drop the check) and raises
    * before a corrupted value escapes, pointing at the fold
    * ([[emaFold]] / graft_ema) which has no horizon. Two conditions:
    * the rn horizon (700/-ln(1-a) keeps the largest weight under
    * ~1e304) AND a non-finite check on the value itself, because
    * large |value| can push the running sum past double range while
    * rn is still inside the horizon. NULL outputs pass through (a
    * null is absent data, not overflow).
    */
  private def closedFormGuard(out: Column, alpha: Double): Column = {
    val safeRn = (700.0 / -math.log1p(-alpha)).toLong
    val bad = col("rn") > lit(safeRn) || isnan(out) || abs(out) === lit(Double.PositiveInfinity)
    when(bad, raise_error(concat(
      lit(s"closed-form EMA overflow (alpha=$alpha, safe horizon $safeRn rows/key); " +
        "use emaFold/graft_ema for long or large-magnitude series — rn="),
      col("rn").cast("string")))).otherwise(out)
  }

  /** pct_change per key: ret_t = v_t / v_{t-1} - 1. A zero previous
    * value has no defined return — excluded (and guarded so ANSI
    * mode never throws on divide-by-zero).
    */
  def dailyReturns(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val prev = lag(col(v), 1).over(wk(key, ts))
    df.withColumn("ret", when(prev =!= 0, col(v) / prev - 1))
      .filter(col("ret").isNotNull)
  }

  /** Annualized mean return, volatility (sample std), Sharpe per key. */
  def metricsSummary(returns: DataFrame, key: String = "user_id"): DataFrame =
    returns
      .groupBy(col(key))
      .agg(
        round(avg("ret") * TradingDays, 6).as("ann_return"),
        round(stddev_samp(col("ret")) * math.sqrt(TradingDays), 6).as("volatility"),
        round(
          when(stddev_samp(col("ret")) =!= 0,
            (avg("ret") * TradingDays) / (stddev_samp(col("ret")) * math.sqrt(TradingDays))),
          6).as("sharpe")
      )

  /** Point-to-point return over the observed range: last/first - 1. */
  def ytdReturn(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    df.groupBy(col(key))
      .agg(
        when(min_by(col(v), col(ts)) =!= 0, max_by(col(v), col(ts)) / min_by(col(v), col(ts)) - 1)
          .as("ytd_return"))

  /** Max drawdown: running max, then min of (v/runmax - 1) per key. */
  def maxDrawdown(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w = wk(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("run_max", max(col(v)).over(w))
      .groupBy(col(key))
      .agg(min(when(col("run_max") =!= 0, col(v) / col("run_max") - 1)).as("max_drawdown"))
  }

  /** Growth of $1 per key. (1+pct_change).cumprod() telescopes to
    * v_t / v_first — exact, one window pass, no log/exp error.
    */
  def cumulativeReturns(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w  = wk(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f0 = first(col(v)).over(w)
    df.withColumn("cum_return", when(f0 =!= 0, col(v) / f0))
  }

  /** Generic compounding for a pre-computed return series (non-
    * telescoping case): exp(Σ log1p(ret)) running per key.
    */
  def compoundFromReturns(returns: DataFrame, key: String = "user_id", ts: String = "ts"): DataFrame = {
    val w = wk(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    returns.withColumn("growth", exp(sum(log(lit(1.0) + col("ret"))).over(w)))
  }

  /** Simple moving average over the trailing n observations. */
  def sma(df: DataFrame, n: Int, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    df.withColumn("sma", round(avg(col(v)).over(wk(key, ts).rowsBetween(-(n - 1), 0)), 6))

  /** Bollinger bands: n-period SMA ± band·(n-period sample std) —
    * one window spec, four derived columns, single per-key shuffle.
    * The n>=2 count guard keeps the 1-row sample std NULL (not NaN)
    * for engine parity.
    */
  def bollinger(df: DataFrame, n: Int = 20, band: Double = 2.0, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w   = wk(key, ts).rowsBetween(-(n - 1), 0)
    val mid = avg(col(v)).over(w)
    val sd  = when(count(lit(1)).over(w) >= 2, stddev_samp(col(v)).over(w))
    df
      .withColumn("mid", round(mid, 6))
      .withColumn("upper", round(mid + lit(band) * sd, 6))
      .withColumn("lower", round(mid - lit(band) * sd, 6))
  }

  /** EMA(span, adjust=False): y_t = (1-a)^t*(x_0 + Σ_{i=1..t} a*(1-a)^{-i}*x_i),
    * a = 2/(span+1), with AUTOMATIC per-key routing past the
    * closed form's overflow horizon. Keys whose series fit inside
    * the span-dependent safe row count (700/-ln(1-a): the largest
    * (1-a)^{-i} weight stays under ~1e304) take the one-pass
    * codegen'd running-window closed form; longer keys route to the
    * horizon-free recursive fold (graft_ema_series, a
    * TypedImperativeAggregate emitting the full per-row series) —
    * same answer bit-for-bit after the shared 6-dp rounding, no
    * caller change, no loud failure to work around. The route is
    * decided by a cheap key-column pre-scan (scalar max per-key
    * count), so in the common all-short case the submitted plan is
    * exactly the one-scan, one-shuffle closed form.
    * Output schema is fixed: (key, ts, v, rn, ema).
    *
    * [[closedFormGuard]] stays on the short path as the backstop for
    * magnitude-driven overflow (values ~1e300 can blow the running
    * sum INSIDE the row-count horizon — a data problem routing
    * cannot fix, so it still fails loudly).
    */
  def ema(df: DataFrame, span: Int, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val a      = 2.0 / (span + 1)
    val safeRn = (700.0 / -math.log1p(-a)).toLong
    val w      = wk(key, ts)
    val wRun   = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def closedForm(src: DataFrame): DataFrame = src
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("g", when(col("rn") === 0, col(v)).otherwise(lit(a) * col(v) * pow(lit(1 - a), -col("rn"))))
      .withColumn("ema", closedFormGuard(round(pow(lit(1 - a), col("rn")) * sum(col("g")).over(wRun), 6), a))
      .select(col(key), col(ts), col(v), col("rn"), col("ema"))
    // Adaptive plan SELECTION, not per-key plan branching: a cheap
    // pre-scan (key column only, map-side combined — column pruning
    // makes this a fraction of the fact read even at 100 TB) decides
    // which plan Catalyst ever sees. The r11 join-routing shape ran
    // THREE fact scans when the long branch was empty (cnts + both
    // key-dim joins; q_ema 0.71s -> 1.69s in the r11 sweep), and the
    // earlier whole-partition count window double-buffered every
    // partition (0.78s -> 1.15s). When no key exceeds the closed
    // form's horizon — the overwhelmingly common case — the query is
    // the plain one-scan, one-shuffle closed form, byte-identical to
    // the unrouted r10 plan; only when a key genuinely overflows do
    // we pay the two-branch routing, and then the fold is the cost
    // that matters, not the extra scans.
    // The decision is memoized per (analyzed-plan semanticHash, key,
    // span) for the session — the statistics-caching pattern Spark
    // itself uses for file listings. Rebuilding the same query (a
    // bench rep, an interactive re-run, a dashboard refresh) skips
    // the pre-scan job entirely. A decision gone stale against
    // changed data can only fail LOUDLY (closedFormGuard raises on
    // the short path) or cost a little perf (long path on short
    // data) — never return a wrong series.
    val memoKey = (df.queryExecution.analyzed.semanticHash(), key, span)
    val cached = emaRouteMemo.get(memoKey)
    val allShort = if (cached != null) cached.booleanValue
    else {
      val mx = Materialize.named("head TimeSeries.ema.maxKeyRows") {
        df.groupBy(col(key)).agg(count(lit(1)).as("__cnt")).agg(max(col("__cnt"))).head()
      }
      val maxCnt = if (mx.isNullAt(0)) 0L else mx.getLong(0)
      val s = maxCnt <= safeRn
      if (emaRouteMemo.size > 1024) emaRouteMemo.clear()
      emaRouteMemo.put(memoKey, java.lang.Boolean.valueOf(s))
      s
    }
    if (allShort) {
      closedForm(df)
    } else {
      val cnts      = df.groupBy(col(key)).agg(count(lit(1)).as("__cnt"))
      val shortKeys = cnts.filter(col("__cnt") <= safeRn).select(col(key))
      val longKeys  = cnts.filter(col("__cnt") > safeRn).select(col(key))
      val short     = closedForm(df.join(shortKeys, Seq(key)))
      graft.plans.GraftFunctions.register(df.sparkSession)
      val longRows = df.join(longKeys, Seq(key))
        .groupBy(col(key))
        .agg(expr(s"graft_ema_series($ts, $v, $span)").as("sv"))
        .select(col(key), posexplode(col("sv")).as(Seq("rn", "e")))
        .select(col(key), timestamp_micros(col("e.ts_us")).as(ts), col("e.value").as(v),
          col("rn"), round(col("e.ema"), 6).as("ema"))
      short.unionByName(longRows)
    }
  }

  /** MACD(fast, slow, signal): EMA(fast) − EMA(slow), the signal
    * line as EMA(signal) of the MACD series, and the histogram.
    * All three EMAs use the same closed form as [[ema]] over ONE
    * per-key shuffle (stacked window ops share the sort); rounding
    * happens only at the output so the derived series compose
    * exactly as the oracle does.
    */
  def macd(df: DataFrame, fastSpan: Int = 12, slowSpan: Int = 26, signalSpan: Int = 9, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val (af, as, am) = (2.0 / (fastSpan + 1), 2.0 / (slowSpan + 1), 2.0 / (signalSpan + 1))
    val w    = wk(key, ts)
    val wRun = Window.partitionBy(key).orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def g(src: Column, a: Double): Column =
      when(col("rn") === 0, src).otherwise(lit(a) * src * pow(lit(1 - a), -col("rn")))
    df.withColumn("rn", row_number().over(w) - 1)
      .withColumn("gf", g(col(v), af))
      .withColumn("gs", g(col(v), as))
      .withColumn("ema_fast", pow(lit(1 - af), col("rn")) * sum(col("gf")).over(wRun))
      .withColumn("ema_slow", pow(lit(1 - as), col("rn")) * sum(col("gs")).over(wRun))
      .withColumn("macd", col("ema_fast") - col("ema_slow"))
      .withColumn("gm", g(col("macd"), am))
      .withColumn("sig", pow(lit(1 - am), col("rn")) * sum(col("gm")).over(wRun))
      .select(col(key), col(ts),
        // every output column carries the guard (so pruning any
        // subset can't drop the check), each at the strictest horizon
        // among the alphas IT depends on: the macd column uses only
        // the fast/slow EMAs, so guarding it at the signal EMA's
        // (larger) alpha would raise spuriously on series still exact
        // for it; signal/hist also fold the signal EMA in
        closedFormGuard(round(col("macd"), 6), math.max(af, as)).as("macd"),
        closedFormGuard(round(col("sig"), 6), Seq(af, as, am).max).as("signal"),
        closedFormGuard(round(col("macd") - col("sig"), 6), Seq(af, as, am).max).as("hist"))
  }

  /** RSI(n), EMA-smoothed (alpha = 1/n, adjust=False, seeded at the
    * first delta): gains/losses from per-key deltas, both smoothed
    * with the same closed form as [[ema]] on ONE shuffle, then
    * RSI = 100 − 100/(1+RS). avg_loss == 0 (all-gain prefix) maps to
    * RSI 100 — both engines classify exactly since the smoothed loss
    * is identically zero iff every loss term is zero.
    */
  def rsi(df: DataFrame, n: Int = 14, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val a = 1.0 / n
    val w = wk(key, ts)
    def smooth(src: Column): Column =
      pow(lit(1 - a), col("rn")) * sum(
        when(col("rn") === 0, src).otherwise(lit(a) * src * pow(lit(1 - a), -col("rn"))))
        .over(Window.partitionBy(key).orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("delta", col(v) - lag(col(v), 1).over(w))
      .filter(col("delta").isNotNull)
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("avg_gain", smooth(greatest(col("delta"), lit(0.0))))
      .withColumn("avg_loss", smooth(greatest(-col("delta"), lit(0.0))))
      .select(col(key), col(ts),
        closedFormGuard(
          round(when(col("avg_loss") =!= 0,
            lit(100.0) - lit(100.0) / (lit(1.0) + col("avg_gain") / col("avg_loss")))
            .otherwise(lit(100.0)), 6), a).as("rsi"))
  }

  /** Final EMA per key via the custom TypedImperativeAggregate fold
    * (graft.plans.EmaAggregate) — order-correct across partition
    * merges, no closed-form overflow on long series. Agrees with the
    * last row of ema() to float precision (spec-checked).
    */
  def emaFold(df: DataFrame, span: Int, key: String = "user_id"): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.groupBy(col(key))
      .agg(round(expr(s"graft_ema(ts, value, $span)"), 6).as("ema_final"))
  }

  /** As-of join (the classic operator Spark lacks natively): for
    * each left-kind event, the most recent right-kind value at or
    * before its timestamp, per key. Composed as union + ordered
    * forward-fill — ONE shuffle by key, no range join, no pair
    * blowup; the oracle cross-checks against DuckDB's native ASOF
    * JOIN. A non-key-aligned variant (global quote stream) would
    * range-partition time and replicate boundary quotes — SURVEY §7
    * later rounds as a custom SparkPlan.
    */
  def asOfJoin(events: DataFrame, leftType: String, rightType: String, key: String = "user_id", ts: String = "ts"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin(leftType, rightType))
      .withColumn("qv", when(col("event_type") === rightType, col("value")))
      .withColumn("asof_val", last(col("qv"), ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col(key), unix_micros(col(ts)).as("ts_us"), col("value"), col("asof_val"))
  }

  /** As-of join with a staleness tolerance (the market-data variant:
    * a quote older than `toleranceMin` minutes must not price a
    * trade). Same single-shuffle union + ordered forward-fill as
    * [[asOfJoin]], additionally filling the matched quote's
    * timestamp so the age check is a narrow per-row predicate —
    * stale or absent quotes yield a null value and null age rather
    * than silently pricing off old data.
    */
  def asOfJoinTolerance(events: DataFrame, leftType: String, rightType: String,
                        toleranceMin: Int, key: String = "user_id", ts: String = "ts"): DataFrame = {
    val tolUs = toleranceMin * 60L * 1000000L
    val w = Window.partitionBy(key).orderBy(ts)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val age = unix_micros(col(ts)) - unix_micros(col("last_qt"))
    events
      .filter(col("event_type").isin(leftType, rightType))
      .withColumn("qv", when(col("event_type") === rightType, col("value")))
      .withColumn("qt", when(col("event_type") === rightType, col(ts)))
      .withColumn("last_qv", last(col("qv"), ignoreNulls = true).over(w))
      .withColumn("last_qt", last(col("qt"), ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col(key), unix_micros(col(ts)).as("ts_us"), col("value"),
        when(age <= tolUs, col("last_qv")).as("asof_val"),
        when(age <= tolUs, age).as("asof_age_us"))
  }

  /** Up/down flag vs previous observation (trend marker analog). */
  def trendFlag(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    df.withColumn("uptrend", (col(v) > lag(col(v), 1).over(wk(key, ts))).cast("int"))
      .filter(col("uptrend").isNotNull)

  /** Sortino: mean excess return over population std of negative
    * excess returns (numpy ddof=0 as in the reference).
    */
  def sortino(returns: DataFrame, key: String = "user_id"): DataFrame = {
    val dailyRf = RiskFree / TradingDays
    val excess  = col("ret") - lit(dailyRf)
    returns
      .groupBy(col(key))
      .agg(
        round(
          when(stddev_pop(when(excess < 0, excess)) =!= 0,
            avg(excess) / stddev_pop(when(excess < 0, excess))),
          6
        ).as("sortino")
      )
  }

  /** Daily close bar per key (last observation of the day) — the
    * alignment grid for cross-series comparisons.
    */
  def dailyClose(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    df.groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"))

  /** Value-weighted portfolio return series: weights are each key's
    * latest observed level normalized over the universe (allocation
    * snapshot), the portfolio's daily return is Σ w_i·r_i(day).
    * The weight table is one row per key — broadcast; the fact-side
    * daily returns never reshuffle for the join.
    */
  def portfolioReturn(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val latest = df
      .groupBy(col(key))
      .agg(max_by(col(v), col(ts)).as("level"))
    // levels carry <=2dp (events money column): DECIMAL sum is exact
    // and order-independent, so the weights are engine-identical
    val total = latest.agg(
      sum(col("level").cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double").as("total_level"))
    val weights = broadcast(latest.crossJoin(broadcast(total))
      .select(col(key), (col("level") / col("total_level")).as("w")))
    dailyCloseReturns(df, key, ts, v)
      .join(weights, key)
      .groupBy(col("day"))
      .agg(round(sum(col("w") * col("ret")), 6).as("port_ret"))
  }

  /** Portfolio concentration metrics (the fund-composition
    * concentration/liquidity panel, reference fund_comp2.py:375-446
    * generate_concentration_liquidity_data): keys group into
    * portfolios and
    * each holding's weight is its latest observed level over the
    * portfolio total. Reports holdings count, top-N weight share,
    * max single-holding weight, and the Herfindahl–Hirschman index
    * per portfolio.
    *
    * Determinism: levels carry <=2dp, so every sum (total, top-N,
    * sum of squares) accumulates in DECIMAL space — exact and
    * order-independent — and each metric is a ratio of two exact
    * doubles, emitted UNROUNDED (ratios of exact decimals can
    * terminate on the 6-dp tie digit, where engines' round()
    * disagree; the raw quotient is bit-identical everywhere). One
    * rank window + one aggregate on the same per-portfolio shuffle;
    * at 100 TB the holdings table is one row per key, tiny next to
    * the fact data that produced it.
    *
    * Each metric also carries its policy-limit status (the
    * reference's "Within Limit / Approaching Limit / Exceeds Limit"
    * column): exceeds above the limit, approaching above
    * `approach`x the limit, within otherwise. The classification
    * compares the UNROUNDED exact-ratio metrics, so both engines
    * branch on bit-identical doubles.
    */
  def concentration(df: DataFrame, topN: Int = 10, nPortfolios: Int = 10,
                    topShareLimit: Double = 0.5, maxWeightLimit: Double = 0.25,
                    hhiLimit: Double = 0.15, approach: Double = 0.9,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val Money = org.apache.spark.sql.types.DecimalType(18, 2)
    def status(metric: Column, limit: Double): Column =
      when(metric > limit, "exceeds")
        .when(metric > limit * approach, "approaching").otherwise("within")
    val latest = df
      .groupBy(col(key))
      .agg(max_by(col(v), col(ts)).cast(Money).as("level"))
      .withColumn("portfolio", pmod(col(key), lit(nPortfolios.toLong)))
    val wRank = Window.partitionBy("portfolio").orderBy(col("level").desc, col(key).asc)
    val total = sum(col("level")).cast("double")
    latest
      .withColumn("rnk", row_number().over(wRank))
      .groupBy(col("portfolio"))
      .agg(
        count(lit(1)).as("n_holdings"),
        (sum(when(col("rnk") <= topN, col("level"))).cast("double") / total).as("top_share"),
        (max(col("level")).cast("double") / total).as("max_weight"),
        (sum(col("level") * col("level")).cast("double") / (total * total)).as("hhi"))
      .select(col("portfolio"), col("n_holdings"),
        col("top_share"), status(col("top_share"), topShareLimit).as("top_share_status"),
        col("max_weight"), status(col("max_weight"), maxWeightLimit).as("max_weight_status"),
        col("hhi"), status(col("hhi"), hhiLimit).as("hhi_status"))
  }

  /** Portfolio turnover between two allocation snapshots (the
    * "Portfolio Turnover (%)" indicator of the reference trend
    * panel, computed from weight changes instead of scaffolded
    * text): 0.5 * Σ_keys |w_before - w_now| per portfolio, where
    * weights are each key's latest level at/before the cutoff (resp.
    * now) over the portfolio total, and keys missing from a snapshot
    * count at weight 0.
    *
    * Determinism: a naive Σ|w1-w2| is an order-dependent double sum
    * that no two engines reduce identically. Instead the difference
    * is cross-multiplied into DECIMAL space — |l1*T2 - l2*T1| with
    * exact DECIMAL levels and totals — so the per-portfolio sum is
    * exact and order-independent, and only the FINAL quotient
    * (/(T1*T2), one IEEE division on bit-identical operands) is
    * floating point. Same one-row-per-key scale shape as
    * [[concentration]].
    */
  def portfolioTurnover(df: DataFrame, cutoff: String, nPortfolios: Int = 10,
                        key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val L  = org.apache.spark.sql.types.DecimalType(12, 2)
    val T  = org.apache.spark.sql.types.DecimalType(18, 2)
    val Z  = lit(0).cast(L)
    def snap(d: DataFrame, lvl: String) = d.groupBy(col(key))
      .agg(max_by(col(v), col(ts)).cast(L).as(lvl))
      .withColumn("portfolio", pmod(col(key), lit(nPortfolios.toLong)))
    val s1 = snap(df.filter(col(ts) < lit(cutoff).cast("timestamp")), "l1")
    val s2 = snap(df, "l2")
    val t1 = s1.groupBy("portfolio").agg(sum("l1").cast(T).as("t1"))
    val t2 = s2.groupBy("portfolio").agg(sum("l2").cast(T).as("t2"))
    s1.join(s2, Seq(key, "portfolio"), "full_outer")
      .join(broadcast(t1), "portfolio")
      .join(broadcast(t2), "portfolio")
      .groupBy(col("portfolio"))
      .agg(
        sum(abs(coalesce(col("l1"), Z) * col("t2") - coalesce(col("l2"), Z) * col("t1"))).as("sd"),
        first(col("t1")).as("ft1"), first(col("t2")).as("ft2"))
      .select(col("portfolio"),
        when((col("ft1") * col("ft2")).cast("double") =!= 0.0,
          lit(0.5) * (col("sd").cast("double") / (col("ft1") * col("ft2")).cast("double")))
          .as("turnover"))
  }

  /** Longest underwater streak per key (drawdown-duration companion
    * to maxDrawdown): an observation is underwater while below the
    * running peak; streaks segment by a running count of at-peak
    * rows, then one groupBy takes the longest. Same single per-key
    * shuffle as every window op here.
    */
  def drawdownDuration(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w    = wk(key, ts)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("run_max", max(col(v)).over(wRun))
      .withColumn("under", when(col(v) < col("run_max"), 1L).otherwise(0L))
      .withColumn("streak_id", sum(lit(1L) - col("under")).over(wRun))
      .groupBy(col(key), col("streak_id"))
      .agg(sum(col("under")).as("streak_len"))
      .groupBy(col(key))
      .agg(max(col("streak_len")).as("max_underwater_run"))
  }

  /** Month-end resample + month-over-month return per key: one
    * groupBy for the month bars, one lag window for the return. The
    * return is emitted unrounded: a quotient of two 2-dp closes can
    * terminate exactly on the 6-dp rounding tie where engines'
    * round() disagree, while the raw quotient is bit-identical.
    */
  def monthlyReturns(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val monthly = df
      .groupBy(col(key), date_trunc("month", col(ts)).as("month"))
      .agg(max_by(col(v), col(ts)).as("close"))
    val prev = lag(col("close"), 1).over(Window.partitionBy(key).orderBy("month"))
    monthly
      .withColumn("mret", when(prev =!= 0, col("close") / prev - 1))
      .select(col(key), col("month"), col("close"), col("mret"))
  }

  /** Daily returns on the daily-close grid. */
  def dailyCloseReturns(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val prev = lag(col("close"), 1).over(Window.partitionBy(key).orderBy("day"))
    dailyClose(df, key, ts, v)
      .withColumn("ret", when(prev =!= 0, col("close") / prev - 1))
      .filter(col("ret").isNotNull)
  }

  /** Annualized tracking error of every key vs a benchmark key:
    * population std of the per-day return difference * sqrt(252).
    * The benchmark is ONE key ⇒ its daily series is tiny ⇒ broadcast;
    * the fact side never reshuffles for the join.
    */
  def trackingError(df: DataFrame, benchmarkKey: Long, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(df, key, ts, v)
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    rets
      .filter(col(key) =!= benchmarkKey)
      .join(bench, "day")
      .groupBy(col(key))
      .agg(round(stddev_pop(col("ret") - col("bench_ret")) * math.sqrt(TradingDays) * 100, 6).as("tracking_error_pct"))
  }

  /** OLS of key returns on benchmark returns, closed form:
    * beta = covar_samp/var_samp, alpha = (mean_y - beta*mean_x)*252,
    * r2 = corr^2 — single-pass moment aggregates, no regression loop.
    */
  def alphaBeta(df: DataFrame, benchmarkKey: Long, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(df, key, ts, v)
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    rets
      .filter(col(key) =!= benchmarkKey)
      .join(bench, "day")
      .groupBy(col(key))
      .agg(
        round(when(var_samp(col("bench_ret")) =!= 0,
          covar_samp(col("ret"), col("bench_ret")) / var_samp(col("bench_ret"))), 6).as("beta"),
        round(when(var_samp(col("bench_ret")) =!= 0,
          (avg(col("ret")) - covar_samp(col("ret"), col("bench_ret")) / var_samp(col("bench_ret")) * avg(col("bench_ret"))) * TradingDays),
          6
        ).as("alpha"),
        round(when(var_samp(col("ret")) =!= 0 && var_samp(col("bench_ret")) =!= 0,
          pow(corr(col("ret"), col("bench_ret")), 2)), 6).as("r_squared")
      )
  }

  /** Rolling window stats vs a benchmark (fund-comparison rolling
    * panel): per key+day over the trailing `win` daily returns,
    * annualized volatility and Pearson correlation with the
    * benchmark's return. One shuffle (the per-key window); the
    * benchmark series is one key ⇒ broadcast join by day.
    * Correlation guards zero-variance windows (engines disagree on
    * NaN vs null there).
    */
  def rollingStats(df: DataFrame, benchmarkKey: Long, win: Int = 30, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(df, key, ts, v)
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    val w   = Window.partitionBy(key).orderBy("day").rowsBetween(-(win - 1), 0)
    val cnt = count(lit(1)).over(w)
    // n>=2 guard BEFORE the stddev!=0 checks: a 1-row sample stddev
    // is NaN in Spark (and NaN != 0 is true) but NULL in SQL engines
    rets
      .filter(col(key) =!= benchmarkKey)
      .join(bench, "day")
      .withColumn("roll_vol",
        round(when(cnt >= 2, stddev_samp(col("ret")).over(w) * math.sqrt(TradingDays)), 6))
      .withColumn("roll_corr",
        round(when(cnt >= 2 &&
          stddev_samp(col("ret")).over(w) =!= 0 && stddev_samp(col("bench_ret")).over(w) =!= 0,
          corr(col("ret"), col("bench_ret")).over(w)), 6))
      .select(col(key), col("day"), col("roll_vol"), col("roll_corr"))
  }

  /** Volatility cones: the corpus-wide distribution (p10/p50/p90) of
    * rolling annualized volatility at each horizon — the where-does-
    * current-vol-sit-historically panel vol desks read before
    * pricing. Per-window variance NUMERATORS m·Σx² − (Σx)² are exact
    * 128-bit integers (micro-return window sums are order-free
    * integer adds), each window's vol is ONE fixed IEEE chain
    * sqrt(vn·252/(m(m−1)))/1e6 over the numerator's exact-decimal
    * image, and the cone cuts are interpolating percentiles of that
    * per-window VOL column — annualize first, THEN cut: sqrt does
    * not commute with linear interpolation, so percentiles of the
    * numerator would bias interpolated cuts high. Deterministic
    * cross-engine, UNROUNDED. One per-key window shuffle per
    * horizon; the percentile reduce is corpus-global but over one
    * double per window row.
    */
  def volCones(events: DataFrame, horizons: Seq[Int] = Seq(5, 21),
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 2), s"horizons must be >= 2: $horizons")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // ONE running-cumsum pass instead of per-horizon sliding frames:
    // a rowsBetween(-(m-1), 0) decimal sum makes WindowExec re-add
    // the whole m-row frame for EVERY row (O(n·m) 128-bit adds,
    // measured as the dominant 1–2.7 s single-task stages of this
    // query), while the running frame updates incrementally (O(n)).
    // The per-window sums are recovered by exact decimal differencing
    // cum[i] − cum[i−m] — bit-identical values, so vn and every
    // downstream IEEE chain are unchanged. All horizons' lags ride
    // the SAME (key, day) sort (guide §4 per-row work).
    val wSeq = Window.partitionBy(key).orderBy("day")
    val cum = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .withColumn("rn", row_number().over(wSeq).cast("long"))
      .withColumn("c1", sum(col("mk").cast(dec)).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("c2", sum((col("mk").cast(dec) * col("mk")).cast(dec)).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(key), col("day"), col("rn"), col("c1"), col("c2"))
    horizons.map { m =>
      // exact 128-bit numerator (mk² passes int64 on pathological
      // fixture returns), imaged per row via the portable splitDouble
      val s1 = col("c1") - coalesce(lag(col("c1"), m).over(wSeq), lit(0).cast(dec))
      val s2 = col("c2") - coalesce(lag(col("c2"), m).over(wSeq), lit(0).cast(dec))
      val vn = lit(m.toLong).cast(dec) * s2 - s1 * s1
      val k252 = 252.0 / (m.toDouble * (m - 1))
      // annualize per WINDOW, then take percentiles of the vol
      // column itself: sqrt does not commute with the percentile's
      // linear interpolation, so interpolated cuts over the variance
      // numerator would be biased high vs the conventional vol-cone
      // definition. volr is still one fixed IEEE chain per row
      // (exact-decimal image → ·k → sqrt → /1e6), engine-identical.
      val wins = cum
        .withColumn("vnd", graft.operators.Stats.splitDouble(vn))
        .filter(col("rn") >= m)
        .withColumn("volr", sqrt(col("vnd") * lit(k252)) / 1e6)
      def vol(p: Double) = percentile(col("volr"), lit(p))
      wins.agg(
        lit(m).as("horizon"),
        count(lit(1)).as("n_windows"),
        vol(0.1).as("vol_p10"), vol(0.5).as("vol_p50"), vol(0.9).as("vol_p90"))
    }.reduce(_ unionByName _)
  }

  case class SeriesVec(k: Long, slots: Array[Long], vals: Array[Double])
  /** Thresholded correlated-pairs twin of [[correlationMatrix]] —
    * the SCALE default when the ask is "pairs with |corr| >= t", not
    * the full keys^2 heatmap. Candidate generation is sign-pattern
    * LSH (the random-hyperplane family specialized to the identity
    * projection): each key's day-slot return-sign sequence is cut
    * into `bandWidth`-slot bands, each (band, sign-pattern) md5
    * signature becomes a bucket key, and only keys sharing a bucket
    * ever pair — positively-correlated series agree on most return
    * signs, so every band is an independent chance to collide, while
    * uncorrelated keys collide on a band w.p. ~2^-bandWidth. The
    * exact closed-form correlation is then computed ONLY for
    * candidate pairs via a common-day equi-join (O(|cand| x days)
    * rows, not keys^2 x days), and pairs below `minAbsCorr` drop.
    *
    * Result is a SUBSET of `correlationMatrix(df).filter(abs(corr)
    * >= minAbsCorr)` with identical corr values (spec-asserted in
    * TimeSeriesSpec): banding trades recall on anti-correlated /
    * weakly-correlated pairs for a candidate volume that stays
    * bounded as keys grow — the q_ngram_jaccard -> _banded move.
    * No pair-key cap needed: nothing here is quadratic in keys
    * (signature groupBy is linear; the bucket self-join volume is
    * sum over buckets of bucket-size^2, bounded by the band width).
    *
    * SATURATION-AWARE banding (r11): a w-slot sign band has only 2^w
    * distinct patterns, so once keys >> 2^w every bucket fills and
    * the candidate join degenerates toward keys^2 regardless of the
    * data (the x30 audit OOM'd here: 45k keys over 64 patterns =
    * ~700-key buckets). The effective width therefore auto-widens to
    * keep the EXPECTED bucket size near 8 — w_eff = max(bandWidth,
    * ceil(log2(keys/8))) — the simhash -> simhash_wide band-space
    * lever applied automatically. Exact verification is unchanged,
    * so correctness is width-independent; wider bands trade recall
    * on weaker correlations for bounded candidates, exactly the LSH
    * contract. The SQL oracle computes the SAME adaptive width
    * (bit_length of ceil(keys/8), exact integer arithmetic on both
    * sides), so the mirror holds in the widened regime too — gate-
    * verified at sf0.01 (w_eff = 6) AND sf0.1 (w_eff = 8).
    */
  def corrPairsBanded(df: DataFrame, minAbsCorr: Double = 0.3, bandWidth: Int = 6,
                      key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    // rets feeds FIVE consumers (the sizing head(), the day grid, and
    // the three reads of r below) — unmaterialized, the daily-close
    // window subtree re-evaluates for each; one slim materialization
    // runs it once
    val rets = dailyCloseReturns(df, key, ts, v).materialize("TimeSeries.corrPairsBanded.rets")
    val cnt = Materialize.named("head TimeSeries.corrPairsBanded.sizes") {
      rets.agg(countDistinct(col(key)).as("nk"), countDistinct(col("day")).as("nd")).head()
    }
    val (nKeys, nSlots) = (cnt.getLong(0), cnt.getLong(1))
    // smallest w with 2^w >= ceil(keys/8), in EXACT integer arithmetic
    // (a float log2 is off-by-one exactly at powers of two, where
    // log(n)/log(2) lands a hair above the integer — and the SQL
    // mirror computes the same width via bit_length)
    val needed = (nKeys + 7) / 8
    val wEff = math.max(bandWidth,
      if (needed <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(needed - 1))
    // widened regime only: a trailing partial band of p slots has
    // just 2^p patterns and re-saturates on its own (the x30 tail
    // band of 4 slots = 16 buckets for 45k keys) — merge it into the
    // last full band instead. The default-width path keeps the plain
    // floor rule bit-for-bit (it is what the static SQL oracle
    // mirrors).
    val bandCol =
      if (wEff == bandWidth) floor(col("slot") / bandWidth).cast("long")
      else {
        val nBands = math.max(1L, nSlots / wEff)
        least(floor(col("slot") / wEff), lit(nBands - 1)).cast("long")
      }
    val days = broadcast(rets.select(col("day")).distinct()
      .withColumn("slot", row_number().over(Window.orderBy("day")).cast("long") - 1)) // one row per day
    // r is consumed three times (signatures + both sides of the
    // exact-verification join); it is three slim columns, so
    // materializing it once beats re-running the day join per read
    val r = rets.join(days, "day")
      .select(col(key).as("k"), col("slot"), col("ret"))
      .materialize("TimeSeries.corrPairsBanded.r")
    // sign pattern per (key, band): ascending-slot "slot:sign" string
    // md5'd — the slot list is part of the signature, so keys with
    // different day coverage inside a band never collide (they could
    // not be verified against the same slots anyway)
    val sigs = r
      .withColumn("band", bandCol)
      .withColumn("sgn", when(col("ret") >= 0, lit(1)).otherwise(lit(0)))
      .groupBy(col("k"), col("band"))
      .agg(sort_array(collect_list(struct(col("slot"), col("sgn")))).as("sv"))
      .select(col("k"), col("band"),
        md5(concat_ws(",", transform(col("sv"),
          s => concat_ws(":", s("slot").cast("string"), s("sgn").cast("string"))))).as("sig"))
    val cand = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.k") < col("b.k"))
      .select(col("a.k").as("ka"), col("b.k").as("kb"))
      .distinct()
    // exact verification, candidates only: same closed-form moment
    // sums as the full matrix, accumulated through the aggregate on
    // the common-slot join
    cand
      .join(r.as("x"), col("ka") === col("x.k"))
      .join(r.as("y"), col("kb") === col("y.k") && col("x.slot") === col("y.slot"))
      .groupBy(col("ka"), col("kb"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x.ret")).as("sx"), sum(col("y.ret")).as("sy"),
        sum(col("x.ret") * col("x.ret")).as("sxx"),
        sum(col("y.ret") * col("y.ret")).as("syy"),
        sum(col("x.ret") * col("y.ret")).as("sxy"))
      .withColumn("corr_ret",
        round(when(col("n") >= 2 &&
            col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy")))), 6))
      .filter(abs(col("corr_ret")) >= minAbsCorr)
      .select(col("ka"), col("kb"), col("corr_ret"))
  }

  case class CorrCell(ka: Long, kb: Long, corr_ret: Option[Double])

  /** Default-on keys ceiling for [[correlationMatrix]]'s declared
    * O(keys²) sweep: 20k keys ≈ 2·10⁸ output cells, the edge of a
    * sane instrument panel. The x10 audit replica (15k keys) stays
    * measurable; a 100x caller refuses instead of hitting the cliff.
    */
  val CorrMatrixDefaultMaxKeys = 20000L

  /** Pairwise return-correlation matrix over all keys (fund-
    * comparison heatmap analog), as a blocked pair sweep: each key's
    * day-aligned return series becomes ONE sorted sparse vector, key
    * blocks cross-join, and a tight two-pointer merge per pair
    * computes the moment sums over the common days — the same shape
    * as the blocked-GEMM cosine sweep. The relational formulation
    * (self-join on day + corr aggregate) generates keys^2 x days
    * rows through the aggregate machinery; this one moves
    * O(keys x days) data and does the pair work in-register
    * (14s -> ~1s at sf0.1 with 1500 keys). Closed-form corr from
    * sums, identical expression in the oracle; round semantics
    * mirror Spark's round() (HALF_UP).
    *
    * Quadratic in KEYS by declared semantics — a bounded instrument
    * panel, not an open-ended key stream. The contract is enforced BY
    * DEFAULT at [[CorrMatrixDefaultMaxKeys]] keys (refuse loudly via
    * [[Guards.withPairKeyCap]] — 20k keys is already 2·10⁸ output
    * cells; a 100 TB key stream routed here should die on its first
    * block, not run O(keys²)): pass `exact = true` for a deliberately
    * larger panel, or set `graft.pairSweep.maxKeys`, which always
    * wins over the default. [[corrPairsBanded]] is the scale-default
    * twin for unbounded universes.
    */
  def correlationMatrix(df: DataFrame, blockSize: Int = 64, key: String = "user_id", ts: String = "ts", v: String = "value", exact: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // rets feeds the day grid, the vector build, and (transitively)
    // the guard's key count — materialize the window subtree once
    val rets = dailyCloseReturns(df, key, ts, v).materialize("TimeSeries.correlationMatrix.rets")
    // global day -> slot index (the day universe is tiny: one row per
    // calendar day, broadcast)
    val days = broadcast(rets.select(col("day")).distinct()
      .withColumn("slot", row_number().over(Window.orderBy("day")).cast("long") - 1))
    val vecs = rets.join(days, "day")
      .groupBy(col(key).as("k"))
      .agg(sort_array(collect_list(struct(col("slot"), col("ret")))).as("sv"))
      .select(col("k"),
        transform(col("sv"), s => s("slot")).as("slots"),
        transform(col("sv"), s => s("ret")).as("vals"))
      .withColumn("blk", (col("k") / blockSize).cast("long"))
    // blocks is keys/blockSize rows and self-joined below — without
    // materialization BOTH sides re-run the per-key collect_list
    // aggregate; the guard's key universe comes from the checkpointed
    // rets (same distinct key set as vecs, one cheap distinct instead
    // of a second aggregate pass). The guard wraps the frame BEFORE
    // the eager checkpoint so an over-cap key universe dies inside
    // the checkpoint job, not after materializing O(keys) state.
    val blocks = Guards.withPairKeyCap(
      vecs.groupBy("blk")
        .agg(collect_list(struct(col("k"), col("slots"), col("vals"))).as("vs")),
      rets.select(col(key).as("k")).distinct(), "correlationMatrix",
      defaultCap = if (exact) None else Some(CorrMatrixDefaultMaxKeys))
      .materialize("TimeSeries.correlationMatrix.blocks")
    val pairsOfBlocks = blocks.as("x")
      .join(blocks.as("y"), col("x.blk") <= col("y.blk"))
      .select(col("x.vs").as("avs"), col("y.vs").as("bvs"))
      .as[(Seq[SeriesVec], Seq[SeriesVec])]
    pairsOfBlocks.flatMap { case (avsSeq, bvsSeq) =>
      val avs = avsSeq.toArray
      val bvs = bvsSeq.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[CorrCell]
      var i = 0
      while (i < avs.length) {
        val a = avs(i)
        var j = 0
        while (j < bvs.length) {
          val b = bvs(j)
          if (a.k < b.k) {
            // two-pointer merge over the sorted slot lists: sums
            // accumulate in slot order, deterministically
            var (p, q)  = (0, 0)
            var n       = 0L
            var sx, sy, sxx, syy, sxy = 0.0
            while (p < a.slots.length && q < b.slots.length) {
              val (sa, sb) = (a.slots(p), b.slots(q))
              if (sa == sb) {
                val (x, y) = (a.vals(p), b.vals(q))
                n += 1; sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
                p += 1; q += 1
              } else if (sa < sb) p += 1
              else q += 1
            }
            val dx = n * sxx - sx * sx
            val dy = n * syy - sy * sy
            val c =
              if (n >= 2 && dx > 0 && dy > 0)
                Some(BigDecimal((n * sxy - sx * sy) / (math.sqrt(dx) * math.sqrt(dy)))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              else None
            out += CorrCell(a.k, b.k, c)
          }
          j += 1
        }
        i += 1
      }
      out
    }.toDF("ka", "kb", "corr_ret")
  }

  /** Point-to-point return between the first close at/after `start`
    * and the last close at/before `end` (3Y/5Y-return analog).
    */
  def periodReturn(df: DataFrame, start: String, end: String, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    df.filter(col(ts) >= lit(start).cast("timestamp") && col(ts) < lit(end).cast("timestamp"))
      .groupBy(col(key))
      .agg(
        when(min_by(col(v), col(ts)) =!= 0, max_by(col(v), col(ts)) / min_by(col(v), col(ts)) - 1)
          .as("period_return"))

  /** Benchmark-validation compliance panel (reference
    * fund_comp2.py:156-215 generate_benchmark_validation_data — the
    * correlation / R² / tracking-error / beta-stability test table,
    * computed from actual returns instead of scaffolded text): per
    * key vs the benchmark, each metric with its pass flag against the
    * reference's thresholds, plus the overall verdict. Same single
    * broadcast-benchmark join + one aggregate as [[alphaBeta]];
    * threshold comparisons run on UNROUNDED metrics (rounding is
    * display-only on these non-terminating moment statistics).
    */
  def benchmarkValidation(df: DataFrame, benchmarkKey: Long,
                          minCorr: Double = 0.8, minR2: Double = 0.75, maxTePct: Double = 4.0,
                          betaLo: Double = 0.8, betaHi: Double = 1.2,
                          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(df, key, ts, v)
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    val corrC = corr(col("ret"), col("bench_ret"))
    val betaC = when(var_samp(col("bench_ret")) =!= 0,
      covar_samp(col("ret"), col("bench_ret")) / var_samp(col("bench_ret")))
    val teC   = stddev_pop(col("ret") - col("bench_ret")) * math.sqrt(TradingDays) * 100
    rets
      .filter(col(key) =!= benchmarkKey)
      .join(bench, "day")
      .groupBy(col(key))
      .agg(
        round(corrC, 6).as("corr_test"),
        round(pow(corrC, 2), 6).as("r_squared"),
        round(teC, 6).as("tracking_error_pct"),
        round(betaC, 6).as("beta"),
        (corrC > minCorr).cast("int").as("corr_pass"),
        (pow(corrC, 2) > minR2).cast("int").as("r2_pass"),
        (teC < maxTePct).cast("int").as("te_pass"),
        (betaC >= betaLo && betaC <= betaHi).cast("int").as("beta_pass"),
        (corrC > minCorr && pow(corrC, 2) > minR2 && teC < maxTePct &&
          betaC >= betaLo && betaC <= betaHi).cast("int").as("all_pass"))
  }

  /** Historical Value-at-Risk as an EXACT order statistic: the
    * k-th worst daily return with k = ceil(alpha * n) — the
    * empirical-quantile VaR definition that needs no interpolation,
    * so the reported value is an actual observed return and
    * bit-identical in every engine (interpolated quantiles differ in
    * the last bit across implementations). One rank window on the
    * per-key shuffle; k and n ride along for auditability.
    */
  def varHistorical(df: DataFrame, alpha: Double = 0.05,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val wP = Window.partitionBy(key)
    dailyCloseReturns(df, key, ts, v)
      .withColumn("rn", row_number().over(wP.orderBy(col("ret").asc, col("day").asc)))
      .withColumn("n", count(lit(1)).over(wP))
      .filter(col("rn") === ceil(col("n") * alpha).cast("long"))
      .select(col(key), col("ret").as("var_ret"), col("rn").cast("long").as("k"), col("n"))
  }

  /** Conditional VaR / expected shortfall per key: the MEAN of the
    * worst α-tail of daily returns, beside the [[varHistorical]]
    * cut point — VaR says where the tail starts, CVaR says how bad
    * it is on average once crossed (the Basel/FRTB successor
    * measure, coherent where VaR is not). Same discrete order
    * statistic as VaR (k = ⌈n·α⌉, no interpolation formula to
    * disagree on); the tail mean folds floor-quantized micro-longs
    * so Σ is exact at any partition count, one IEEE chain out,
    * UNROUNDED. One (key, ret) sort shared by rank and count.
    */
  def cvar(df: DataFrame, alpha: Double = 0.05,
           key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val wP = Window.partitionBy(key)
    dailyCloseReturns(df, key, ts, v)
      .withColumn("rn", row_number().over(wP.orderBy(col("ret").asc, col("day").asc)))
      .withColumn("n", count(lit(1)).over(wP))
      .withColumn("k", ceil(col("n") * alpha).cast("long"))
      .filter(col("rn") <= col("k"))
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .groupBy(col(key))
      .agg(
        max(when(col("rn") === col("k"), col("ret"))).as("var_ret"),
        (sum(col("mk")).cast("double") / max(col("k")).cast("double") / 1000000.0).as("cvar"),
        max(col("k")).as("k"),
        max(col("n")).cast("long").as("n"))
  }

  /** Day-of-week return profile (calendar-effects panel): average
    * daily return and observation count per (key, weekday). Rounding
    * convention as [[metricsSummary]]: the mean is a non-terminating
    * moment statistic, rounded to 6dp. dow is 0=Sunday (the proven
    * cross-engine normalization from timeFeatures).
    */
  def dowReturns(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    dailyCloseReturns(df, key, ts, v)
      .groupBy(col(key), (dayofweek(col("day")) - 1).cast("long").as("dow"))
      .agg(round(avg(col("ret")), 6).as("avg_ret"), count(lit(1)).as("n_days"))

  /** Cross-sectional momentum rank (screener/leaderboard analog):
    * each key's trailing `lookback`-bar return on the daily-close
    * grid, ranked across keys WITHIN each day. Two shuffles by
    * design — the trailing return partitions by key, the rank
    * partitions by day; that axis flip is inherent to any
    * cross-sectional statistic. Returns are unrounded ratios of raw
    * close doubles (bit-identical across engines), so ranking on
    * them is stable; ties break by key.
    */
  def momentumRank(df: DataFrame, lookback: Int = 10, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val prev  = lag(col("close"), lookback).over(Window.partitionBy(key).orderBy("day"))
    val wRank = Window.partitionBy("day").orderBy(col("trail_ret").desc, col(key).asc)
    dailyClose(df, key, ts, v)
      .withColumn("trail_ret", when(prev =!= 0, col("close") / prev - 1))
      .filter(col("trail_ret").isNotNull)
      .withColumn("mom_rank", row_number().over(wRank).cast("long"))
      .select(col(key), col("day"), col("trail_ret"), col("mom_rank"))
  }

  /** Peer-relative performance panel (reference fund_comp2.py:227-374
    * generate_performance_data — the "Fund vs Benchmark vs Peer
    * Median + Peer Ranking XX/NN" table per period, computed from the
    * actual series instead of scaffolded text). `periods` is a tiny
    * (label, start, end) list — QTD/YTD/1Y/… buckets in production,
    * scaled to the data range in the tests; it rides the plan as a
    * broadcast literal, so tagging each event with its periods is a
    * narrow map (an event may land in several overlapping periods —
    * that multiplicity IS the panel's semantics).
    *
    * Per (period, key): the point-to-point return ([[periodReturn]]
    * semantics), the benchmark key's return (broadcast — one row per
    * period), the cross-sectional PEER median, and the key's rank
    * "k/N" among peers (ties by key). The median is deliberately the
    * average of the two middle order statistics rather than an
    * interpolating quantile: plain arithmetic on identical doubles is
    * bit-equal in every engine, where quantile interpolation formulas
    * can differ in the last bit. Returns are unrounded ratios of raw
    * doubles — bit-identical across engines — so ranking on them is
    * stable.
    *
    * Scale: one shuffle to the (period, key) grain (the period table
    * is broadcast), then the rank/median windows repartition by
    * period — the same cross-sectional axis flip as
    * [[momentumRank]]; the median join is one row per period,
    * broadcast. The peers/median/benchmark branches share the same
    * (period, key) aggregate subtree, so AQE's exchange reuse runs
    * the fact scan + aggregate once at runtime (the benchmark branch
    * scans only its pushed-down single-key slice).
    */
  def peerPerformance(df: DataFrame, periods: Seq[(String, String, String)], benchmarkKey: Long = 0L,
                      key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pdf = broadcast(periods.toDF("period", "p_start", "p_end")
      .select(col("period"),
        col("p_start").cast("timestamp").as("p_start"),
        col("p_end").cast("timestamp").as("p_end")))
    val rets = df
      .join(pdf, col(ts) >= col("p_start") && col(ts) < col("p_end"))
      .groupBy(col("period"), col(key))
      .agg(when(min_by(col(v), col(ts)) =!= 0,
        max_by(col(v), col(ts)) / min_by(col(v), col(ts)) - 1).as("period_return"))
      .filter(col("period_return").isNotNull)
    val bench = broadcast(rets.filter(col(key) === benchmarkKey)
      .select(col("period"), col("period_return").as("bench_return")))
    val peers = rets.filter(col(key) =!= benchmarkKey)
    val wP    = Window.partitionBy("period")
    // two-middle-order-statistics median: rows floor((n+1)/2) and
    // floor(n/2)+1 of the ascending sort (the same row twice for odd
    // n) — avg of one or two doubles, no interpolation formula
    val med = broadcast(peers
      .withColumn("rna", row_number().over(wP.orderBy(col("period_return").asc, col(key).asc)))
      .withColumn("n", count(lit(1)).over(wP))
      .filter(col("rna") === floor((col("n") + 1) / 2.0).cast("long") ||
        col("rna") === floor(col("n") / 2.0).cast("long") + 1)
      .groupBy("period").agg(avg("period_return").as("peer_median")))
    peers
      .withColumn("peer_rank", row_number().over(
        wP.orderBy(col("period_return").desc, col(key).asc)).cast("long"))
      .withColumn("n_peers", count(lit(1)).over(wP))
      .join(med, "period")
      .join(bench, Seq("period"), "left")
      .select(col("period"), col(key), col("period_return"), col("bench_return"),
        col("peer_median"), col("peer_rank"),
        concat(col("peer_rank").cast("string"), lit("/"), col("n_peers").cast("string"))
          .as("peer_ranking"))
  }

  /** Risk-snapshot panel (the SECOND table of reference
    * fund_comp2.py:227-374 generate_performance_data: Standard
    * Deviation / Sharpe / Max Drawdown / Beta / Alpha, each as fund
    * vs benchmark vs peer median — computed from the series instead
    * of scaffolded text). Long output: one row per (metric, key)
    * with the fund's value, the benchmark's value, and the
    * cross-sectional peer median.
    *
    * The metric formulas are exactly [[metricsSummary]] /
    * [[maxDrawdown]] / [[alphaBeta]]'s; the benchmark's beta and
    * alpha are BY DEFINITION 1 and 0 (as in the reference table) —
    * computing cov(x,x)/var(x) numerically would land within 1e-15
    * of 1 but is not guaranteed bit-equal across engines, while the
    * definition is. The peer median is the two-middle-order-
    * statistics average over ROUNDED metric values (same rationale
    * as [[peerPerformance]]); rows whose metric is undefined
    * (zero-variance guards) are dropped before the median.
    *
    * Scale: one per-key aggregate for vol/sharpe, one for drawdown
    * (both on the same key shuffle), the benchmark day-series
    * broadcast for beta/alpha, then a 5-metric unpivot and a
    * per-metric median window over one row per key — trivially
    * small next to the fact scans that fed it.
    */
  def riskSnapshot(df: DataFrame, benchmarkKey: Long,
                   key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    // rets feeds THREE subtrees (bench broadcast, vol/sharpe base,
    // beta/alpha) and wide feeds two more (funds, benchLong), funds
    // another two (median window, output) — unmaterialized, the
    // daily-close window aggregate evaluated ~9x and the maxDrawdown
    // full-events window ~3x (the sf0.1 plan was 989 lines of
    // repeated subtrees). Both checkpoints sit on BOUNDED frames:
    // rets is one row per (key, day) — the corr family's checkpointed
    // grain — and wide is one row per key.
    val rets  = dailyCloseReturns(df, key, ts, v).materialize("TimeSeries.riskSnapshot.rets")
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    val volC = stddev_samp(col("ret")) * math.sqrt(TradingDays)
    val base = rets.groupBy(col(key)).agg(
      round(volC, 6).as("volatility"),
      round(when(stddev_samp(col("ret")) =!= 0, (avg("ret") * TradingDays) / volC), 6).as("sharpe"))
    val mdd = maxDrawdown(df, key, ts, v)
    val ab = rets.filter(col(key) =!= benchmarkKey).join(bench, "day").groupBy(col(key)).agg(
      round(when(var_samp(col("bench_ret")) =!= 0,
        covar_samp(col("ret"), col("bench_ret")) / var_samp(col("bench_ret"))), 6).as("beta"),
      round(when(var_samp(col("bench_ret")) =!= 0,
        (avg(col("ret")) - covar_samp(col("ret"), col("bench_ret")) / var_samp(col("bench_ret")) * avg(col("bench_ret"))) * TradingDays),
        6).as("alpha"))
    val wide  = base.join(mdd, Seq(key)).join(ab, Seq(key), "left").materialize("TimeSeries.riskSnapshot.wide")
    val funds = wide.filter(col(key) =!= benchmarkKey).select(col(key), expr(
      "stack(5, 'alpha', alpha, 'beta', beta, 'max_drawdown', max_drawdown, " +
        "'sharpe', sharpe, 'volatility', volatility) AS (metric, fund_value)"))
      .filter(col("fund_value").isNotNull)
    val benchLong = broadcast(wide.filter(col(key) === benchmarkKey).select(expr(
      "stack(5, 'alpha', CAST(0.0 AS DOUBLE), 'beta', CAST(1.0 AS DOUBLE), " +
        "'max_drawdown', max_drawdown, 'sharpe', sharpe, 'volatility', volatility) AS (metric, bench_value)")))
    val wM = Window.partitionBy("metric")
    val med = broadcast(funds
      .withColumn("rna", row_number().over(wM.orderBy(col("fund_value").asc, col(key).asc)))
      .withColumn("n", count(lit(1)).over(wM))
      .filter(col("rna") === floor((col("n") + 1) / 2.0).cast("long") ||
        col("rna") === floor(col("n") / 2.0).cast("long") + 1)
      .groupBy("metric").agg(avg("fund_value").as("peer_median")))
    funds
      .join(benchLong, Seq("metric"), "left")
      .join(med, "metric")
      .select(col("metric"), col(key), col("fund_value"), col("bench_value"), col("peer_median"))
  }

  /** Key-indicator trend panel (reference fund_comp2.py:446-521
    * generate_key_indicator_trends — the quarter-over-quarter
    * indicator table with ↑/↓/→ trend arrows and a threshold alert,
    * computed from the events instead of scaffolded text). Bars are
    * `truncUnit` grain (quarter in production; the one-month test
    * fixture uses week so the panel has real bar-over-bar deltas —
    * same code path, spec-covered at quarter grain). Indicators per
    * (key, bar): `nav` (average level — net-assets analog),
    * `volume` (total traded volume off the JSON props — turnover
    * analog), `volatility` (sample std of the level — risk analog).
    *
    * Determinism: nav is a ratio of an exact DECIMAL sum and a
    * count — bit-identical everywhere, so its bar-over-bar delta and
    * trend comparisons are too; volume is integral; volatility is a
    * non-terminating moment statistic, rounded to 6dp BEFORE the
    * delta/alert comparisons so both engines compare identical
    * doubles. Trend is up/down/flat on the delta sign (NULL for a
    * key's first bar); the alert classifies volatility against
    * (volLo, volHi].
    *
    * Scale: one shuffle to the (key, bar) grain, then the lag
    * windows ride a key-partition — bars per key are few (one row
    * per quarter), so the window state is trivially bounded.
    */
  def indicatorTrends(df: DataFrame, truncUnit: String = "quarter",
                      volLo: Double = 1000.0, volHi: Double = 2000.0,
                      key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val Money = org.apache.spark.sql.types.DecimalType(18, 2)
    val vol   = get_json_object(col("props"), "$.k").cast("long")
    val wKey  = Window.partitionBy(key).orderBy("bar_start")
    def trend(d: Column): Column =
      when(d.isNull, lit(null).cast("string"))
        .when(d > 0, "up").when(d < 0, "down").otherwise("flat")
    val bars = df
      .withColumn("vol", vol)
      .groupBy(col(key), date_trunc(truncUnit, col(ts)).as("bar_start"))
      .agg(
        (sum(col(v).cast(Money)).cast("double") / count(col(v)).cast("double")).as("nav"),
        sum(col("vol")).as("volume"),
        round(stddev_samp(col(v)), 6).as("volatility"))
    bars
      .withColumn("d_nav", col("nav") - lag(col("nav"), 1).over(wKey))
      .withColumn("d_volume", col("volume") - lag(col("volume"), 1).over(wKey))
      .select(col(key), col("bar_start"),
        col("nav"), col("d_nav"), trend(col("d_nav")).as("nav_trend"),
        col("volume"), col("d_volume"), trend(col("d_volume")).as("volume_trend"),
        col("volatility"),
        when(col("volatility") > volHi, "red")
          .when(col("volatility") > volLo, "yellow").otherwise("green").as("alert"))
  }

  /** Daily VWAP per key (OHLCV volume-weighted average price; volume
    * rides the events' JSON props like jsonExtractAgg). Determinism:
    * price carries <=2dp and volume is integral, so both the
    * turnover sum (DECIMAL price x volume) and the volume sum are
    * exact and order-independent; VWAP is a ratio of two exact
    * doubles and is emitted UNROUNDED — the quotient is already
    * bit-deterministic, and 6-dp rounding would reintroduce
    * engine skew because decimal/integer quotients often terminate
    * exactly on the tie digit (x.xxx0625), where Spark rounds the
    * decimal string and other engines round the binary double.
    * One groupBy — same single shuffle as the OHLC bar.
    */
  def vwap(events: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val Money = org.apache.spark.sql.types.DecimalType(18, 2)
    // volume as DECIMAL(14,0), NOT long: a long promotes to
    // DECIMAL(20,0) and (18,2)x(20,0) overflows precision 38, where
    // Spark reduces scale (precision loss rounds the products) —
    // (18,2)x(14,0) stays exact at DECIMAL(33,2) in every engine.
    // Width 14 (not 10): a daily volume >= 1e10 would overflow a
    // (10,0) cast to NULL (non-ANSI), silently dropping the row from
    // the turnover numerator while sum(vol) still counted it
    val Vol = org.apache.spark.sql.types.DecimalType(14, 0)
    val vol = get_json_object(col("props"), "$.k").cast("long")
    events
      .withColumn("vol", vol)
      .filter(col("vol").isNotNull && col("vol") > 0)
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(
        sum(col("vol")).as("volume"),
        (sum(col(v).cast(Money) * col("vol").cast(Vol)).cast("double") / sum(col("vol")).cast("double")).as("vwap"))
  }

  /** Information ratio vs a benchmark key: annualized mean active
    * return over annualized tracking error (sample std of the active
    * return). Same broadcast-benchmark join as [[trackingError]] —
    * the fact side never reshuffles.
    */
  def informationRatio(df: DataFrame, benchmarkKey: Long, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(df, key, ts, v)
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    val active = col("ret") - col("bench_ret")
    rets
      .filter(col(key) =!= benchmarkKey)
      .join(bench, "day")
      .groupBy(col(key))
      .agg(round(
        when(stddev_samp(active) =!= 0,
          (avg(active) * TradingDays) / (stddev_samp(active) * math.sqrt(TradingDays))),
        6).as("info_ratio"))
  }

  /** Dividend-yield analog: total flow of one event kind over the
    * latest observed level, as a percentage.
    */
  def yieldRatio(df: DataFrame, flowType: String, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val Money   = org.apache.spark.sql.types.DecimalType(18, 2)
    val flowSum = coalesce(
      sum(when(col("event_type") === flowType, col(v)).cast(Money)).cast("double"), lit(0.0))
    df.groupBy(col(key))
      .agg(
        when(max_by(col(v), col(ts)) =!= 0, flowSum / max_by(col(v), col(ts)) * 100)
          .as("yield_pct")
      )
  }

  /** Stochastic oscillator %K/%D on daily OHLC bars (the classic
    * momentum companion of RSI/MACD on the reference's indicator
    * chart family, app.py:470-475): %K = 100 * (close - min(low, n))
    * / (max(high, n) - min(low, n)), %D = SMA(dN) of %K. One bar
    * aggregate plus two window passes over the SAME (key, bar_start)
    * ordering — Spark plans one shuffle and reuses the sort; at 100
    * TB the per-key stage is a single exchange, like every operator
    * in this module. Determinism: min/max pick existing doubles,
    * %K is one subtraction-division chain, %D averages <= dN %K
    * doubles in frame order — the [[sma]]/[[bollinger]] recipe. A
    * flat window (high == low) has no defined %K — null, guarded so
    * ANSI mode never throws.
    */
  def stochastic(events: DataFrame, n: Int = 14, dN: Int = 3,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1 && dN >= 1, s"window sizes must be positive: n=$n, dN=$dN")
    val bars  = Relational.ohlcResample(events)
    val w     = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    val wD    = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(dN - 1), 0)
    val lowN  = min(col("low")).over(w)
    val highN = max(col("high")).over(w)
    val k     = when(highN =!= lowN, (col("close") - lowN) / (highN - lowN) * 100)
    bars
      .withColumn("pct_k", k)
      .withColumn("pct_d", avg(col("pct_k")).over(wD))
      .select(col(key), col("bar_start"),
        round(col("pct_k"), 6).as("pct_k"), round(col("pct_d"), 6).as("pct_d"))
  }

  /** Average True Range (n-bar SMA variant) on daily OHLC bars:
    * TR_t = greatest(high-low, |high-prevClose|, |low-prevClose|)
    * (first bar: high-low — no previous close), ATR = SMA(n) of TR.
    * Wilder's exponential smoothing is [[ema]] with span 2n-1 on the
    * same tr column; the SMA variant keeps the oracle windowed and
    * exact. Same one-shuffle shape and float recipe as
    * [[stochastic]].
    */
  def atr(events: DataFrame, n: Int = 14,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"window size must be positive: n=$n")
    val bars  = Relational.ohlcResample(events)
    val wSeq  = Window.partitionBy(key).orderBy("bar_start")
    val wN    = wSeq.rowsBetween(-(n - 1), 0)
    val prevC = lag(col("close"), 1).over(wSeq)
    val tr = when(prevC.isNull, col("high") - col("low"))
      .otherwise(greatest(
        col("high") - col("low"),
        abs(col("high") - prevC),
        abs(col("low") - prevC)))
    bars
      .withColumn("tr", tr)
      .withColumn("atr", avg(col("tr")).over(wN))
      .select(col(key), col("bar_start"),
        round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr"))
  }

  /** On-Balance Volume on daily close/volume bars: OBV_t =
    * OBV_{t-1} + sign(close_t - close_{t-1}) * volume_t (first bar
    * contributes 0, the pandas-ta convention). Volume is the daily
    * sum of the events' JSON props `k` field, the [[vwap]] source.
    * ALL-INTEGER: sign is {-1,0,1} as a long, volume a long, OBV a
    * running long sum — bit-identical on any engine, any partition
    * count, no float anywhere. One bar aggregate + two windows on
    * one per-key sort.
    */
  def obv(events: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val vol  = get_json_object(col("props"), "$.k").cast("long")
    val bars = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
    // the signed increment materializes BEFORE the running sum —
    // window functions cannot nest — but both windows share one
    // (key, day) sort, so Spark still plans a single shuffle
    val wSeq  = Window.partitionBy(key).orderBy("day")
    val prevC = lag(col("close"), 1).over(wSeq)
    bars
      .withColumn("sv",
        when(prevC.isNull, lit(0L))
          .otherwise(signum(col("close") - prevC).cast("long") * col("volume")))
      .withColumn("obv", sum(col("sv")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(key), col("day"), col("close"), col("volume"), col("obv"))
  }

  /** Donchian channel on daily OHLC bars: upper = n-bar rolling max
    * of high, lower = n-bar rolling min of low, mid their midpoint,
    * plus breakout flags against the PREVIOUS bar's channel (close
    * above yesterday's upper / below yesterday's lower — comparing
    * against the current bar's channel can never signal, since close
    * <= high <= upper). Max/min are exact (no float accumulation at
    * all); mid is one add + one divide. Same one-shuffle window
    * shape as [[stochastic]].
    */
  def donchian(events: DataFrame, n: Int = 20,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"window size must be positive: n=$n")
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val wN   = wSeq.rowsBetween(-(n - 1), 0)
    bars
      .withColumn("upper", max(col("high")).over(wN))
      .withColumn("lower", min(col("low")).over(wN))
      .withColumn("prev_upper", lag(col("upper"), 1).over(wSeq))
      .withColumn("prev_lower", lag(col("lower"), 1).over(wSeq))
      .select(col(key), col("bar_start"),
        col("upper"), col("lower"),
        round((col("upper") + col("lower")) / 2, 6).as("mid"),
        coalesce(col("close") > col("prev_upper"), lit(false)).as("breakout_up"),
        coalesce(col("close") < col("prev_lower"), lit(false)).as("breakout_down"))
  }

  /** Chaikin Money Flow on daily OHLC+volume bars: per bar the money
    * flow multiplier ((close-low)-(high-close))/(high-low) (0 on a
    * flat bar, the pandas-ta convention), weighted by volume; CMF =
    * rolling-n sum of money-flow volume over rolling-n sum of
    * volume. Volume is the daily sum of the events' JSON props `k`
    * field (the [[vwap]]/[[obv]] source, exact longs); the two
    * rolling sums accumulate <= n doubles/longs in frame order —
    * the [[sma]] determinism recipe — and divide once.
    */
  def cmf(events: DataFrame, n: Int = 20,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"window size must be positive: n=$n")
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val bars = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(
        max(col(v)).as("high"), min(col(v)).as("low"),
        max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
    val wN  = Window.partitionBy(key).orderBy("day").rowsBetween(-(n - 1), 0)
    val mfm = when(col("high") =!= col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) / (col("high") - col("low")))
      .otherwise(lit(0.0))
    bars
      .withColumn("mfv", mfm * col("volume").cast("double"))
      .withColumn("cmf",
        when(sum(col("volume")).over(wN) =!= 0L,
          sum(col("mfv")).over(wN) / sum(col("volume")).over(wN).cast("double")))
      .select(col(key), col("day"), col("volume"),
        // + 0.0 canonicalizes IEEE -0.0 to +0.0 (identity otherwise):
        // zero-volume bars yield mfm * 0.0 = -0.0 when mfm < 0, and the
        // driver's byte-level hash distinguishes the two zeros.
        (round(col("mfv"), 6) + lit(0.0)).as("mfv"),
        (round(col("cmf"), 6) + lit(0.0)).as("cmf"))
  }

  /** Parkinson range volatility per key: sqrt( sum(ln(high/low)^2) /
    * (4 ln 2 * n) ) over the key's daily bars — the high-low
    * estimator that sees intraday range where close-to-close
    * volatility can't. Flat bars contribute ln(1)^2 = 0; bars are
    * first reduced per (key, day) — exact min/max — then one per-key
    * aggregate of bounded per-day doubles (the [[metricsSummary]]
    * float recipe, 6dp both engines).
    */
  def parkinsonVol(events: DataFrame,
                   key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val bars = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max(col(v)).as("high"), min(col(v)).as("low"))
    val x = pow(log(col("high") / col("low")), 2)
    bars
      .filter(col("low") > 0)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_bars"),
        round(sqrt(sum(x) / (lit(4.0) * lit(math.log(2.0)) * count(lit(1)))), 6)
          .as("parkinson_vol"))
  }

  /** Williams %R(n) on daily OHLC bars: -100 * (highestHigh - close)
    * / (highestHigh - lowestLow) over the trailing n bars — the
    * inverted [[stochastic]] %K (%R = %K - 100), kept as its own
    * operator because chart conventions treat the -100..0 scale as a
    * distinct signal. Rolling max/min are exact; one IEEE chain per
    * row; flat windows (high == low across all n bars) are null, the
    * same guard as stochastic. One (key, bar) shuffle.
    */
  def williamsR(events: DataFrame, n: Int = 14,
                key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"window size must be positive: n=$n")
    val bars  = Relational.ohlcResample(events)
    val w     = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    val lowN  = min(col("low")).over(w)
    val highN = max(col("high")).over(w)
    bars
      .withColumn("pct_r",
        when(highN =!= lowN, (highN - col("close")) / (highN - lowN) * -100))
      // + 0.0 canonicalizes IEEE -0.0 (close == highestHigh rows) to
      // +0.0; byte-level hashes distinguish the two zeros.
      .select(col(key), col("bar_start"),
        (round(col("pct_r"), 6) + lit(0.0)).as("pct_r"))
  }

  /** Money Flow Index MFI(n) on daily OHLC+volume bars — the
    * volume-weighted RSI: typical price tp = (h+l+c)/3, raw money
    * flow = tp * volume, split positive/negative by tp vs the
    * previous bar's tp (equal tp contributes to neither, the
    * pandas-ta convention), MFI = 100 * posSum / (posSum + negSum)
    * over the trailing n bars (null when both sums are zero; the
    * ratio form avoids the 100-100/(1+RS) divide-by-zero split).
    * Volume is the daily sum of the events' JSON props `k` field —
    * exact longs, the [[vwap]]/[[obv]]/[[cmf]] source. The two
    * rolling sums accumulate <= n doubles in frame order (the
    * [[sma]] determinism recipe) and divide once. One shuffle: the
    * bar aggregate and both windows share the (key, day) sort.
    */
  def mfi(events: DataFrame, n: Int = 14,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"window size must be positive: n=$n")
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val bars = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(
        max(col(v)).as("high"), min(col(v)).as("low"),
        max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
    val wSeq = Window.partitionBy(key).orderBy("day")
    val wN   = wSeq.rowsBetween(-(n - 1), 0)
    val tp   = (col("high") + col("low") + col("close")) / 3
    val withFlows = bars
      .withColumn("tp", tp)
      .withColumn("prev_tp", lag(col("tp"), 1).over(wSeq))
      .withColumn("pos_mf",
        when(col("prev_tp").isNotNull && col("tp") > col("prev_tp"),
          col("tp") * col("volume").cast("double")).otherwise(lit(0.0)))
      .withColumn("neg_mf",
        when(col("prev_tp").isNotNull && col("tp") < col("prev_tp"),
          col("tp") * col("volume").cast("double")).otherwise(lit(0.0)))
    val posN = sum(col("pos_mf")).over(wN)
    val negN = sum(col("neg_mf")).over(wN)
    withFlows
      .withColumn("mfi",
        when(posN + negN =!= 0.0, lit(100.0) * posN / (posN + negN)))
      .select(col(key), col("day"), col("volume"),
        round(col("tp"), 6).as("tp"), round(col("mfi"), 6).as("mfi"))
  }

  /** Autocorrelation function per key: Pearson correlation of the
    * daily-close return series with itself at lags 1..`maxLag`
    * (serial dependence / momentum-vs-mean-reversion profiling; the
    * Ljung–Box inputs). All lag columns materialize on ONE per-key
    * window sort; the lag axis then unpivots via an inline stack so
    * the corr aggregate runs per (key, lag) — rows never duplicate
    * maxLag times before the window. corr is a single-pass moment
    * aggregate over per-key bounded groups → 6dp (the
    * [[rollingStats]] float recipe); n_pairs counts the non-null
    * overlap so the reader can judge significance (|acf| ~ 2/sqrt(n)).
    */
  def acf(df: DataFrame, maxLag: Int = 5,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(maxLag >= 1, s"maxLag must be positive: $maxLag")
    val rets = dailyCloseReturns(df, key, ts, v)
    val wSeq = Window.partitionBy(key).orderBy("day")
    val withLags = (1 to maxLag).foldLeft(rets) { (acc, l) =>
      acc.withColumn(s"lag_$l", lag(col("ret"), l).over(wSeq))
    }
    val stacked = withLags.select(
      col(key), col("ret"),
      posexplode(array((1 to maxLag).map(l => col(s"lag_$l")): _*)).as(Seq("lag0", "ret_lag")))
    stacked
      .filter(col("ret_lag").isNotNull)
      .groupBy(col(key), (col("lag0") + 1).cast("long").as("lag_k"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(when(var_samp(col("ret")) =!= 0 && var_samp(col("ret_lag")) =!= 0,
          corr(col("ret"), col("ret_lag"))), 6).as("acf"))
  }

  /** Keltner channel on daily OHLC bars: midline = EMA(`emaSpan`,
    * adjust=False) of the typical price (h+l+c)/3, bands = midline
    * ± `mult` * ATR(`atrN`) (SMA true-range variant, [[atr]]'s
    * definition). Demonstrates indicator COMPOSITION on one shuffle:
    * the bar aggregate, the EMA closed form (the [[macd]] in-line
    * recipe, output wrapped in [[closedFormGuard]]), the tr lag and
    * the rolling ATR all share the single (key, bar) sort. Bands
    * compose unrounded and round once at the output, the oracle's
    * arithmetic exactly.
    */
  def keltner(events: DataFrame, emaSpan: Int = 20, atrN: Int = 10, mult: Double = 2.0,
              key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(emaSpan >= 1 && atrN >= 1, s"spans must be positive: emaSpan=$emaSpan, atrN=$atrN")
    val a    = 2.0 / (emaSpan + 1)
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val wRun = Window.partitionBy(key).orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    val wN   = wSeq.rowsBetween(-(atrN - 1), 0)
    val prevC = lag(col("close"), 1).over(wSeq)
    val tr = when(prevC.isNull, col("high") - col("low"))
      .otherwise(greatest(
        col("high") - col("low"),
        abs(col("high") - prevC),
        abs(col("low") - prevC)))
    bars
      .withColumn("tp", (col("high") + col("low") + col("close")) / 3)
      .withColumn("rn", row_number().over(wSeq) - 1)
      .withColumn("g",
        when(col("rn") === 0, col("tp")).otherwise(lit(a) * col("tp") * pow(lit(1 - a), -col("rn"))))
      .withColumn("mid", pow(lit(1 - a), col("rn")) * sum(col("g")).over(wRun))
      .withColumn("tr", tr)
      .withColumn("atr", avg(col("tr")).over(wN))
      .select(col(key), col("bar_start"),
        closedFormGuard(round(col("mid"), 6), a).as("mid"),
        closedFormGuard(round(col("mid") + lit(mult) * col("atr"), 6), a).as("upper"),
        closedFormGuard(round(col("mid") - lit(mult) * col("atr"), 6), a).as("lower"))
  }

  /** Calmar ratio per key: annualized mean return over the absolute
    * maximum drawdown — the risk-adjusted metric the fund panels
    * quote beside Sharpe. The return moment and the drawdown both
    * derive from the SAME per-key daily-close shuffle (the running-
    * max window and the aggregate share one sort); null when the key
    * never draws down. Per-key bounded float aggregates → 6dp.
    */
  def calmar(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val closes = dailyClose(df, key, ts, v)
    val wSeq   = Window.partitionBy(key).orderBy("day")
    val prev   = lag(col("close"), 1).over(wSeq)
    val runMax = max(col("close")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0))
    closes
      .withColumn("ret", when(prev =!= 0, col("close") / prev - 1))
      .withColumn("dd", col("close") / runMax - 1)
      .groupBy(col(key))
      .agg(
        round(avg(col("ret")) * TradingDays, 6).as("ann_return"),
        round(min(col("dd")), 6).as("max_drawdown"),
        round(when(min(col("dd")) =!= 0.0,
          avg(col("ret")) * TradingDays / -min(col("dd"))), 6).as("calmar"))
  }

  /** Ulcer index per key: sqrt of the mean squared percent drawdown
    * over the daily-close series — penalizes DEPTH and DURATION of
    * drawdowns where max-drawdown only sees the worst point. One
    * running-max window + one aggregate on the same per-key sort;
    * 6dp bounded-group floats.
    */
  def ulcerIndex(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val closes = dailyClose(df, key, ts, v)
    val wSeq   = Window.partitionBy(key).orderBy("day")
    val runMax = max(col("close")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0))
    closes
      .withColumn("dd_pct", (col("close") / runMax - 1) * 100)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_days"),
        round(min(col("dd_pct")), 6).as("worst_dd_pct"),
        round(sqrt(avg(col("dd_pct") * col("dd_pct"))), 6).as("ulcer_index"))
  }

  /** CUSUM changepoint statistic per key: the running sum of
    * mean-centered daily returns, reported as the day where |S_t|
    * peaks and the peak magnitude — the classic single-changepoint
    * locator (a level shift in returns makes |S| a tent peaking at
    * the shift). The per-key mean, the running sum, and the argmax
    * both ride one (key, day) sort after the mean joins back
    * co-partitioned. The mean anchors at 6 dp from its own aggregate
    * (a whole-partition window avg would accumulate in
    * partition-internal row order — run-nondeterministic); the
    * cumsum then folds the centered returns in frame order (the sma
    * determinism recipe), so every S_t is bit-identical on both
    * engines and the argmax needs only the day tiebreak.
    */
  def cusum(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = dailyCloseReturns(df, key, ts, v)
    val mu = rets.groupBy(col(key))
      .agg(round(avg(col("ret")), 6).as("mu"), count(lit(1)).as("n_days"))
    val wSeq = Window.partitionBy(key).orderBy("day")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    val scored = rets.join(mu, key)
      .withColumn("s", sum(col("ret") - col("mu")).over(wRun))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(key).orderBy(abs(col("s")).desc, col("day").asc)))
    scored
      .filter(col("rnk") === 1)
      .select(col(key),
        date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        round(abs(col("s")), 6).as("cusum_stat"),
        col("n_days"))
  }

  /** Per-key linear trend: OLS of daily close on the 0-based day
    * index (slope = price drift per trading day, r² = how linear the
    * path is — the momentum-screen primitive). The index comes from
    * the same (key, day) sort the regression aggregate then reuses;
    * regr_* are single-pass moment aggregates over per-key bounded
    * groups → 6dp (the rollingStats float recipe).
    */
  def linearTrend(df: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val closes = dailyClose(df, key, ts, v)
    val wSeq   = Window.partitionBy(key).orderBy("day")
    closes
      .withColumn("idx", (row_number().over(wSeq) - 1).cast("double"))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_days"),
        round(regr_slope(col("close"), col("idx")), 6).as("slope"),
        round(regr_intercept(col("close"), col("idx")), 6).as("intercept"),
        round(regr_r2(col("close"), col("idx")), 6).as("r2"))
  }

  /** Omega ratio per key at a return threshold (default 0): the
    * probability-weighted gains above the threshold over the losses
    * below it, Σmax(r−θ,0) / Σmax(θ−r,0) — uses the WHOLE return
    * distribution where Sharpe collapses it to two moments. One
    * conditional aggregate on the per-key daily-return shuffle; null
    * when there are no sub-threshold returns (the ratio diverges).
    * 6dp bounded-group floats.
    */
  def omegaRatio(df: DataFrame, threshold: Double = 0.0,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame =
    dailyCloseReturns(df, key, ts, v)
      .groupBy(col(key))
      .agg(
        round(sum(greatest(col("ret") - threshold, lit(0.0))), 6).as("gain_sum"),
        round(sum(greatest(lit(threshold) - col("ret"), lit(0.0))), 6).as("loss_sum"),
        round(when(sum(greatest(lit(threshold) - col("ret"), lit(0.0))) =!= 0.0,
          sum(greatest(col("ret") - threshold, lit(0.0))) /
            sum(greatest(lit(threshold) - col("ret"), lit(0.0)))), 6).as("omega"))

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise
    * slopes (close_j − close_i)/(j − i) over the daily index — the
    * slope estimator with a 29% breakdown point, where [[linearTrend]]'s
    * OLS line chases any single bad print. DECLARED BOUNDED-GROUP
    * QUADRATIC: the pair space is days²/2 PER KEY, generated by a
    * co-partitioned self-join of the bar frame on the key — days per
    * key is calendar-bounded (a decade is ~2.5k bars ⇒ ~3M pairs per
    * key, embarrassingly parallel across keys), never corpus-bounded,
    * which is why this quadratic needs no banded twin. Slopes are one
    * IEEE division per pair; the median is the exact interpolating
    * percentile both engines share; 6dp.
    */
  def theilSen(events: DataFrame, key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val wSeq = Window.partitionBy(key).orderBy("day")
    // dc feeds BOTH sides of the self-join — unmaterialized, the
    // daily-close aggregate + rank window ran once per side; one slim
    // materialization runs it once (guide §1.2 remove passes)
    val dc = dailyClose(events, key, ts, v)
      .withColumn("idx", (row_number().over(wSeq) - 1).cast("double"))
      .select(col(key), col("idx"), col("close"))
      .materialize("TimeSeries.theilSen.dc")
    val a = dc.select(col(key), col("idx").as("ia"), col("close").as("ca"))
    val b = dc.select(col(key), col("idx").as("ib"), col("close").as("cb"))
    a.join(b, Seq(key)).filter(col("ib") > col("ia"))
      .withColumn("slope", (col("cb") - col("ca")) / (col("ib") - col("ia")))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_pairs"),
        // + 0.0 canonicalizes a -0.0 median slope (flat series
        // interpolating across a sign boundary) to +0.0
        (round(percentile(col("slope"), lit(0.5)), 6) + lit(0.0)).as("ts_slope"))
  }

  /** Additive seasonal decomposition per (key, day) — STL-lite:
    * trend = centered 7-day moving average (full windows only),
    * seasonal = per-weekday mean of the detrended series, residual =
    * what neither explains. The what's-actually-happening view behind
    * any weekly-patterned series (is Monday really down, or is the
    * trend?). One (key, day) sort carries the window; the weekday
    * means aggregate a BOUNDED group (weeks per key is calendar-
    * bounded) and join back co-partitioned on (key, dow).
    *
    * Determinism is EXACT-DECIMAL-until-one-division, not rounding:
    * 2-dp closes quantize to DECIMAL(18,6), the trend window sums
    * decimals (order-independent), and the detrended series is kept
    * SCALED BY 7 (det7 = 7·close − Σ₇close — still an exact decimal)
    * so the weekday aggregate also sums exact decimals. Each output
    * (trend, seasonal, det, residual) is then ONE IEEE operation
    * over bit-identical operands — 6-dp rounding is deliberately
    * absent, because these terminating-decimal quotients land ON
    * rounding half-boundaries where the engines' round() disagree
    * (sum-of-6dp over n∈{2,4,5} hits ...5e-7 exactly; measured 0.15%
    * of rows before this recipe). Edge days (incomplete window)
    * carry null trend/residual by contract, not a shrinking-window
    * estimate.
    */
  def seasonalDecompose(events: DataFrame,
                        key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val w7  = Window.partitionBy(key).orderBy("day").rowsBetween(-3, 3)
    val t = dailyClose(events, key, ts, v)
      .withColumn("cl", col("close").cast(dec))
      .withColumn("c7", count(lit(1)).over(w7))
      .withColumn("sum7", sum(col("cl")).over(w7))
      .withColumn("det7", when(col("c7") === 7, lit(7) * col("cl") - col("sum7")))
      .withColumn("dow", dayofweek(col("day")))
    val s = t.filter(col("det7").isNotNull)
      .groupBy(col(key), col("dow"))
      .agg(sum(col("det7")).as("s7"), count(lit(1)).as("n_dow"))
    t.join(s, Seq(key, "dow"), "left")
      .select(col(key), col("day"), col("close"),
        when(col("c7") === 7, col("sum7").cast("double") / 7.0).as("trend"),
        (col("s7").cast("double") / (lit(7.0) * col("n_dow").cast("double"))).as("seasonal"),
        (col("det7").cast("double") / 7.0 -
          col("s7").cast("double") / (lit(7.0) * col("n_dow").cast("double"))).as("residual"))
  }

  /** Lo–MacKinlay variance ratio per key: Var(k-day log return) /
    * (k · Var(1-day log return)) over overlapping windows — the
    * random-walk diagnostic (VR ≈ 1 under a random walk, < 1 mean
    * reversion, > 1 momentum) that decides whether [[sma]]-style
    * trend signals can work on a series at all. Both return series
    * come off ONE (key, day) sort (two lag frames of the same
    * window); variances are single-pass moment aggregates over
    * bounded per-key groups, ratio one division at 6dp. Closes > 0
    * guard the logs.
    */
  def varianceRatio(events: DataFrame, k: Int = 5,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val wSeq  = Window.partitionBy(key).orderBy("day")
    val prev1 = lag(col("close"), 1).over(wSeq)
    val prevK = lag(col("close"), k).over(wSeq)
    dailyClose(events, key, ts, v)
      .filter(col("close") > 0.0)
      .withColumn("r1", when(prev1 > 0.0, log(col("close") / prev1)))
      .withColumn("rk", when(prevK > 0.0, log(col("close") / prevK)))
      .groupBy(col(key))
      .agg(
        count(col("r1")).as("n_1d"),
        count(col("rk")).as("n_kd"),
        round(var_samp(col("r1")), 6).as("var_1d"),
        round(var_samp(col("rk")), 6).as("var_kd"),
        round(when(var_samp(col("r1")) > 0.0,
          var_samp(col("rk")) / (lit(k.toDouble) * var_samp(col("r1")))), 6).as("vr"))
  }

  /** RiskMetrics EWMA volatility per key: vol²_t = λ·vol²_{t−1} +
    * (1−λ)·r²_t over daily returns (λ = 0.94, the classic
    * RiskMetrics decay), annualized — the responsive volatility
    * estimate beside [[rollingStats]]'s equal-weight window. Same
    * closed-form-with-guard machinery as [[ema]] (seed = first r²;
    * λ^(−rn) overflows past ~11k rows/key and the guard fails
    * loudly); the 1−λ factor is COMPUTED (1 − 0.94) on both engines
    * so the shared IEEE chain is literal-identical. One (key, day)
    * sort; 6dp output.
    */
  def ewmaVol(events: DataFrame, lambda: Double = 0.94,
              key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    val a    = 1 - lambda // matches the SQL-side (1 - 0.94) chain
    val wSeq = Window.partitionBy(key).orderBy("day")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    dailyCloseReturns(events, key, ts, v)
      .withColumn("r2", col("ret") * col("ret"))
      .withColumn("rn", row_number().over(wSeq) - 1)
      .withColumn("g",
        when(col("rn") === 0, col("r2"))
          .otherwise(lit(a) * col("r2") * pow(lit(lambda), -col("rn"))))
      .withColumn("v2", pow(lit(lambda), col("rn")) * sum(col("g")).over(wRun))
      .select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"),
        closedFormGuard(round(sqrt(col("v2")) * sqrt(lit(TradingDays)), 6), a).as("ewma_vol_ann"))
  }

  /** Amihud illiquidity per key: mean of |return| per unit of dollar
    * volume (×1e9 for readable units) — THE standard price-impact /
    * illiquidity measure, the per-instrument complement of
    * [[graft.operators.Relational.keySkew]]'s operational skew
    * report. Daily |ret| and close·volume reduce on the same
    * (key, day) bars; the per-key mean is a bounded-group float
    * aggregate rounded once at 6dp (ratios are non-terminating
    * quotients — boundary-safe). Zero-dollar-volume days drop.
    */
  def amihudIlliquidity(events: DataFrame,
                        key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val bars = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
    val wSeq = Window.partitionBy(key).orderBy("day")
    val prev = lag(col("close"), 1).over(wSeq)
    bars
      .withColumn("ret", when(prev =!= 0, col("close") / prev - 1))
      .withColumn("dv", col("close") * col("volume").cast("double"))
      .filter(col("ret").isNotNull && col("dv") > 0)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_days"),
        round(avg(abs(col("ret")) / col("dv")) * lit(1e9), 6).as("amihud_1e9"))
  }

  /** Roll's implied effective spread per key: 2·sqrt(−cov(Δp_t,
    * Δp_{t−1})) — bid-ask bounce makes consecutive price changes
    * negatively autocorrelated, and the autocovariance IMPLIES the
    * spread without ever seeing a quote (Roll 1984). Price changes
    * are EXACT decimals (closes quantize once to DECIMAL(18,6), the
    * welch recipe), all four moments accumulate exactly, and the
    * spread is one IEEE chain at 6dp. Positive autocovariance
    * (trending, no bounce) has no implied spread — null.
    */
  def rollSpread(events: DataFrame,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val dec  = org.apache.spark.sql.types.DecimalType(18, 6)
    val wSeq = Window.partitionBy(key).orderBy("day")
    val m = dailyClose(events, key, ts, v)
      .withColumn("cq", col("close").cast(dec))
      .withColumn("d", col("cq") - lag(col("cq"), 1).over(wSeq))
      .withColumn("dl", lag(col("d"), 1).over(wSeq))
      .filter(col("d").isNotNull && col("dl").isNotNull)
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("d")).as("sd"), sum(col("dl")).as("sl"),
        sum(col("d") * col("dl")).as("sdl"))
    val nd   = col("n_days").cast("double")
    val covN = nd * col("sdl").cast("double") - col("sd").cast("double") * col("sl").cast("double")
    m.select(col(key), col("n_days"),
      round(covN / (nd * nd), 6).as("autocov"),
      round(when(covN < 0, lit(2.0) * sqrt(-covN / (nd * nd))), 6).as("roll_spread"))
  }

  /** Rolling n-day beta of every key vs the benchmark — the live
    * risk monitor where [[alphaBeta]] is the whole-period autopsy.
    * Day-aligned benchmark returns BROADCAST to the corpus (the
    * [[leadLagCorr]] shape), then all five rolling moments ride ONE
    * (key, day) window. Determinism at any frame size: both return
    * series quantize to integer MICRO-RETURNS (floor(ret·1e6) — the
    * engine-unambiguous quantization), so every windowed sum is an
    * EXACT integer regardless of the engine's frame-aggregation
    * order (DuckDB tree-aggregates larger frames — float window
    * sums are NOT cross-engine bit-stable); beta is one IEEE chain
    * over the exact moments at 6dp. Windows with degenerate
    * benchmark variance surface null.
    */
  def rollingBeta(events: DataFrame, benchmarkId: Long = 0L, n: Int = 30,
                  key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"window must have at least 2 days: $n")
    val rets = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb"))
    val joined = rets.join(org.apache.spark.sql.functions.broadcast(bench), Seq("day"))
    val wN = Window.partitionBy(key).orderBy("day").rowsBetween(-(n - 1), 0)
    val m = joined
      .withColumn("k", count(lit(1)).over(wN).cast("long"))
      .withColumn("sx", sum(col("mb")).over(wN))
      .withColumn("sy", sum(col("mk")).over(wN))
      .withColumn("sxy", sum(col("mb") * col("mk")).over(wN))
      .withColumn("sxx", sum(col("mb") * col("mb")).over(wN))
    val kd   = col("k").cast("double")
    val covN = kd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val varX = kd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    m.select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"), col("k").as("n_obs"),
      round(when(col("k") > 1 && varX > 0, covN / varX), 6).as("beta"))
  }

  /** Mean-reversion half-life per key from the AR(1) fit Δc_t =
    * α + β·c_{t−1} + ε — completing the long-memory toolkit
    * ([[varianceRatio]] diagnoses, [[hurst]] scores, this one says
    * HOW FAST a dislocation decays: t½ = −ln2 / ln(1+β), defined for
    * −1 < β < 0). Closes quantize ONCE to DECIMAL(18,6) (data
    * doubles, welch-safe), so x = lagged close and y = Δclose are
    * EXACT decimals and all five moments accumulate exactly at any
    * partition count; β and t½ are one shared IEEE chain at 6dp.
    * Non-reverting keys (β >= 0, a random walk or trend) surface
    * null half-life, not noise.
    */
  def halfLife(events: DataFrame,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val dec  = org.apache.spark.sql.types.DecimalType(18, 6)
    val wSeq = Window.partitionBy(key).orderBy("day")
    val c6 = dailyClose(events, key, ts, v)
      .withColumn("cq", col("close").cast(dec))
      .withColumn("xq", lag(col("cq"), 1).over(wSeq))
      .filter(col("xq").isNotNull)
      .withColumn("yq", col("cq") - col("xq"))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
    val nd   = col("n_days").cast("double")
    val sxd  = col("sx").cast("double");  val syd = col("sy").cast("double")
    val sxyd = col("sxy").cast("double"); val sxxd = col("sxx").cast("double")
    val covN = nd * sxyd - sxd * syd
    val varX = nd * sxxd - sxd * sxd
    val beta = covN / varX
    c6.select(col(key), col("n_days"),
      round(when(varX > 0, beta), 6).as("beta"),
      round(when(varX > 0 && beta < 0 && beta > -1,
        -lit(0.6931471805599453) / log(lit(1.0) + beta)), 6).as("half_life_days"))
  }

  /** Cross-sectional rank: each key's daily return ranked against
    * the whole universe THAT DAY, with an integer quintile — the
    * factor-model primitive (momentum/value quintiles are built from
    * exactly this). The window partitions by DAY, so each partition
    * holds one row per instrument (the bounded universe), never the
    * corpus — the scale-out axis is days. Rank ties break on the key
    * (deterministic); the quintile is EXACT integer arithmetic
    * ((rank−1)·5 div n), never a float percent threshold.
    */
  def crossSectionalRank(events: DataFrame,
                         key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w = Window.partitionBy("day").orderBy(col("ret").asc, col(key).asc)
    dailyCloseReturns(events, key, ts, v)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("day")).cast("long"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col(key),
        round(col("ret"), 6).as("ret"), col("rnk"), col("n"),
        floor((col("rnk") - 1) * 5 / col("n")).cast("long").as("quintile"))
  }

  /** Daily factor quintile spread: mean return of the top return
    * quintile minus the bottom — the long-short spread a factor
    * backtest accrues. Rides [[crossSectionalRank]]'s day-partitioned
    * rank. Determinism: a raw return is a QUOTIENT and can terminate
    * exactly on a 6dp half boundary (49.29/1.28 − 1 = 37.5078125 in
    * this very fixture), where the engines' round/cast disagree — and
    * cross-engine float SUM order is not dependable either (DuckDB
    * tree-aggregates larger window frames). So returns quantize to
    * integer MICRO-RETURNS via floor(ret·1e6) — floor of a
    * bit-identical double is unambiguous in every engine — making the
    * quintile sums exact longs at any partition count; each mean is
    * then ONE IEEE chain, output UNROUNDED.
    */
  def quintileSpread(events: DataFrame,
                     key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val w = Window.partitionBy("day").orderBy(col("ret").asc, col(key).asc)
    val ranked = dailyCloseReturns(events, key, ts, v)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("day")).cast("long"))
      .withColumn("q", floor((col("rnk") - 1) * 5 / col("n")).cast("long"))
      .withColumn("micro", floor(col("ret") * 1000000).cast("long"))
    def mean(qv: Int): Column =
      sum(when(col("q") === qv, col("micro"))).cast("double") /
        count(when(col("q") === qv, lit(1))) / 1000000.0
    ranked
      .groupBy(col("day"))
      .agg(
        max(col("n")).as("n_keys"),
        mean(4).as("hi_mean"),
        mean(0).as("lo_mean"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_keys"),
        col("hi_mean"), col("lo_mean"),
        (col("hi_mean") - col("lo_mean")).as("spread"))
  }

  /** Volume profile per key: daily volume binned into `bins`
    * equi-width price levels between the key's own low/high close,
    * with the point of control (the level where the most volume
    * traded — the price the market agreed on). Two aggregates on the
    * SAME key partitioning (range reduce + join back co-partitioned,
    * then the bin rollup) plus one rank window over the ≤bins-row
    * per-key profile. Volume is exact-long JSON-props `k`; the bin
    * index is one IEEE chain with a top-edge clamp; flat keys
    * collapse to bin 0 by convention.
    */
  def volumeProfile(events: DataFrame, bins: Int = 10,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(bins >= 1, s"bins must be positive: $bins")
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val bars = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
    val rng = bars.groupBy(col(key))
      .agg(min(col("close")).as("lo"), max(col("close")).as("hi"))
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(lit(bins - 1L),
        floor((col("close") - col("lo")) * bins / (col("hi") - col("lo"))).cast("long")))
    val prof = bars.join(rng, key)
      .withColumn("bin", bin)
      .groupBy(col(key), col("bin"))
      .agg(count(lit(1)).as("n_days"), sum(col("volume")).as("volume"),
        min(col("close")).as("px_lo"), max(col("close")).as("px_hi"))
    val w = Window.partitionBy(key).orderBy(col("volume").desc, col("bin").asc)
    prof
      .withColumn("poc", row_number().over(w) === 1)
      .select(col(key), col("bin"), col("n_days"), col("volume"),
        col("px_lo"), col("px_hi"), col("poc"))
  }

  /** Drawdown episode table per key: each maximal run of days below
    * the prevailing peak, with start/end, length, depth at the
    * trough, and whether the peak was recovered — the episode-level
    * richness [[maxDrawdown]]'s single number and
    * [[drawdownDuration]]'s worst-case flatten away. One (key, day)
    * sort serves the running max, the new-high episode counter
    * (cumsum of at-peak flags), and the per-episode rollup; the
    * recovered flag is exact by construction (an episode not ending
    * on the key's last day was ended BY a new high). Depth is one
    * division at 6dp; everything else exact.
    */
  def drawdownEpisodes(events: DataFrame,
                       key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val wSeq   = Window.partitionBy(key).orderBy("day")
    val runMax = max(col("close")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0))
    val closes = dailyClose(events, key, ts, v)
      .withColumn("peak", runMax)
      .withColumn("at_peak", (col("close") >= col("peak")).cast("long"))
      .withColumn("eid", sum(col("at_peak")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("last_day", max(col("day")).over(Window.partitionBy(key)))
    closes
      .filter(col("at_peak") === 0L)
      .groupBy(col(key), col("eid"))
      .agg(
        date_format(min(col("day")), "yyyy-MM-dd").as("start_day"),
        date_format(max(col("day")), "yyyy-MM-dd").as("end_day"),
        count(lit(1)).as("n_days"),
        round(min(col("close") / col("peak") - 1), 6).as("max_depth"),
        (max(col("day")) < max(col("last_day"))).as("recovered"))
  }

  /** Lead-lag cross-correlation of every key's daily returns against
    * the benchmark's at shifts -maxLag..+maxLag — which instruments
    * LEAD the index (signal) and which merely follow it (beta in
    * disguise). corr(r_key(t), r_bench(t+shift)) per (key, shift).
    * The benchmark series replicates once per shift (a bounded
    * 2·maxLag+1 axis) and BROADCASTS — the corpus side never
    * reshuffles for the join and pays one groupBy(key, shift).
    * Returns quantize ONCE to DECIMAL(18,6) (the welch recipe), the
    * five moments accumulate exact, and the correlation is one
    * shared IEEE chain at 6dp — order-independent at any partition
    * count where a float corr() would drift. The benchmark's own
    * shift-0 row reads exactly 1, a free self-check.
    */
  def leadLagCorr(events: DataFrame, benchmarkId: Long = 0L, maxLag: Int = 2,
                  key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0: $maxLag")
    val dec  = org.apache.spark.sql.types.DecimalType(18, 6)
    val rets = dailyCloseReturns(events, key, ts, v)
      .select(col(key), to_date(col("day")).as("d"), col("ret").cast(dec).as("x"))
    val shifts = (-maxLag to maxLag).map(lit(_))
    val bench = rets.filter(col(key) === benchmarkId)
      .withColumn("shift", explode(array(shifts: _*)))
      .select(date_sub(col("d"), col("shift")).as("d"), col("shift"), col("x").as("y"))
    val m = rets
      .join(org.apache.spark.sql.functions.broadcast(bench), Seq("d"))
      .groupBy(col(key), col("shift"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nd   = col("n_days").cast("double")
    val sxd  = col("sx").cast("double");  val syd  = col("sy").cast("double")
    val sxyd = col("sxy").cast("double"); val sxxd = col("sxx").cast("double")
    val syyd = col("syy").cast("double")
    val covN = nd * sxyd - sxd * syd
    val varX = nd * sxxd - sxd * sxd
    val varY = nd * syyd - syd * syd
    m.select(col(key), col("shift").cast("long").as("shift"), col("n_days"),
      round(when(varX > 0 && varY > 0, covN / sqrt(varX * varY)), 6).as("corr"))
  }

  /** Hurst exponent per key via rescaled-range (R/S) analysis over
    * block sizes {4, 8, 16} — the long-memory diagnostic beside
    * [[varianceRatio]] (H ≈ 0.5 random walk, > 0.5 trending,
    * < 0.5 mean-reverting). Per (key, size): full blocks of daily
    * returns, within-block mean / cumulative deviation / range R /
    * population std S, all computed by stacked windows over ONE
    * (key, size, block) sort so every float accumulates in frame
    * order (the [[sma]] determinism recipe); per-block ln(R/S)
    * quantizes ONCE to DECIMAL(18,6) (the welch recipe) so the
    * across-blocks mean is an exact decimal sum + one IEEE division
    * — order-independent at any partition count. The size axis is
    * log-equally-spaced, so the OLS slope collapses to the closed
    * form (y16 − y4) / (2·ln 2) — one literal-divisor chain, no
    * float moment sums anywhere. Keys too short for 16-row blocks
    * surface null, not noise.
    */
  def hurst(events: DataFrame,
            key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val sizes = Seq(4, 8, 16)
    val rets = dailyCloseReturns(events, key, ts, v)
      .withColumn("rn", row_number().over(Window.partitionBy(key).orderBy("day")) - 1)
      .withColumn("n", explode(array(sizes.map(lit): _*)))
      .withColumn("block", floor(col("rn") / col("n")).cast("long"))
    val wP   = Window.partitionBy(col(key), col("n"), col("block"))
    val wSeq = wP.orderBy("day")
    val full = wSeq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val blocks = rets
      .withColumn("bn", count(lit(1)).over(wP))
      .filter(col("bn") === col("n"))
      .withColumn("mean", avg(col("ret")).over(full))
      .withColumn("cum",
        sum(col("ret") - col("mean")).over(wSeq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rng", max(col("cum")).over(full) - min(col("cum")).over(full))
      .withColumn("sd", sqrt(avg(pow(col("ret") - col("mean"), 2)).over(full)))
      .withColumn("rib", row_number().over(wSeq))
      .filter(col("rib") === 1 && col("sd") > 0)
      .select(col(key), col("n"),
        log(col("rng") / col("sd")).cast("decimal(18,6)").as("lrs"))
    val y = blocks.groupBy(col(key), col("n"))
      .agg((sum(col("lrs")).cast("double") / count(lit(1))).as("y"))
    y.groupBy(col(key))
      .agg(
        max(when(col("n") === 4, col("y"))).as("y4r"),
        max(when(col("n") === 8, col("y"))).as("y8r"),
        max(when(col("n") === 16, col("y"))).as("y16r"))
      .select(col(key),
        // UNROUNDED outputs (the seasonal_decompose recipe): the
        // block means are exact-decimal sums divided ONCE, which can
        // terminate exactly on a 6dp half boundary where the two
        // engines' round() disagree — the raw IEEE doubles are
        // bit-identical, so no rounding is needed or safe
        col("y4r").as("y4"),
        col("y8r").as("y8"),
        col("y16r").as("y16"),
        // 2·ln2 as the exact-double literal so both engines share it
        ((col("y16r") - col("y4r")) / lit(1.3862943611198906)).as("hurst"))
  }

  /** Local-extremum detection on per-key daily closes: a PEAK is a
    * bar strictly above both neighbors with prominence (height over
    * the taller neighbor) >= minProm; a TROUGH is the mirror image.
    * The swing-point scan feeding support/resistance and turning-
    * point analytics. One lag + one lead on the shared (key, day)
    * sort; all compares are raw-double exact (no accumulation), so
    * output hash-matches the oracle with prominence as the only
    * rounded column. Series endpoints have one missing neighbor and
    * cannot qualify.
    */
  def peaks(events: DataFrame, minProm: Double = 0.0,
            key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(minProm >= 0.0, s"prominence threshold must be >= 0: $minProm")
    val wSeq = Window.partitionBy(key).orderBy("day")
    val prev = lag(col("close"), 1).over(wSeq)
    val next = lead(col("close"), 1).over(wSeq)
    dailyClose(events, key, ts, v)
      .withColumn("prev", prev)
      .withColumn("next", next)
      .filter(col("prev").isNotNull && col("next").isNotNull)
      .withColumn("kind",
        when(col("close") > col("prev") && col("close") > col("next") &&
          col("close") - greatest(col("prev"), col("next")) >= minProm, lit("peak"))
          .when(col("close") < col("prev") && col("close") < col("next") &&
            least(col("prev"), col("next")) - col("close") >= minProm, lit("trough")))
      .filter(col("kind").isNotNull)
      .select(col(key), col("day"), col("kind"), col("close"),
        round(
          when(col("kind") === "peak", col("close") - greatest(col("prev"), col("next")))
            .otherwise(least(col("prev"), col("next")) - col("close")), 6).as("prominence"))
  }

  /** Ichimoku cloud on daily OHLC bars (reference candlestick panel
    * family, app.py:470-475): tenkan = 9-bar (max high + min low)/2,
    * kijun = the same at 26 bars, senkou A = the (tenkan+kijun)/2
    * computed 26 bars AGO (the cloud edge plotted at this bar),
    * senkou B = the 52-bar channel midpoint from 26 bars ago, chikou
    * = the close from 26 bars AHEAD (the lagging span aligned to this
    * bar). Rolling max/min are exact compares (no float
    * accumulation); the midpoints are each one add + one divide
    * rounded ONCE at the end, with the raw (unrounded) chains fed
    * into the lags so both engines round the identical double.
    * above_cloud is null until both spans exist. All six window
    * frames share ONE (key, bar_start) sort — a single shuffle.
    */
  def ichimoku(events: DataFrame,
               tenkanN: Int = 9, kijunN: Int = 26, senkouN: Int = 52,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(tenkanN >= 1 && kijunN >= 1 && senkouN >= 1,
      s"spans must be positive: $tenkanN/$kijunN/$senkouN")
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    def mid(n: Int): Column = {
      val w = wSeq.rowsBetween(-(n - 1), 0)
      (max(col("high")).over(w) + min(col("low")).over(w)) / 2
    }
    bars
      .withColumn("tenkan_raw", mid(tenkanN))
      .withColumn("kijun_raw", mid(kijunN))
      .withColumn("senkou_b_raw", mid(senkouN))
      .withColumn("senkou_a",
        round(lag((col("tenkan_raw") + col("kijun_raw")) / 2, kijunN).over(wSeq), 6))
      .withColumn("senkou_b", round(lag(col("senkou_b_raw"), kijunN).over(wSeq), 6))
      .withColumn("chikou", lead(col("close"), kijunN).over(wSeq))
      .select(col(key), col("bar_start"),
        round(col("tenkan_raw"), 6).as("tenkan"),
        round(col("kijun_raw"), 6).as("kijun"),
        col("senkou_a"), col("senkou_b"), col("chikou"),
        when(col("senkou_a").isNotNull && col("senkou_b").isNotNull,
          col("close") > greatest(col("senkou_a"), col("senkou_b"))).as("above_cloud"))
  }

  /** Classic floor-trader pivot points off the PREVIOUS day's bar
    * (the intraday support/resistance levels a trading desk
    * publishes each morning): P = (H+L+C)/3 of yesterday, R1 = 2P-L,
    * S1 = 2P-H, R2 = P+(H-L), S2 = P-(H-L), plus where today's close
    * sits relative to P. One lag per input on the shared
    * (key, bar_start) sort; every level is one short IEEE chain off
    * the SAME raw unrounded P (rounded once per output column), so
    * the oracle mirrors the chains op-for-op. First bar has no
    * yesterday -> null levels, rows preserved.
    */
  def pivotPoints(events: DataFrame,
                  key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val bars  = Relational.ohlcResample(events)
    val wSeq  = Window.partitionBy(key).orderBy("bar_start")
    val hPrev = lag(col("high"), 1).over(wSeq)
    val lPrev = lag(col("low"), 1).over(wSeq)
    val cPrev = lag(col("close"), 1).over(wSeq)
    bars
      .withColumn("h1", hPrev).withColumn("l1", lPrev).withColumn("c1", cPrev)
      .withColumn("p_raw", (col("h1") + col("l1") + col("c1")) / 3)
      .select(col(key), col("bar_start"), col("close"),
        round(col("p_raw"), 6).as("pivot"),
        round(col("p_raw") * 2 - col("l1"), 6).as("r1"),
        round(col("p_raw") * 2 - col("h1"), 6).as("s1"),
        round(col("p_raw") + (col("h1") - col("l1")), 6).as("r2"),
        round(col("p_raw") - (col("h1") - col("l1")), 6).as("s2"),
        when(col("p_raw").isNotNull, col("close") > col("p_raw")).as("above_pivot"))
  }

  /** Spearman rank correlation of every key's daily returns vs the
    * benchmark key — the robust complement to the Pearson-based
    * [[alphaBeta]]: monotone association, immune to the fat tails
    * the micro-return series carries. Both series quantize to
    * integer micro-returns (floor(ret·1e6) — floor of a
    * bit-identical double is unambiguous in every engine), then each
    * side is ranked WITHIN the key's joined frame by row_number over
    * (mk, day) — a deterministic total order, so ranks are a
    * permutation of 1..n and every moment (Σr, Σr², Σrxry) is an
    * exact long at any partition count. ρ is one IEEE chain from
    * those integers, output UNROUNDED (integer quotients can
    * terminate exactly on 6dp half boundaries where engine rounding
    * diverges).
    *
    * Scale: the benchmark is ONE key ⇒ broadcast; both rank windows
    * share the partitionBy(key) exchange (one shuffle, two sorts).
    */
  def spearmanCorr(events: DataFrame, benchmarkId: Long = 0L,
                   key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb"))
    val j  = rets.filter(col(key) =!= benchmarkId)
      .join(broadcast(bench), Seq("day"))
    val wx = Window.partitionBy(key).orderBy(col("mk").asc, col("day").asc)
    val wy = Window.partitionBy(key).orderBy(col("mb").asc, col("day").asc)
    val m = j
      .withColumn("rx", row_number().over(wx).cast("long"))
      .withColumn("ry", row_number().over(wy).cast("long"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("rx")).as("sx"))
    // rx and ry are both permutations of 1..n: Σry = Σrx, Σry² = Σrx²
    val nd   = col("n_days").cast("double")
    val covN = nd * col("sxy").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val varN = nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    m.select(col(key), col("n_days"),
      when(col("n_days") > 1 && varN > 0, covN / varN).as("spearman_rho"))
  }

  /** Kendall tau-a of each key's daily micro-return sequence vs
    * TIME — the trend-consistency score (tau = 1 means every later
    * day closed higher): concordant/discordant day pairs counted
    * over the key-bounded pair join. All comparisons are integer
    * micro-returns, the three counters are exact longs, and tau is
    * one IEEE division, UNROUNDED.
    *
    * Declared bounded-series: pairs per key = days²/2 with the
    * per-key day count fixed by the calendar, so the equi-join on
    * key scales LINEARLY in keys (the GenScale axis) — never a
    * cartesian (plan red-barred).
    */
  def kendallTauTrend(events: DataFrame,
                      key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val r = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .select(col(key), col("day"), col("mk"))
    val a = r.select(col(key), col("day").as("da"), col("mk").as("ma"))
    val b = r.select(col(key), col("day").as("db"), col("mk").as("mb"))
    a.join(b, Seq(key)).filter(col("da") < col("db"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(when(col("mb") > col("ma"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("mb") < col("ma"), 1L).otherwise(0L)).as("discordant"),
        sum(when(col("mb") === col("ma"), 1L).otherwise(0L)).as("ties"))
      .withColumn("tau",
        (col("concordant") - col("discordant")).cast("double") / col("n_pairs").cast("double"))
  }

  /** Up/down capture ratios vs the benchmark: how much of the
    * benchmark's up-day move the key captured, and how much of the
    * down-day pain — the fund-selection duo (a good fund has
    * up > 1 > down). Because up-capture = mean(key)/mean(bench)
    * over the SAME up-day set, the day counts cancel and each ratio
    * is a single integer-quotient Σmk/Σmb in micro-units — exact
    * longs until two IEEE divisions, output UNROUNDED (integer
    * quotients terminate on 6dp half boundaries). Benchmark series
    * broadcast; one shuffle on key for the aggregate.
    */
  def captureRatios(events: DataFrame, benchmarkId: Long = 0L,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
    val bench = rets.filter(col(key) === benchmarkId)
      .select(col("day"), col("mk").as("mb"))
    val m = rets.filter(col(key) =!= benchmarkId)
      .join(broadcast(bench), Seq("day"))
      .groupBy(col(key))
      .agg(
        sum(when(col("mb") > 0, col("mk")).otherwise(0L)).as("sk_up"),
        sum(when(col("mb") > 0, col("mb")).otherwise(0L)).as("sb_up"),
        sum(when(col("mb") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("mb") < 0, col("mk")).otherwise(0L)).as("sk_dn"),
        sum(when(col("mb") < 0, col("mb")).otherwise(0L)).as("sb_dn"),
        sum(when(col("mb") < 0, 1L).otherwise(0L)).as("n_dn"))
    val upCap = when(col("n_up") > 0 && col("sb_up") =!= 0,
      col("sk_up").cast("double") / col("sb_up").cast("double"))
    val dnCap = when(col("n_dn") > 0 && col("sb_dn") =!= 0,
      col("sk_dn").cast("double") / col("sb_dn").cast("double"))
    m.select(col(key), col("n_up"), col("n_dn"),
      upCap.as("up_capture"), dnCap.as("down_capture"),
      (upCap - dnCap).as("capture_spread"))
  }

  /** Commodity Channel Index: how far today's typical price sits
    * from its n-day mean, in units of the window's mean absolute
    * deviation — the classic overbought/oversold oscillator
    * (±100 band). The mean deviation is vs the CURRENT window's
    * SMA, which no plain two-window pass can express; instead the
    * window materializes ONCE as a collect_list frame and one
    * codegen'd higher-order aggregate folds Σ|n·tp_j − S| — still a
    * single shuffle on key, no self-join, no 20x row blowup.
    *
    * Exactness: typical price quantizes to integer micro-units
    * (floor of a bit-identical double), so S and the deviation fold
    * are exact longs at any partition count; CCI is one IEEE chain
    * from two integers, UNROUNDED. Emitted only for full windows.
    */
  def cci(events: DataFrame, n: Int = 20,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"cci window must be >= 2: $n")
    val bars = Relational.ohlcResample(events)
      .withColumn("tpu",
        floor((col("high") + col("low") + col("close")) / 3 * 1000000).cast("long"))
    val w = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    val nL = lit(n.toLong)
    val m = bars
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s", sum(col("tpu")).over(w))
      .withColumn("l", collect_list(col("tpu")).over(w))
      .withColumn("d",
        aggregate(col("l"), lit(0L), (acc, x) => acc + abs(x * nL - col("s"))))
    m.select(col(key), date_format(col("bar_start"), "yyyy-MM-dd").as("day"),
      when(col("cnt") === n && col("d") > 0,
        (col("tpu").cast("double") * n - col("s").cast("double")) * n /
          (lit(0.015) * col("d").cast("double"))).as("cci"))
  }

  /** Aroon oscillator: days since the window's highest high / lowest
    * low, scaled to 0..100 — trend-age detection (a fresh high reads
    * up=100). The argmax POSITION inside a moving window has no
    * two-window form either, but it does have an integer ENCODING:
    * code = (micro-close + 2e9)·2^20 + idx is monotone in
    * (close, idx), so one window max yields the latest highest
    * day's index as code % 2^20 (the low side encodes 2^20−1−idx so
    * the plain MIN lands on the LATEST lowest). Everything is exact
    * long arithmetic — one shuffle on key, three window aggregates,
    * zero joins; aroon values are exact multiples of 100/n. Assumes
    * |micro-close| < 2e9 (price < ~2000 in fixture units — guarded)
    * and per-key series < 2^20 rows (the calendar bounds it).
    */
  def aroon(events: DataFrame, n: Int = 25,
            key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"aroon window must be >= 2: $n")
    val wSeq = Window.partitionBy(key).orderBy("day")
    val w    = wSeq.rowsBetween(-(n - 1), 0)
    val enc  = dailyClose(events, key, ts, v)
      .withColumn("mku", floor(col("close") * 1000000).cast("long"))
      // fail loudly outside the encoding's guard band rather than
      // silently mis-ranking (2e9 micro-units = price 2000)
      .withColumn("mku",
        when(abs(col("mku")) < 2000000000L, col("mku"))
          .otherwise(raise_error(concat(lit("aroon: |micro-close| >= 2e9 for key "), col(key).cast("string")))))
      .withColumn("idx", (row_number().over(wSeq) - 1).cast("long"))
      .withColumn("code_hi", (col("mku") + 2000000000L) * 1048576L + col("idx"))
      .withColumn("code_lo", (col("mku") + 2000000000L) * 1048576L + (lit(1048575L) - col("idx")))
    val m = enc
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("hi_idx", max(col("code_hi")).over(w) % 1048576L)
      .withColumn("lo_idx", lit(1048575L) - (min(col("code_lo")).over(w) % 1048576L))
    val full = col("cnt") === n
    val up   = (lit(n.toLong) - (col("idx") - col("hi_idx"))) * 100.0 / n
    val dn   = (lit(n.toLong) - (col("idx") - col("lo_idx"))) * 100.0 / n
    m.select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"),
      when(full, up).as("aroon_up"),
      when(full, dn).as("aroon_down"),
      when(full, up - dn).as("aroon_osc"))
  }

  /** Jarque-Bera normality test per key: JB = n/6·(S² + (K−3)²/4)
    * from the skewness and kurtosis of the daily micro-return
    * distribution — the risk-model gatekeeper (a Gaussian VaR on a
    * JB-rejecting series understates tails). Raw power sums of
    * integer micro-returns accumulate as DECIMAL(38,0) (mk⁴ can
    * reach 1e28 — int64 overflows, 128-bit decimal does not; the
    * oracle mirrors with HUGEINT), so every moment is EXACT at any
    * partition count; skew/kurtosis/JB are one shared IEEE chain,
    * m2^1.5 spelled m2·sqrt(m2) because libm pow is not
    * cross-engine reproducible while sqrt is correctly rounded
    * everywhere. Output UNROUNDED; degenerate (zero-variance) keys
    * read null.
    */
  def jarqueBera(events: DataFrame,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // milli-return quantization (not micro): the 4th power must stay
    // inside 128-bit exact range, and the fixture carries >1000x
    // value jumps. |ret| > 1000 (|mk| > 1e6) is a data error for a
    // return distribution — excluded deterministically and REPORTED
    // (n_excluded), never silently folded into a saturated moment.
    val m = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk0", floor(col("ret") * 1000).cast("long"))
      .withColumn("keep", abs(col("mk0")) <= 1000000L)
      .withColumn("mk", when(col("keep"), col("mk0")).otherwise(0L).cast(dec))
      .groupBy(col(key))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_days"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_excluded"),
        sum(col("mk")).as("s1"),
        sum(col("mk") * col("mk")).as("s2"),
        sum(col("mk") * col("mk") * col("mk")).as("s3"),
        sum(col("mk") * col("mk") * col("mk") * col("mk")).as("s4"))
    // 128-bit sums exceed 2^53: a direct cast to double is rounded
    // DIFFERENTLY across engines (DuckDB's hugeint->double composes
    // two word-halves and double-rounds). Deterministic conversion:
    // split |s| = q*2^53 + r (both halves exactly representable),
    // rebuild in doubles — q*2^53 is a power-of-two shift (exact),
    // the one + r rounding is the same IEEE add in every engine.
    def splitD(c: Column): Column = {
      val p = lit(9007199254740992L)
      val a = abs(c)
      val q = ((a - pmod(a, p)) / p).cast("double")
      val d = q * lit(9.007199254740992e15) + pmod(a, p).cast("double")
      when(c < 0, -d).otherwise(d)
    }
    val nd = col("n_days").cast("double")
    val d1 = splitD(col("s1")); val d2 = splitD(col("s2"))
    val d3 = splitD(col("s3")); val d4 = splitD(col("s4"))
    val m1 = d1 / nd
    val m2 = d2 / nd - m1 * m1
    val m3 = d3 / nd - lit(3.0) * m1 * (d2 / nd) + lit(2.0) * m1 * m1 * m1
    val m4 = d4 / nd - lit(4.0) * m1 * (d3 / nd) + lit(6.0) * m1 * m1 * (d2 / nd) -
      lit(3.0) * m1 * m1 * m1 * m1
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2)
    val jb   = nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4)
    m.select(col(key), col("n_days"), col("n_excluded"),
      when(col("n_days") > 3 && m2 > 0, skew).as("skewness"),
      when(col("n_days") > 3 && m2 > 0, kurt - 3).as("excess_kurtosis"),
      when(col("n_days") > 3 && m2 > 0, jb).as("jarque_bera"))
  }

  /** Ljung-Box portmanteau test per key: Q = n(n+2)·Σ ρ_k²/(n−k)
    * over the first m autocorrelations — the "is there ANY serial
    * structure" gate run before trusting an i.i.d. assumption
    * (a significant Q on returns says momentum/mean-reversion terms
    * exist; on residuals it rejects the model). Builds on [[acf]]'s
    * rounded ρ values, pivoted into FIXED per-lag columns by
    * conditional aggregation — one row per key, so the Σ over lags
    * is a single deterministic IEEE chain, never a float sum over
    * rows. n is the return-series length (pairs at lag 1 + 1). Keys
    * missing any of the m lags (short series, zero variance) read
    * null. Q is UNROUNDED from the 6dp ρ inputs.
    */
  def ljungBox(events: DataFrame, maxLag: Int = 5,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(maxLag >= 1, s"maxLag must be positive: $maxLag")
    val aggs =
      (max(when(col("lag_k") === 1, col("n_pairs"))) + 1).cast("long").as("n_obs") +:
      count(when(col("acf").isNotNull, 1)).as("k_present") +:
      (1 to maxLag).map(k0 => max(when(col("lag_k") === k0, col("acf"))).as(s"r$k0"))
    val piv = acf(events, maxLag, key, ts, v)
      .groupBy(col(key))
      .agg(aggs.head, aggs.tail: _*)
    val nd = col("n_obs").cast("double")
    val q = (1 to maxLag).map { k0 =>
      col(s"r$k0") * col(s"r$k0") / (nd - k0)
    }.reduce(_ + _) * nd * (nd + 2)
    piv.select(col(key), col("n_obs"),
      when(col("k_present") === maxLag && col("n_obs") > maxLag + 1, q).as("ljung_box_q"))
  }

  /** Partial autocorrelation (Durbin–Levinson, lags 1–3): the AR
    * order-identification readout — PACF cuts off after lag p for an
    * AR(p) where the raw ACF only decays. Rides [[acf]]'s
    * 6dp-deterministic ρ₁..ρ₃ exactly like [[ljungBox]]; the three
    * recursion steps (φ₁₁=ρ₁, φ₂₂=(ρ₂−ρ₁²)/(1−ρ₁²),
    * φ₃₃=(ρ₃−φ₂₁ρ₂−φ₂₂ρ₁)/v₂) are one IEEE chain per output over
    * those identical inputs, UNROUNDED — each output column is a
    * single expression tree mirrored verbatim by the oracle.
    * Degenerate denominators (|ρ₁|=1 etc.) read null, never NaN.
    */
  def pacf(events: DataFrame,
           key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val piv = acf(events, 3, key, ts, v)
      .groupBy(col(key))
      .agg(
        count(when(col("acf").isNotNull, 1)).as("k_present"),
        max(when(col("lag_k") === 1, col("acf"))).as("r1"),
        max(when(col("lag_k") === 2, col("acf"))).as("r2"),
        max(when(col("lag_k") === 3, col("acf"))).as("r3"))
    val v1  = lit(1.0) - col("r1") * col("r1")
    val p2  = (col("r2") - col("r1") * col("r1")) / v1
    val p21 = col("r1") - p2 * col("r1")
    val v2  = v1 * (lit(1.0) - p2 * p2)
    val p3  = (col("r3") - p21 * col("r2") - p2 * col("r1")) / v2
    val ok  = col("k_present") === 3
    piv.select(col(key), col("r1"), col("r2"), col("r3"),
      when(ok, col("r1")).as("pacf1"),
      when(ok && v1 =!= 0, p2).as("pacf2"),
      when(ok && v1 =!= 0 && v2 =!= 0, p3).as("pacf3"))
  }

  /** Treynor–Mazuy market-timing regression per key: r = α + β·m +
    * γ·m² — γ>0 means the key loads up on market exposure BEFORE
    * up-moves (timing skill), γ<0 the reverse; the quadratic term is
    * what [[alphaBeta]]'s linear CAPM cannot see. Determinism at any
    * scale: both return series quantize to integer micro-units, the
    * seven normal-equation moments (Σm..Σm⁴, Σr, Σrm, Σrm²)
    * accumulate as EXACT decimal(38,0) products of micro-longs
    * (m_u⁴ ≈ 10²¹ overflows int64 — hugeint/decimal on both
    * engines), and the 3×3 Cramer solve is one IEEE chain over the
    * [[Stats.splitDouble]] portable double casts of those exact sums
    * (a direct wide-decimal cast double-rounds differently across
    * engines past 2^53), rounded 6dp at the output. One benchmark
    * broadcast join, one aggregate per key.
    */
  def marketTiming(events: DataFrame, benchmarkKey: Long,
                   key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val rets  = dailyCloseReturns(events, key, ts, v)
      .select(col(key), col("day"), col("ret"))
    val bench = broadcast(
      rets.filter(col(key) === benchmarkKey).select(col("day"), col("ret").as("bench_ret")))
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val j = rets.filter(col(key) =!= benchmarkKey).join(bench, "day")
      .withColumn("ru", floor(col("ret") * 1000000).cast("long").cast(big))
      .withColumn("mu", floor(col("bench_ret") * 1000000).cast("long").cast(big))
    val agg = j.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(col("mu")).as("sm1"),
      sum(col("mu") * col("mu")).as("sm2"),
      sum(col("mu") * col("mu") * col("mu")).as("sm3"),
      sum(col("mu") * col("mu") * col("mu") * col("mu")).as("sm4"),
      sum(col("ru")).as("t0"),
      sum(col("ru") * col("mu")).as("t1"),
      sum(col("ru") * col("mu") * col("mu")).as("t2"))
    val S0 = col("n").cast("double")
    val S1 = Stats.splitDouble(col("sm1")); val S2 = Stats.splitDouble(col("sm2"))
    val S3 = Stats.splitDouble(col("sm3")); val S4 = Stats.splitDouble(col("sm4"))
    val T0 = Stats.splitDouble(col("t0")); val T1 = Stats.splitDouble(col("t1"))
    val T2 = Stats.splitDouble(col("t2"))
    val det  = S0 * (S2 * S4 - S3 * S3) - S1 * (S1 * S4 - S3 * S2) + S2 * (S1 * S3 - S2 * S2)
    val detA = T0 * (S2 * S4 - S3 * S3) - S1 * (T1 * S4 - S3 * T2) + S2 * (T1 * S3 - S2 * T2)
    val detB = S0 * (T1 * S4 - S3 * T2) - T0 * (S1 * S4 - S3 * S2) + S2 * (S1 * T2 - T1 * S2)
    val detC = S0 * (S2 * T2 - T1 * S3) - S1 * (S1 * T2 - T1 * S2) + T0 * (S1 * S3 - S2 * S2)
    val ok = col("n") >= 3 && det =!= 0
    agg.select(col(key), col("n"),
      round(when(ok, detA / det / 1000000.0), 6).as("alpha"),
      round(when(ok, detB / det), 6).as("beta"),
      round(when(ok, detC / det * 1000000.0), 6).as("gamma"))
  }

  /** Vortex indicator (14): VI+ = Σ|high−low₋₁| / ΣTR and VI− =
    * Σ|low−high₋₁| / ΣTR over the window — the crossover pair that
    * dates trend reversals. Every per-row term (the two vortex
    * movements and the true range) is an IEEE-identical double
    * quantized to integer micro-units via floor, so the three window
    * sums are exact longs; the two VIs are integer quotients,
    * UNROUNDED. One shuffle on key, the bar aggregate and all
    * windows share the (key, bar) sort. Full windows only.
    */
  def vortex(events: DataFrame, n: Int = 14,
             key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"vortex window must be >= 2: $n")
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val wN   = wSeq.rowsBetween(-(n - 1), 0)
    val hPrev = lag(col("high"), 1).over(wSeq)
    val lPrev = lag(col("low"), 1).over(wSeq)
    val cPrev = lag(col("close"), 1).over(wSeq)
    val withT = bars
      .withColumn("vmp", floor(abs(col("high") - lPrev) * 1000000).cast("long"))
      .withColumn("vmm", floor(abs(col("low") - hPrev) * 1000000).cast("long"))
      .withColumn("tru", floor(greatest(
        col("high") - col("low"),
        abs(col("high") - cPrev),
        abs(col("low") - cPrev)) * 1000000).cast("long"))
      .filter(col("vmp").isNotNull)
    val m = withT
      .withColumn("cnt", count(lit(1)).over(wN))
      .withColumn("sp", sum(col("vmp")).over(wN))
      .withColumn("sm", sum(col("vmm")).over(wN))
      .withColumn("st", sum(col("tru")).over(wN))
    val full = col("cnt") === n && col("st") > 0
    m.select(col(key), date_format(col("bar_start"), "yyyy-MM-dd").as("day"),
      when(full, col("sp").cast("double") / col("st").cast("double")).as("vi_plus"),
      when(full, col("sm").cast("double") / col("st").cast("double")).as("vi_minus"),
      when(full, (col("sp") - col("sm")).cast("double") / col("st").cast("double"))
        .as("vi_diff"))
  }

  /** Win/loss streak statistics per key: longest up-streak, longest
    * down-streak, and the CURRENT signed streak — the
    * momentum-regime readout ([[runsTest]] scores randomness, this
    * reports the actual extremes). Entirely integer: signs of
    * micro-returns, streak ids from a running sum of sign-change
    * flags, lengths as counts — all off the one (key, day) sort.
    * Zero-return days are sign-0 streaks: they break both up and
    * down runs, as a flat day should. Current streak is signed
    * (+len up, −len down, 0 flat).
    */
  def streaks(events: DataFrame,
              key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val wSeq = Window.partitionBy(key).orderBy("day")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    val s    = signum(col("mk")).cast("long")
    val base = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .withColumn("s", s)
      .withColumn("chg",
        when(lag(col("s"), 1).over(wSeq).isNull ||
          col("s") =!= lag(col("s"), 1).over(wSeq), 1L).otherwise(0L))
      .withColumn("sid", sum(col("chg")).over(wRun))
    val groups = base.groupBy(col(key), col("sid"))
      .agg(count(lit(1)).cast("long").as("len"), max(col("s")).as("sgn"))
    val wk = Window.partitionBy(key)
    groups
      .withColumn("mx", max(col("sid")).over(wk))
      .groupBy(col(key))
      .agg(
        coalesce(max(when(col("sgn") === 1L, col("len"))), lit(0L)).as("longest_up"),
        coalesce(max(when(col("sgn") === -1L, col("len"))), lit(0L)).as("longest_down"),
        max(when(col("sid") === col("mx"), col("sgn") * col("len"))).as("current_streak"))
  }

  /** Average Directional Index family (n, SMA-smoothing variant like
    * [[atr]]): +DM/−DM from Wilder's directional-movement rule (the
    * LARGER of the up/down moves wins the bar, the other reads 0),
    * ±DI = 100·ΣDM/ΣTR over the trailing n bars, DX =
    * 100·|ΣDM⁺−ΣDM⁻|/(ΣDM⁺+ΣDM⁻) — the TR denominators cancel so DX
    * is a ratio of the SAME two exact sums — and ADX as the n-bar
    * mean of DX. Determinism: every per-row movement quantizes to
    * integer micro-units via floor off IEEE-identical doubles (the
    * [[vortex]] recipe), so all window sums are exact longs; DX
    * additionally quantizes to micro-units before the ADX window so
    * the final mean is Σlong/(n·10⁶) — one IEEE chain, UNROUNDED,
    * engine- and partition-order-invariant. One shuffle on key; the
    * bar aggregate and all windows share the (key, bar) sort.
    */
  def adx(events: DataFrame, n: Int = 14,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"adx window must be >= 2: $n")
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val wN   = wSeq.rowsBetween(-(n - 1), 0)
    val hPrev = lag(col("high"), 1).over(wSeq)
    val lPrev = lag(col("low"), 1).over(wSeq)
    val cPrev = lag(col("close"), 1).over(wSeq)
    val up    = col("high") - hPrev
    val down  = lPrev - col("low")
    val withT = bars
      .withColumn("has_prev", hPrev.isNotNull)
      .withColumn("dmp", floor(when(up > down && up > 0, up).otherwise(lit(0.0)) * 1000000).cast("long"))
      .withColumn("dmn", floor(when(down > up && down > 0, down).otherwise(lit(0.0)) * 1000000).cast("long"))
      .withColumn("tru", floor(greatest(
        col("high") - col("low"),
        abs(col("high") - cPrev),
        abs(col("low") - cPrev)) * 1000000).cast("long"))
      .filter(col("has_prev"))
    val m = withT
      .withColumn("cnt", count(lit(1)).over(wN))
      .withColumn("sp", sum(col("dmp")).over(wN))
      .withColumn("sn", sum(col("dmn")).over(wN))
      .withColumn("st", sum(col("tru")).over(wN))
    val full  = col("cnt") === n && col("st") > 0
    val dxu   = when(full && (col("sp") + col("sn")) > 0,
      floor(lit(100.0) * abs(col("sp") - col("sn")).cast("double") /
        (col("sp") + col("sn")).cast("double") * 1000000).cast("long"))
    val m2 = m.withColumn("dxu", dxu)
      .withColumn("dx_cnt", count(col("dxu")).over(wN))
      .withColumn("dx_sum", sum(col("dxu")).over(wN))
    m2.select(col(key), date_format(col("bar_start"), "yyyy-MM-dd").as("day"),
      when(full, lit(100.0) * col("sp").cast("double") / col("st").cast("double")).as("di_plus"),
      when(full, lit(100.0) * col("sn").cast("double") / col("st").cast("double")).as("di_minus"),
      (col("dxu").cast("double") / 1000000.0).as("dx"),
      when(col("dx_cnt") === n,
        col("dx_sum").cast("double") / (n * 1000000.0)).as("adx"))
  }

  /** TRIX(span): 1-bar rate of change of the TRIPLE-smoothed EMA of
    * the daily close — the momentum oscillator whose three nested
    * smoothings filter noise that a single EMA lets through.
    * Determinism: the single-EMA closed form does NOT survive three
    * nestings cross-engine — Catalyst's projection collapse
    * re-associates the inlined e1/e2 chains differently at different
    * consumer sites (measured ±1.4e-14 at rn≈20), while 6dp rounding
    * breaks on the exact half-boundary values the early-rn halving
    * quotients of 2dp prices produce (…46875, three hits at sf0.1).
    * So each stage is the RECURRENCE y_t = (1−a)·y_{t−1} + a·x_t as
    * a strict left fold — Spark's `aggregate` HOF over the per-key
    * prefix, DuckDB's seeded `list_reduce` — giving bit-identical
    * doubles by construction, no overflow horizon, UNROUNDED
    * outputs. DECLARED BOUNDED-GROUP QUADRATIC like [[theilsen]]:
    * days²/2 folds per key, days calendar-bounded, embarrassingly
    * parallel across keys; one groupBy shuffle, no windows.
    */
  def trix(events: DataFrame, span: Int = 15,
           key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(span >= 1, s"trix span must be positive: $span")
    val a = 2.0 / (span + 1)
    def emaSeries(src: Column): Column = emaRecurrenceSeries(src, a)
    val g = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("day"), col("close")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("e1", emaSeries(transform(col("arr"), x => x.getField("close"))))
      .withColumn("e2", emaSeries(col("e1")))
      .withColumn("e3", emaSeries(col("e2")))
    val prev = when(col("rn") > 0, element_at(col("e3"), col("rn")))
    g.select(col(key), col("days"), col("e3"),
        posexplode(col("e3")).as(Seq("rn", "e3v")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 1), "yyyy-MM-dd").as("day"),
        col("e3v").as("triple_ema"),
        when(prev =!= 0, (col("e3v") / prev - 1) * 100).as("trix"))
  }

  /** Heikin-Ashi bar transform: haClose = OHLC mean of the RAW bar,
    * haOpen the recursive midpoint o_t = (o_{t−1} + haClose_{t−1})/2
    * — which is exactly an adjust=False EMA with α = 1/2 over the
    * series (rawMid₀, haClose₀, haClose₁, …), so it rides the same
    * closed form as [[ema]] (powers of two are EXACT doubles; the
    * horizon guard still applies), haHigh/haLow the envelope of the
    * raw extremes and both HA anchors. The trend-smoothing bar
    * rewrite charting stacks use — a down day inside an up-trend
    * often stays an HA-up bar. One bar aggregate + windows on one
    * (key, bar) sort. Outputs are deliberately UNROUNDED (the
    * seasonal_decompose recipe): every op in the chain is an exact
    * power-of-two scaling (IEEE exponent shift) or an addition both
    * engines perform in the same order, so the doubles are
    * bit-identical — while 6dp rounding would land exactly on
    * half-boundaries (halving quotients of 2dp prices terminate on
    * …5: measured ha_open 31.1934375 = 619/3200 in this fixture)
    * where Spark's HALF_UP and DuckDB's multiply-then-nearbyint
    * disagree.
    */
  def heikinAshi(events: DataFrame,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val a    = 0.5
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    val bars = Relational.ohlcResample(events)
      .withColumn("rn", row_number().over(wSeq) - 1)
      .withColumn("ha_close",
        (((col("open") + col("high")) + col("low")) + col("close")) / 4)
    val z = when(col("rn") === 0, (col("open") + col("close")) / 2)
      .otherwise(lag(col("ha_close"), 1).over(wSeq))
    val withO = bars
      .withColumn("g", when(col("rn") === 0, z).otherwise(lit(a) * z * pow(lit(1 - a), -col("rn"))))
      .withColumn("ha_open", pow(lit(1 - a), col("rn")) * sum(col("g")).over(wRun))
    withO.select(col(key), date_format(col("bar_start"), "yyyy-MM-dd").as("day"),
      closedFormGuard(col("ha_open"), a).as("ha_open"),
      closedFormGuard(greatest(col("high"), col("ha_open"), col("ha_close")), a).as("ha_high"),
      closedFormGuard(least(col("low"), col("ha_open"), col("ha_close")), a).as("ha_low"),
      col("ha_close").as("ha_close"),
      (col("ha_close") > col("ha_open")).as("ha_bull"))
  }

  /** Chande Momentum Oscillator (14): 100·(Σgains − Σlosses)/(Σgains
    * + Σlosses) over the window — RSI's unsmoothed cousin, bounded
    * ±100, zero-centered. Gains/losses are integer micro-returns
    * split by sign, so both window sums are exact longs and the
    * oscillator is one IEEE chain from two integers, UNROUNDED.
    * One shuffle on key. Full windows only; a flat window (no
    * movement) reads null rather than 0/0.
    */
  def chandeMomentum(events: DataFrame, n: Int = 14,
                     key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"cmo window must be >= 2: $n")
    val w = Window.partitionBy(key).orderBy("day").rowsBetween(-(n - 1), 0)
    val m = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .withColumn("g", greatest(col("mk"), lit(0L)))
      .withColumn("l", greatest(-col("mk"), lit(0L)))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sg", sum(col("g")).over(w))
      .withColumn("sl", sum(col("l")).over(w))
    m.select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"),
      when(col("cnt") === n && col("sg") + col("sl") > 0,
        lit(100.0) * (col("sg") - col("sl")).cast("double") /
          (col("sg") + col("sl")).cast("double")).as("cmo"))
  }

  /** Ultimate Oscillator (7/14/28): Williams' three-horizon blend
    * 100·(4·A₇ + 2·A₁₄ + A₂₈)/7 with A_n = ΣBP/ΣTR — the
    * divergence oscillator that cross-checks momentum on three
    * clocks at once. Buying pressure and true range quantize to
    * micro-longs off IEEE-identical doubles, the SIX window sums are
    * exact and share one (key, bar) sort, and the blend is one IEEE
    * chain over three integer quotients, UNROUNDED. Needs the full
    * 28-bar window.
    */
  def ultimateOscillator(events: DataFrame, n1: Int = 7, n2: Int = 14, n3: Int = 28,
                         key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n1 < n2 && n2 < n3, s"horizons must ascend: $n1 $n2 $n3")
    val bars = Relational.ohlcResample(events)
    val wSeq = Window.partitionBy(key).orderBy("bar_start")
    val cPrev = lag(col("close"), 1).over(wSeq)
    val withT = bars
      .withColumn("bpu",
        floor((col("close") - least(col("low"), cPrev)) * 1000000).cast("long"))
      .withColumn("tru",
        floor((greatest(col("high"), cPrev) - least(col("low"), cPrev)) * 1000000).cast("long"))
      .filter(col("bpu").isNotNull)
    def wN(n: Int) = Window.partitionBy(key).orderBy("bar_start").rowsBetween(-(n - 1), 0)
    val m = withT
      .withColumn("cnt", count(lit(1)).over(wN(n3)))
      .withColumn("bp1", sum(col("bpu")).over(wN(n1)))
      .withColumn("tr1", sum(col("tru")).over(wN(n1)))
      .withColumn("bp2", sum(col("bpu")).over(wN(n2)))
      .withColumn("tr2", sum(col("tru")).over(wN(n2)))
      .withColumn("bp3", sum(col("bpu")).over(wN(n3)))
      .withColumn("tr3", sum(col("tru")).over(wN(n3)))
    val ok = col("cnt") === n3 && col("tr1") > 0 && col("tr2") > 0 && col("tr3") > 0
    val a1 = col("bp1").cast("double") / col("tr1").cast("double")
    val a2 = col("bp2").cast("double") / col("tr2").cast("double")
    val a3 = col("bp3").cast("double") / col("tr3").cast("double")
    m.select(col(key), date_format(col("bar_start"), "yyyy-MM-dd").as("day"),
      when(ok, lit(100.0) * (lit(4.0) * a1 + lit(2.0) * a2 + a3) / 7).as("ultimate_osc"))
  }

  /** Engle-Granger cointegration screen per key vs the benchmark:
    * stage 1 hedges x on y (OLS beta from exact integer moments),
    * stage 2 runs the no-constant Dickey-Fuller regression
    * Δe_t = γ·e_{t−1} on the residual spread — γ significantly
    * below 0 is the pairs-trading signal, surfaced here with the
    * implied spread half-life −ln2/ln(1+γ). Closes quantize to
    * integer micro-units so the OLS moments are exact 128-bit
    * decimals ([[Stats.splitDouble]] conversion past 2^53); each
    * row's residual is one IEEE chain quantized back to an exact
    * micro-long via floor, so the stage-2 moments are exact at any
    * partition count. Benchmark broadcast; both stages ride the
    * same key partition. UNROUNDED outputs; non-reverting spreads
    * (γ ≥ 0) read null half-life.
    */
  def cointegration(events: DataFrame, benchmarkId: Long = 0L,
                    key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = dailyClose(events, key, ts, v)
      .withColumn("mku", floor(col("close") * 1000000).cast("long"))
      .select(col(key), col("day"), col("mku"))
    val bench = c.filter(col(key) === benchmarkId)
      .select(col("day"), col("mku").as("mbu"))
    val j = c.filter(col(key) =!= benchmarkId)
      .join(broadcast(bench), Seq("day"))
      .select(col(key), col("day"), col("mku").cast(dec).as("x"), col("mbu").cast(dec).as("y"))
    val ols = j.groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
    val nd   = col("n_days").cast("double")
    val sxd  = Stats.splitDouble(col("sx"));  val syd  = Stats.splitDouble(col("sy"))
    val sxyd = Stats.splitDouble(col("sxy")); val syyd = Stats.splitDouble(col("syy"))
    val covN = nd * sxyd - sxd * syd
    val varN = nd * syyd - syd * syd
    val olsK = ols.select(col(key), col("n_days"),
      when(varN > 0, covN / varN).as("beta"),
      when(varN > 0, sxd / nd - covN / varN * (syd / nd)).as("alpha"))
    val wSeq = Window.partitionBy(key).orderBy("day")
    val resid = j.join(olsK, Seq(key))
      .withColumn("e",
        floor(col("x").cast("double") - (col("alpha") + col("beta") * col("y").cast("double")))
          .cast("long"))
      .withColumn("ep", lag(col("e"), 1).over(wSeq))
      .filter(col("ep").isNotNull)
    val df2 = resid.groupBy(col(key))
      .agg(max(col("n_days")).as("n_days"), max(col("beta")).as("beta"),
        sum(col("ep").cast(dec) * (col("e") - col("ep"))).as("sed"),
        sum(col("ep").cast(dec) * col("ep")).as("see"))
    // the division lives INSIDE the when branch: ANSI And does not
    // short-circuit, so a bare `see > 0 && gamma < 0` would still
    // evaluate the see=0 division and throw
    val gamma = when(col("see") > 0,
      Stats.splitDouble(col("sed")) / Stats.splitDouble(col("see")))
    df2.select(col(key), col("n_days"), col("beta"),
      gamma.as("gamma"),
      // rounded 6dp (the halfLife convention): libm ln differs by
      // 1 ulp across engines on some arguments, and the division
      // amplifies it past hash-exactness
      round(when(gamma < 0 && gamma > -1,
        -lit(0.6931471805599453) / log(lit(1.0) + gamma)), 6).as("spread_half_life"))
  }

  /** Seasonal-naive forecast backtest per key: predict today's close
    * with the close `season` observations back, score MAE and MASE
    * (MAE relative to the one-step persistence baseline — the
    * standard scale-free forecast skill metric; MASE < 1 beats
    * persistence). Closes quantize to integer micro-units, so both
    * absolute-error sums are exact longs at any partition count;
    * MAE and MASE are IEEE chains from those integers, UNROUNDED.
    * Only days where BOTH lags exist score, so the two error sums
    * cover the identical day set and MASE is a fair ratio. One
    * shuffle on key (shared by the lag window and the aggregate).
    */
  def forecastBacktest(events: DataFrame, season: Int = 7,
                       key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(season >= 2, s"seasonal lag must be >= 2: $season")
    val wSeq = Window.partitionBy(key).orderBy("day")
    val m = dailyClose(events, key, ts, v)
      .withColumn("mku", floor(col("close") * 1000000).cast("long"))
      .withColumn("lagS", lag(col("mku"), season).over(wSeq))
      .withColumn("lag1", lag(col("mku"), 1).over(wSeq))
      .filter(col("lagS").isNotNull && col("lag1").isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_scored"),
        sum(abs(col("mku") - col("lagS"))).as("se_naive"),
        sum(abs(col("mku") - col("lag1"))).as("se_persist"))
    val nd  = col("n_scored").cast("double")
    val mae = col("se_naive").cast("double") / nd
    val mp  = col("se_persist").cast("double") / nd
    m.select(col(key), col("n_scored"),
      (mae / 1000000).as("mae_naive"),
      (mp / 1000000).as("mae_persist"),
      when(col("se_persist") > 0, mae / mp).as("mase"))
  }

  /** Micro-quantized observation: floor(v·1e6) as a long — the
    * integer domain the deterministic TA chains below fold in. */
  private def microQ(v: String): Column = floor(col(v) * 1000000).cast("long")

  /** Full EMA series of an array as the seeded strict left fold of
    * the recurrence y = (1−a)·y + a·x — ONE aggregate() that grows
    * the output array as it folds (NOT a transform-of-prefix-folds,
    * whose per-element slice(src, …) re-evaluates the whole upstream
    * array expression per element: measured 106s vs 7s on the gate).
    * Mirrors DuckDB's seeded list_reduce bit-for-bit — the
    * engine-portable form of nested smoothings ([[trix]] notes why
    * the closed form is not). */
  private[graft] def emaRecurrenceSeries(src: Column, a: Double): Column =
    graft.plans.KernelTable.column("graft_ema_arr", src, a)

  /** The interpreted HOF fold [[emaRecurrenceSeries]] replaced — kept
    * ONLY as the equivalence reference (TimeSeriesSpec pins the
    * codegen'd kernel bit-identical, null poisoning included). The
    * HOF is interpreted AND quadratic (concat copies the prefix per
    * element); production paths must use the kernel.
    */
  private[graft] def emaRecurrenceSeriesHof(src: Column, a: Double): Column = {
    val oma = 1 - a
    aggregate(
      slice(src, lit(2), greatest(size(src) - 1, lit(0))),
      array(element_at(src, 1)),
      (acc, x) => concat(acc, array(lit(oma) * element_at(acc, -1) + lit(a) * x)))
  }

  /** Linearly-Weighted Moving Average over the trailing n
    * observations (weight n for the newest, 1 for the oldest) — the
    * denoiser charting stacks pair with SMA when lag matters.
    * Determinism: the weighted numerator is an EXACT long
    * (Σ(n−i)·lag(qu,i) of micro-quantized values; integer adds are
    * order-free), and the output is that single integer divided by
    * the constant Σw·1e6 — ONE IEEE division of exact operands, so
    * the doubles are bit-identical cross-engine, UNROUNDED. Null
    * until the window is full (lag-null propagation, no count
    * column). One per-key window shuffle, scan-stage math.
    */
  def wma(df: DataFrame, n: Int = 10,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"wma window must be positive: $n")
    val w  = wk(key, ts)
    val qu = microQ(v)
    val wsum = (0 until n).map(i => lit(n - i) * lag(qu, i).over(w)).reduce(_ + _)
    val den  = n.toLong * (n + 1) / 2 * 1000000.0
    df.withColumn("wma", wsum.cast("double") / lit(den))
  }

  /** Hull Moving Average HMA(n) = WMA_√n(2·WMA_{n/2} − WMA_n) — the
    * low-lag smoother. All-integer to the last op: the two inner
    * WMAs stay as exact long numerators over the COMMON denominator
    * lcm(Σw_half, Σw_full)·1e6, the de-lagged series d = 2·WMA_h −
    * WMA_f is one integer combination of them, and the outer √n-WMA
    * is again an exact integer sum — ONE final IEEE division, no
    * intermediate rounding anywhere (the q_hma answer to the nested
    * closed-form EMA determinism trap [[trix]] documents). Null
    * until n+√n−2 observations exist via lag-null propagation.
    */
  def hma(df: DataFrame, n: Int = 16,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 4 && n % 2 == 0, s"hma window must be even and >= 4: $n")
    val half  = n / 2
    val sqrtN = math.sqrt(n.toDouble).round.toInt
    val w  = wk(key, ts)
    val qu = microQ(v)
    def wsumExpr(m: Int): Column =
      (0 until m).map(i => lit(m - i) * lag(qu, i).over(w)).reduce(_ + _)
    val swH = half.toLong * (half + 1) / 2
    val swF = n.toLong * (n + 1) / 2
    val lcm = {
      @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      swH / gcd(swH, swF) * swF
    }
    // d_t numerator over denominator lcm: 2·WMA_h − WMA_f
    val dNum = lit(2L * (lcm / swH)) * wsumExpr(half) - lit(lcm / swF) * wsumExpr(n)
    val d    = df.withColumn("d_num", dNum)
    val hsum = (0 until sqrtN).map(j => lit(sqrtN - j) * lag(col("d_num"), j).over(w)).reduce(_ + _)
    val denOut = (sqrtN.toLong * (sqrtN + 1) / 2 * lcm).toDouble * 1000000.0
    d.withColumn("hma", hsum.cast("double") / lit(denOut)).drop("d_num")
  }

  /** n-period Rate of Change: 100·(x_t − x_{t−n})/x_{t−n} — the raw
    * momentum percentage under every ROC-family oscillator. The
    * numerator is the exact long (qu_t − qu_{t−n})·100; the output
    * is one IEEE division of two exact integers (values are > 0 in
    * this domain, but a 0 lag still guards to NULL), UNROUNDED.
    */
  def roc(df: DataFrame, n: Int = 10,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1, s"roc lag must be positive: $n")
    val qu = microQ(v)
    val l  = lag(qu, n).over(wk(key, ts))
    df.withColumn("roc",
      when(l =!= 0, ((qu - l) * 100).cast("double") / l.cast("double")))
  }

  /** Detrended Price Oscillator DPO(n) = x_{t−(n/2+1)} − SMA_n(t):
    * price displaced past the window's center minus the trailing
    * mean, the cycle isolator that strips the trend a plain SMA
    * keeps. Numerator n·lag(qu, n/2+1) − Σlag(qu,i) is an exact
    * long; one final IEEE division by n·1e6. Null until both the
    * displaced lag and the full SMA window exist.
    */
  def dpo(df: DataFrame, n: Int = 10,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 2, s"dpo window must be >= 2: $n")
    val w    = wk(key, ts)
    val qu   = microQ(v)
    val smas = (0 until n).map(i => lag(qu, i).over(w)).reduce(_ + _)
    val num  = lit(n.toLong) * lag(qu, n / 2 + 1).over(w) - smas
    df.withColumn("dpo", num.cast("double") / lit(n * 1000000.0))
  }

  /** True Strength Index TSI(25,13) = 100 · E13(E25(mom)) /
    * E13(E25(|mom|)) over daily-close momentum — the double-smoothed
    * momentum oscillator whose sign survives noise a raw ROC flips
    * on. FOUR nested EMA recurrences: each stage is the strict left
    * fold [[emaRecurrenceSeries]] (the [[trix]] determinism finding
    * — nested closed forms do NOT survive cross-engine), mirrored by
    * DuckDB's seeded list_reduce, so numerator and denominator are
    * bit-identical doubles and TSI is one IEEE division, UNROUNDED.
    * Momentum itself is a single subtraction of identical doubles —
    * no quantization needed. DECLARED BOUNDED-GROUP QUADRATIC like
    * [[trix]] (oracle prefix folds; the Spark side is one linear
    * array pass per stage); one groupBy shuffle, no windows.
    */
  def tsi(events: DataFrame, longSpan: Int = 25, shortSpan: Int = 13,
          key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(longSpan >= 1 && shortSpan >= 1, s"spans must be positive: $longSpan, $shortSpan")
    val aL = 2.0 / (longSpan + 1)
    val aS = 2.0 / (shortSpan + 1)
    val g = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("day"), col("close")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("xs", transform(col("arr"), x => x.getField("close")))
      .withColumn("ms", zip_with(
        slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        slice(col("xs"), lit(1), greatest(size(col("xs")) - 1, lit(0))),
        (a, b) => a - b))
      .filter(size(col("ms")) >= 1)
      .withColumn("e2",  emaRecurrenceSeries(emaRecurrenceSeries(col("ms"), aL), aS))
      .withColumn("e2a", emaRecurrenceSeries(
        emaRecurrenceSeries(transform(col("ms"), abs(_)), aL), aS))
    g.select(col(key), col("days"), col("e2a"),
        posexplode(col("e2")).as(Seq("rn", "num")))
      .withColumn("den", element_at(col("e2a"), col("rn") + 1))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 2), "yyyy-MM-dd").as("day"),
        when(col("den") =!= 0, lit(100.0) * col("num") / col("den")).as("tsi"))
  }

  /** Cumulative-sum series as the seeded strict left fold of y += x
    * — the running-sum sibling of [[emaRecurrenceSeries]], mirrored
    * by DuckDB's seeded list_reduce so the partial sums accumulate
    * in IDENTICAL order (a windowed running SUM over doubles is NOT
    * portable: DuckDB tree-aggregates larger frames, the r11
    * q_heikin_ashi finding). */
  private[graft] def cumSumSeries(src: Column): Column =
    graft.plans.KernelTable.column("graft_cumsum_arr", src)

  /** HOF form of [[cumSumSeries]], kept as the spec equivalence
    * reference only (see [[emaRecurrenceSeriesHof]]).
    */
  private[graft] def cumSumSeriesHof(src: Column): Column =
    aggregate(
      slice(src, lit(2), greatest(size(src) - 1, lit(0))),
      array(element_at(src, 1)),
      (acc, x) => concat(acc, array(element_at(acc, -1) + x)))

  /** Elder's Force Index: FI_t = (close_t − close_{t−1}) · volume_t
    * on daily bars, smoothed with EMA(span) — the price-move ×
    * participation gauge under the reference's indicator-chart
    * family (app.py:470-475 analog). Determinism: closes micro-
    * quantize so every raw FI is the EXACT long Δqc·vol (surfaced as
    * that integer over the constant 1e6 — one IEEE division of exact
    * operands), and the smoothing is the strict left fold
    * [[emaRecurrenceSeries]] over those exact doubles, mirrored by
    * DuckDB's seeded list_reduce — bit-identical, UNROUNDED, no
    * overflow horizon. DECLARED BOUNDED-GROUP (per-key day count is
    * calendar-bounded) like [[tsi]]; one bar aggregate + one groupBy
    * shuffle, no windows.
    */
  def forceIndex(events: DataFrame, span: Int = 13,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(span >= 1, s"span must be positive: $span")
    val a   = 2.0 / (span + 1)
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val g = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("day"), col("close"), col("volume")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("qcs",  transform(col("arr"), x => floor(x.getField("close") * 1000000).cast("long")))
      .withColumn("vols", transform(col("arr"), x => x.getField("volume")))
      // FI_i = (qc_i − qc_{i−1}) · vol_i for i = 2..n — exact longs
      .withColumn("fis", zip_with(
        slice(col("qcs"), lit(2), greatest(size(col("qcs")) - 1, lit(0))),
        zip_with(
          slice(col("qcs"), lit(1), greatest(size(col("qcs")) - 1, lit(0))),
          slice(col("vols"), lit(2), greatest(size(col("vols")) - 1, lit(0))),
          (prev, vl) => struct(prev.as("p"), vl.as("v"))),
        (cur, pv) => ((cur - pv.getField("p")) * pv.getField("v")).cast("double")))
      .filter(size(col("fis")) >= 1)
      .withColumn("ema", emaRecurrenceSeries(col("fis"), a))
    g.select(col(key), col("days"), col("fis"),
        posexplode(col("ema")).as(Seq("rn", "fe")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 2), "yyyy-MM-dd").as("day"),
        (element_at(col("fis"), col("rn") + 1) / 1000000).as("force_raw"),
        (col("fe") / 1000000).as("force_ema"))
  }

  /** Elder-Ray bull/bear power on daily OHLC bars: bull = high −
    * EMA(span, close), bear = low − EMA(span, close) — how far the
    * day's extremes push past consensus value. The EMA is the strict
    * left fold over RAW closes (bit-identical to DuckDB's seeded
    * list_reduce, the [[trix]] determinism finding), and each power
    * is ONE subtraction of an exact bar double from that fold double
    * — deterministic cross-engine, UNROUNDED. Same bounded-group
    * fold shape as [[tsi]].
    */
  def elderRay(events: DataFrame, span: Int = 13,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(span >= 1, s"span must be positive: $span")
    val a = 2.0 / (span + 1)
    val g = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max(col(v)).as("high"), min(col(v)).as("low"),
        max_by(col(v), col(ts)).as("close"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(
        struct(col("day"), col("high"), col("low"), col("close")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("hs",   transform(col("arr"), x => x.getField("high")))
      .withColumn("ls",   transform(col("arr"), x => x.getField("low")))
      .withColumn("ema",  emaRecurrenceSeries(
        transform(col("arr"), x => x.getField("close")), a))
    g.select(col(key), col("days"), col("hs"), col("ls"),
        posexplode(col("ema")).as(Seq("rn", "e")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 1), "yyyy-MM-dd").as("day"),
        (element_at(col("hs"), col("rn") + 1) - col("e")).as("bull_power"),
        (element_at(col("ls"), col("rn") + 1) - col("e")).as("bear_power"))
  }

  /** Accumulation/Distribution Line + Chaikin oscillator on daily
    * OHLC+volume bars: per-bar money-flow volume mfv = vol ·
    * ((close−low)−(high−close))/(high−low) (flat bar → 0, the
    * [[cmf]] convention), ADL = running sum of mfv, Chaikin =
    * EMA(fast, ADL) − EMA(slow, ADL). Every mfv is ONE fixed IEEE
    * chain over exact 2dp bar doubles; the running sum is the
    * strict left fold [[cumSumSeries]] (windowed running SUM over
    * doubles is not engine-portable — DuckDB tree-aggregates), and
    * both smoothings are [[emaRecurrenceSeries]] folds of the SAME
    * adl array — all bit-identical to the DuckDB list_reduce
    * mirror, UNROUNDED. Bounded-group fold shape, one bar aggregate
    * + one groupBy shuffle.
    */
  def adlChaikin(events: DataFrame, fast: Int = 3, slow: Int = 10,
                 key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(fast >= 1 && slow > fast, s"spans must satisfy 1 <= fast < slow: $fast, $slow")
    val aF  = 2.0 / (fast + 1)
    val aS  = 2.0 / (slow + 1)
    val vol = get_json_object(col("props"), "$.k").cast("long")
    val g = events
      .withColumn("vol", coalesce(vol, lit(0L)))
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max(col(v)).as("high"), min(col(v)).as("low"),
        max_by(col(v), col(ts)).as("close"), sum(col("vol")).as("volume"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(
        col("day"), col("high"), col("low"), col("close"), col("volume")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("mfvs", transform(col("arr"), x => {
        val h = x.getField("high"); val l = x.getField("low"); val c = x.getField("close")
        when(h =!= l,
          ((c - l) - (h - c)) / (h - l) * x.getField("volume").cast("double"))
          .otherwise(lit(0.0))
      }))
      .filter(size(col("mfvs")) >= 1)
      .withColumn("adls", cumSumSeries(col("mfvs")))
      .withColumn("ef", emaRecurrenceSeries(col("adls"), aF))
      .withColumn("es", emaRecurrenceSeries(col("adls"), aS))
    g.select(col(key), col("days"), col("es"),
        posexplode_outer(arrays_zip(col("adls"), col("ef"))).as(Seq("rn", "z")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 1), "yyyy-MM-dd").as("day"),
        col("z").getField("adls").as("adl"),
        (col("z").getField("ef") - element_at(col("es"), col("rn") + 1)).as("chaikin_osc"))
  }

  /** Stochastic RSI: %K = (RSI − min_n RSI)/(max_n RSI − min_n RSI)
    * · 100 with %D = SMA(dN) of %K — the oscillator-of-an-oscillator
    * that re-normalizes RSI to its own recent range (RSI can sit at
    * 60 forever; StochRSI says where 60 sits in its window). Builds
    * on [[rsi]]'s 6dp-deterministic output: window min/max PICK
    * existing doubles, %K is one fixed IEEE chain at 6dp, %D
    * averages ≤ dN of those in frame order (the [[stochastic]] %D
    * recipe). A flat RSI window (max == min) has no defined %K —
    * null — and so are the first n−1 warm-up rows, where the
    * lookback holds fewer than n RSI values (classical StochRSI
    * leaves them undefined rather than normalizing over a short
    * window; the [[massIndex]] partial-window convention). All
    * windows share the one (key, ts) sort.
    */
  def stochRsi(events: DataFrame, n: Int = 14, dN: Int = 3,
               key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(n >= 1 && dN >= 1, s"window sizes must be positive: n=$n, dN=$dN")
    val base = rsi(events, n, key, ts, v)
    val wN = Window.partitionBy(key).orderBy(ts).rowsBetween(-(n - 1), 0)
    val wD = Window.partitionBy(key).orderBy(ts).rowsBetween(-(dN - 1), 0)
    val lo = min(col("rsi")).over(wN)
    val hi = max(col("rsi")).over(wN)
    base
      .withColumn("stoch_rsi",
        round(when(count(col("rsi")).over(wN) === n && hi =!= lo,
          (col("rsi") - lo) / (hi - lo) * 100), 6))
      // UNROUNDED: the <=dN-term average is the same sequential chain
      // in both engines, and rounding it would re-introduce the 6dp
      // half-boundary trap ((a+0)/2 is exactly representable — hit on
      // the gate fixture)
      .withColumn("stoch_rsi_d", avg(col("stoch_rsi")).over(wD))
  }

  /** Mass Index (span, sumN): Σ over the trailing sumN bars of
    * EMA(span, high−low) / EMA(span, EMA(span, high−low)) — Dorsey's
    * range-expansion detector (the "reversal bulge" trips when the
    * 25-sum crosses 27). Both smoothings are strict left folds over
    * the exact bar ranges ([[trix]] recurrence machinery), the ratio
    * is one IEEE division of bit-identical folds, and the rolling
    * sum is a SEEDED slice fold in array land — identical
    * accumulation order cross-engine, UNROUNDED. Null until sumN
    * ratios exist and on a degenerate zero denominator (an all-flat
    * prefix). Bounded-group fold shape, one bar aggregate + one
    * groupBy shuffle, no windows.
    */
  def massIndex(events: DataFrame, span: Int = 9, sumN: Int = 25,
                key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(span >= 1 && sumN >= 1, s"spans must be positive: $span, $sumN")
    val a = 2.0 / (span + 1)
    val g = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg((max(col(v)) - min(col(v))).as("rng"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("day"), col("rng")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("e1", emaRecurrenceSeries(
        transform(col("arr"), x => x.getField("rng")), a))
      .withColumn("e2", emaRecurrenceSeries(col("e1"), a))
      .withColumn("ratios", zip_with(col("e1"), col("e2"),
        (x, y) => when(y =!= 0.0, x / y)))
    g.select(col(key), col("days"), col("ratios"),
        posexplode(col("ratios")).as(Seq("rn", "ratio")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 1), "yyyy-MM-dd").as("day"),
        col("ratio").as("ema_ratio"),
        when(col("rn") + 1 >= sumN,
          aggregate(slice(col("ratios"), col("rn") + 2 - sumN, lit(sumN)),
            lit(0.0), (acc, x) => acc + x)).as("mass_index"))
  }

  /** GARCH(1,1) volatility filter with declared parameters:
    * σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1} seeded at σ²_1 = r²_1 — the
    * conditional-heteroskedasticity upgrade of [[ewmaVol]] (which is
    * the ω=0, α+β=1 special case): variance mean-reverts to
    * ω/(1−α−β) instead of wandering. Parameters are DECLARED inputs
    * (estimation is a solver problem, not a query); the recurrence
    * is the strict left fold [[emaRecurrenceSeries]] machinery
    * mirrored by DuckDB's prepended-seed list_reduce, so every σ² is
    * bit-identical cross-engine, UNROUNDED, no overflow horizon.
    * Returns are the raw double chain close/prev − 1 (identical in
    * both engines). Bounded-group fold shape, one groupBy shuffle.
    */
  def garchFilter(events: DataFrame, omega: Double = 1e-6,
                  alphaG: Double = 0.08, betaG: Double = 0.9,
                  key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(omega >= 0 && alphaG >= 0 && betaG >= 0 && alphaG + betaG < 1,
      s"need a stationary filter: omega=$omega alpha=$alphaG beta=$betaG")
    val g = events
      .groupBy(col(key), date_trunc("day", col(ts)).as("day"))
      .agg(max_by(col(v), col(ts)).as("close"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("day"), col("close")))).as("arr"))
      .withColumn("days", transform(col("arr"), x => x.getField("day")))
      .withColumn("xs", transform(col("arr"), x => x.getField("close")))
      .withColumn("rs", zip_with(
        slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        slice(col("xs"), lit(1), greatest(size(col("xs")) - 1, lit(0))),
        (c, p) => when(p =!= 0, c / p - 1)))
      .filter(size(col("rs")) >= 1)
      .withColumn("sg", aggregate(
        slice(col("rs"), lit(1), greatest(size(col("rs")) - 1, lit(0))),
        array(element_at(col("rs"), 1) * element_at(col("rs"), 1)),
        (acc, x) => concat(acc, array(
          lit(omega) + lit(alphaG) * x * x + lit(betaG) * element_at(acc, -1)))))
    g.select(col(key), col("days"), col("rs"),
        posexplode(col("sg")).as(Seq("rn", "sigma2")))
      .select(col(key),
        date_format(element_at(col("days"), col("rn") + 2), "yyyy-MM-dd").as("day"),
        element_at(col("rs"), col("rn") + 1).as("ret"),
        col("sigma2"),
        sqrt(col("sigma2")).as("sigma"))
  }

  /** Kupiec proportion-of-failures VaR backtest per key: estimate
    * historical VaR on the FIRST half of the series (the
    * [[varHistorical]] discrete order statistic — an actual observed
    * return, no interpolation), count out-of-sample violations on
    * the SECOND half with exact micro-return compares, and report
    * the POF likelihood ratio LR = −2[(n−x)ln(1−p) + x·ln p −
    * (n−x)ln(1−x/n) − x·ln(x/n)] (~χ²₁ under a correct model) — the
    * does-the-VaR-hold-up validation beside q_var_historical. All
    * counts exact longs; LR is one fixed ln chain, UNROUNDED; the
    * x = 0 / x = n corners collapse their ln(0)·0 terms to 0 as the
    * statistic prescribes. Two rank windows + one co-partitioned
    * per-key join.
    */
  def kupiecPof(events: DataFrame, alpha: Double = 0.05,
                key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val wP = Window.partitionBy(key)
    val rets = dailyCloseReturns(events, key, ts, v)
      .withColumn("mk", floor(col("ret") * 1000000).cast("long"))
      .withColumn("drn", row_number().over(wP.orderBy("day")))
      .withColumn("n_all", count(lit(1)).over(wP))
    val thr = rets.filter(col("drn") <= expr("n_all div 2"))
      .withColumn("rn", row_number().over(wP.orderBy(col("mk").asc, col("day").asc)))
      .withColumn("n_tr", count(lit(1)).over(wP))
      .filter(col("rn") === ceil(col("n_tr") * alpha).cast("long"))
      .select(col(key), col("mk").as("thr_mk"), col("n_tr"))
    val agg = rets.filter(col("drn") > expr("n_all div 2"))
      .join(thr, Seq(key))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("mk") < col("thr_mk"), 1L).otherwise(0L)).as("n_viol"),
        max(col("thr_mk")).as("thr_mk"),
        max(col("n_tr")).as("n_train"))
    val n = col("n_test").cast("double")
    val x = col("n_viol").cast("double")
    val term0 = (n - x) * lit(math.log(1 - alpha)) + x * lit(math.log(alpha))
    val termHat = when(col("n_viol") > 0 && col("n_viol") < col("n_test"),
      (n - x) * log(lit(1.0) - x / n) + x * log(x / n)).otherwise(lit(0.0))
    // 6dp: the ln() constants are libm calls whose last ulp is not a
    // cross-engine contract (the perplexity/pmi convention)
    agg.select(col(key), col("n_train"), col("n_test"), col("n_viol"),
      (col("thr_mk").cast("double") / 1000000.0).as("var_threshold"),
      round(lit(-2.0) * (term0 - termHat), 6).as("kupiec_lr"))
  }

  /** Coppock curve on daily closes: WMA(wN) of ROC(n1) + ROC(n2)
    * (classic 10/14/11 on the month grain; here the day grain — the
    * long-horizon momentum bottom-finder). Each ROC is ONE IEEE
    * division of exact micro-longs; the weighted sum is an EXPLICIT
    * lag chain summed in fixed expression order (never a windowed
    * float SUM — the engine-portability rule), divided once by the
    * constant Σw — deterministic cross-engine, UNROUNDED. Null
    * until all wN lags of both ROCs exist. One (key, day) sort.
    */
  def coppock(events: DataFrame, wN: Int = 10, n1: Int = 14, n2: Int = 11,
              key: String = "user_id", ts: String = "ts", v: String = "value"): DataFrame = {
    require(wN >= 1 && n1 >= 1 && n2 >= 1, s"windows must be positive: $wN, $n1, $n2")
    val w  = Window.partitionBy(key).orderBy("day")
    val qc = floor(col("close") * 1000000).cast("long")
    def rocN(m: Int): Column = {
      val l = lag(qc, m).over(w)
      when(l =!= 0, ((qc - l) * 100).cast("double") / l.cast("double"))
    }
    val withRoc = dailyClose(events, key, ts, v)
      .withColumn("roc_sum", rocN(n1) + rocN(n2))
    val wsum = (0 until wN)
      .map(i => lit((wN - i).toDouble) * lag(col("roc_sum"), i).over(w))
      .reduce(_ + _)
    withRoc
      .withColumn("coppock", wsum / lit((wN.toLong * (wN + 1) / 2).toDouble))
      .select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"), col("coppock"))
  }
}
