package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.{DailyClose, dailyClose, dailyReturns, margined}

/** The declared queries of price-series analytics: returns,
  * indicators, risk and as-of joins: those whose closures call
  * [[graft.operators.TimeSeries]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object TimeSeriesQueries {

  val all: Seq[Query] = Seq(
    Query("q_asof_join", (s, dir) =>
      TimeSeries.asOfJoin(Tables.events(s, dir), "purchase", "view").orderBy("user_id", "ts_us"),
      """SELECT t.user_id, epoch_us(t.ts) AS ts_us, t.value, q.value AS asof_val
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts
        |ORDER BY t.user_id, ts_us""".stripMargin),
    Query("q_asof_tolerance", (s, dir) =>
      TimeSeries.asOfJoinTolerance(Tables.events(s, dir), "purchase", "view", 120)
        .orderBy("user_id", "ts_us"),
      """SELECT t.user_id, epoch_us(t.ts) AS ts_us, t.value,
        |  CASE WHEN epoch_us(t.ts) - epoch_us(q.ts) <= 7200000000 THEN q.value END AS asof_val,
        |  CASE WHEN epoch_us(t.ts) - epoch_us(q.ts) <= 7200000000 THEN epoch_us(t.ts) - epoch_us(q.ts) END AS asof_age_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts
        |ORDER BY t.user_id, ts_us""".stripMargin),
    Query("q_asof_global", (s, dir) => {
      val ev     = Tables.events(s, dir)
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val quotes = ev.filter(col("user_id") === 0 && col("event_type") === "view")
        .select(col("ts"), col("value"))
      graft.plans.AsOfJoinApi
        .globalAsOfJoin(trades, quotes, "ts", "ts", "value")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"), col("asof_val"))
        .orderBy("event_id")
    },
      """SELECT t.event_id, t.user_id, epoch_us(t.ts) AS ts_us, t.value, q.value AS asof_val
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
        |ASOF LEFT JOIN (SELECT ts, value FROM events WHERE user_id = 0 AND event_type = 'view') q
        |  ON q.ts <= t.ts
        |ORDER BY t.event_id""".stripMargin),
    Query("q_monthly_returns", (s, dir) =>
      TimeSeries.monthlyReturns(Tables.events(s, dir))
        .withColumn("month", date_format(col("month"), "yyyy-MM"))
        .orderBy("user_id", "month"),
      """WITH m AS (
        |  SELECT user_id, date_trunc('month', ts) AS month, max_by(value, ts) AS close
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, strftime(month, '%Y-%m') AS month,
        |  close,
        |  CASE WHEN lag(close) OVER w != 0 THEN close / lag(close) OVER w - 1 END AS mret
        |FROM m WINDOW w AS (PARTITION BY user_id ORDER BY month)
        |ORDER BY user_id, month""".stripMargin),
    Query("q_concentration", (s, dir) =>
      TimeSeries.concentration(Tables.events(s, dir), 10, 10).orderBy("portfolio"),
      """WITH latest AS (
        |  SELECT user_id, CAST(max_by(value, ts) AS DECIMAL(18,2)) AS level,
        |    user_id % 10 AS portfolio
        |  FROM events GROUP BY user_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY portfolio ORDER BY level DESC, user_id ASC) AS rnk
        |  FROM latest
        |)
        |, m AS (
        |  SELECT portfolio, count(*) AS n_holdings,
        |    CAST(sum(CASE WHEN rnk <= 10 THEN level END) AS DOUBLE) / CAST(sum(level) AS DOUBLE) AS top_share,
        |    CAST(max(level) AS DOUBLE) / CAST(sum(level) AS DOUBLE) AS max_weight,
        |    CAST(sum(level * level) AS DOUBLE) / (CAST(sum(level) AS DOUBLE) * CAST(sum(level) AS DOUBLE)) AS hhi
        |  FROM r GROUP BY portfolio
        |)
        |SELECT portfolio, n_holdings,
        |  top_share,
        |  CASE WHEN top_share > 0.5 THEN 'exceeds' WHEN top_share > 0.5 * 0.9 THEN 'approaching' ELSE 'within' END AS top_share_status,
        |  max_weight,
        |  CASE WHEN max_weight > 0.25 THEN 'exceeds' WHEN max_weight > 0.25 * 0.9 THEN 'approaching' ELSE 'within' END AS max_weight_status,
        |  hhi,
        |  CASE WHEN hhi > 0.15 THEN 'exceeds' WHEN hhi > 0.15 * 0.9 THEN 'approaching' ELSE 'within' END AS hhi_status
        |FROM m ORDER BY portfolio""".stripMargin),
    Query("q_daily_returns", (s, dir) =>
      TimeSeries
        .dailyReturns(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ret"))
        .orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN lag(value) OVER w != 0 THEN value / lag(value) OVER w - 1 END AS ret
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |QUALIFY CASE WHEN lag(value) OVER w != 0 THEN value / lag(value) OVER w - 1 END IS NOT NULL
        |ORDER BY user_id, ts_us""".stripMargin),
    Query("q_metrics_summary", (s, dir) =>
      TimeSeries
        .metricsSummary(TimeSeries.dailyReturns(Tables.events(s, dir)))
        .orderBy("user_id"),
      """WITH r AS (
        |  SELECT user_id,
        |    CASE WHEN lag(value) OVER w != 0 THEN value / lag(value) OVER w - 1 END AS ret
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |  QUALIFY ret IS NOT NULL
        |)
        |SELECT user_id,
        |  round(avg(ret) * 252, 6) AS ann_return,
        |  round(stddev_samp(ret) * sqrt(252), 6) AS volatility,
        |  round(CASE WHEN stddev_samp(ret) != 0
        |    THEN (avg(ret) * 252) / (stddev_samp(ret) * sqrt(252)) END, 6) AS sharpe
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_ytd_return", (s, dir) =>
      TimeSeries.ytdReturn(Tables.events(s, dir)).orderBy("user_id"),
      """SELECT user_id,
        |  CASE WHEN min_by(value, ts) != 0 THEN max_by(value, ts) / min_by(value, ts) - 1 END AS ytd_return
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_max_drawdown", (s, dir) =>
      TimeSeries.maxDrawdown(Tables.events(s, dir)).orderBy("user_id"),
      """WITH rm AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
        |  FROM events
        |)
        |SELECT user_id, min(CASE WHEN run_max != 0 THEN value / run_max - 1 END) AS max_drawdown
        |FROM rm GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_drawdown_duration", (s, dir) =>
      TimeSeries.drawdownDuration(Tables.events(s, dir)).orderBy("user_id"),
      """WITH rm AS (
        |  SELECT user_id, ts, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
        |  FROM events
        |), u AS (
        |  SELECT user_id, ts,
        |    CASE WHEN value < run_max THEN 1 ELSE 0 END AS under
        |  FROM rm
        |), s AS (
        |  SELECT user_id, under,
        |    sum(1 - under) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS streak_id
        |  FROM u
        |), l AS (
        |  SELECT user_id, streak_id, CAST(sum(under) AS BIGINT) AS streak_len
        |  FROM s GROUP BY user_id, streak_id
        |)
        |SELECT user_id, max(streak_len) AS max_underwater_run
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_portfolio_return", (s, dir) =>
      TimeSeries.portfolioReturn(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day"),
      s"""WITH latest AS (
        |  SELECT user_id, max_by(value, ts) AS level FROM events GROUP BY user_id
        |), tot AS (
        |  SELECT CAST(sum(CAST(level AS DECIMAL(18,2))) AS DOUBLE) AS total_level FROM latest
        |), w AS (
        |  SELECT user_id, level / total_level AS w FROM latest CROSS JOIN tot
        |), dc AS (
        ${dailyClose("        ")}
        |), r AS (
        |  SELECT user_id, day,
        |    CASE WHEN lag(close) OVER win != 0 THEN close / lag(close) OVER win - 1 END AS ret
        |  FROM dc WINDOW win AS (PARTITION BY user_id ORDER BY day)
        |  QUALIFY ret IS NOT NULL
        |)
        |SELECT strftime(r.day, '%Y-%m-%d') AS day,
        |  round(sum(w.w * r.ret), 6) AS port_ret
        |FROM r JOIN w USING (user_id)
        |GROUP BY r.day ORDER BY day""".stripMargin),
    Query("q_cumulative_returns", (s, dir) =>
      TimeSeries
        .cumulativeReturns(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("cum_return"))
        .orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN first_value(value) OVER w != 0 THEN value / first_value(value) OVER w END AS cum_return
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us""".stripMargin),
    Query("q_sma", (s, dir) =>
      TimeSeries
        .sma(Tables.events(s, dir), 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("sma"))
        .orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS sma
        |FROM events ORDER BY user_id, ts_us""".stripMargin),
    Query("q_ema", (s, dir) =>
      TimeSeries
        .ema(Tables.events(s, dir), 20)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ema"))
        .orderBy("user_id", "ts_us"),
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
        |  FROM events
        |), g AS (
        |  SELECT *, CASE WHEN rn = 0 THEN value ELSE (2.0/21) * value * pow(1 - 2.0/21, -rn) END AS gg
        |  FROM o
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |  round(pow(1 - 2.0/21, rn) * sum(gg) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ema
        |FROM g ORDER BY user_id, ts_us""".stripMargin),
    Query("q_wma", (s, dir) =>
      TimeSeries
        .wma(Tables.events(s, dir), 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("wma"))
        .orderBy("user_id", "ts_us"),
      // exact-integer weighted numerator, ONE final IEEE division of
      // exact operands -> bit-identical doubles, UNROUNDED
      """WITH q AS (
        |  SELECT user_id, ts, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), l AS (
        |  SELECT user_id, ts,
        |    10*lag(qu,0) OVER w + 9*lag(qu,1) OVER w + 8*lag(qu,2) OVER w
        |    + 7*lag(qu,3) OVER w + 6*lag(qu,4) OVER w + 5*lag(qu,5) OVER w
        |    + 4*lag(qu,6) OVER w + 3*lag(qu,7) OVER w + 2*lag(qu,8) OVER w
        |    + 1*lag(qu,9) OVER w AS wsum
        |  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(wsum AS DOUBLE) / 55000000.0 AS wma
        |FROM l ORDER BY user_id, ts_us""".stripMargin),
    Query("q_hma", (s, dir) =>
      TimeSeries
        .hma(Tables.events(s, dir), 16)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("hma"))
        .orderBy("user_id", "ts_us"),
      // HMA(16): d = 68*WMA8num - 9*WMA16num over common denominator
      // 1224; outer WMA4 of d_num; single division by 10*1224*1e6
      """WITH q AS (
        |  SELECT user_id, ts, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), l AS (
        |  SELECT user_id, ts,
        |    68*(8*lag(qu,0) OVER w + 7*lag(qu,1) OVER w + 6*lag(qu,2) OVER w
        |        + 5*lag(qu,3) OVER w + 4*lag(qu,4) OVER w + 3*lag(qu,5) OVER w
        |        + 2*lag(qu,6) OVER w + 1*lag(qu,7) OVER w)
        |    - 9*(16*lag(qu,0) OVER w + 15*lag(qu,1) OVER w + 14*lag(qu,2) OVER w
        |        + 13*lag(qu,3) OVER w + 12*lag(qu,4) OVER w + 11*lag(qu,5) OVER w
        |        + 10*lag(qu,6) OVER w + 9*lag(qu,7) OVER w + 8*lag(qu,8) OVER w
        |        + 7*lag(qu,9) OVER w + 6*lag(qu,10) OVER w + 5*lag(qu,11) OVER w
        |        + 4*lag(qu,12) OVER w + 3*lag(qu,13) OVER w + 2*lag(qu,14) OVER w
        |        + 1*lag(qu,15) OVER w) AS d_num
        |  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), h AS (
        |  SELECT user_id, ts,
        |    4*lag(d_num,0) OVER w2 + 3*lag(d_num,1) OVER w2
        |    + 2*lag(d_num,2) OVER w2 + 1*lag(d_num,3) OVER w2 AS hsum
        |  FROM l WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(hsum AS DOUBLE) / 12240000000.0 AS hma
        |FROM h ORDER BY user_id, ts_us""".stripMargin),
    Query("q_roc", (s, dir) =>
      TimeSeries
        .roc(Tables.events(s, dir), 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("roc"))
        .orderBy("user_id", "ts_us"),
      """WITH q AS (
        |  SELECT user_id, ts, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), l AS (
        |  SELECT user_id, ts, qu, lag(qu, 10) OVER (PARTITION BY user_id ORDER BY ts) AS lq
        |  FROM q
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN lq <> 0 THEN CAST((qu - lq) * 100 AS DOUBLE) / CAST(lq AS DOUBLE) END AS roc
        |FROM l ORDER BY user_id, ts_us""".stripMargin),
    Query("q_dpo", (s, dir) =>
      TimeSeries
        .dpo(Tables.events(s, dir), 10)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("dpo"))
        .orderBy("user_id", "ts_us"),
      """WITH q AS (
        |  SELECT user_id, ts, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), l AS (
        |  SELECT user_id, ts,
        |    10*lag(qu,6) OVER w
        |    - (lag(qu,0) OVER w + lag(qu,1) OVER w + lag(qu,2) OVER w + lag(qu,3) OVER w
        |       + lag(qu,4) OVER w + lag(qu,5) OVER w + lag(qu,6) OVER w + lag(qu,7) OVER w
        |       + lag(qu,8) OVER w + lag(qu,9) OVER w) AS num
        |  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(num AS DOUBLE) / 10000000.0 AS dpo
        |FROM l ORDER BY user_id, ts_us""".stripMargin),
    Query("q_tsi", (s, dir) =>
      TimeSeries.tsi(Tables.events(s, dir)).orderBy("user_id", "day"),
      // four nested EMA recurrences as seeded strict left folds (the
      // q_trix determinism finding); TSI = one IEEE division of
      // bit-identical doubles, UNROUNDED
      s"""WITH bars AS (
        ${dailyClose("        ")}
        |), l0 AS (
        |  SELECT user_id, list(close ORDER BY day) AS xs, list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), m AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(2, len(xs)), i -> xs[i] - xs[i-1]) AS ms
        |  FROM l0 WHERE len(xs) >= 2
        |), r1 AS (
        |  SELECT user_id, ds, ms, unnest(generate_series(1, len(ms))) AS rn FROM m
        |), v1 AS (
        |  SELECT user_id, ds, rn,
        |    list_reduce(ms[1:rn], (y, x) -> (1 - 2.0/26) * y + (2.0/26) * x) AS e1,
        |    list_reduce(list_transform(ms[1:rn], z -> abs(z)),
        |      (y, x) -> (1 - 2.0/26) * y + (2.0/26) * x) AS e1a
        |  FROM r1
        |), l1 AS (
        |  SELECT user_id, any_value(ds) AS ds,
        |    list(e1 ORDER BY rn) AS e1s, list(e1a ORDER BY rn) AS e1as
        |  FROM v1 GROUP BY user_id
        |), r2 AS (
        |  SELECT user_id, ds, e1s, e1as, unnest(generate_series(1, len(e1s))) AS rn FROM l1
        |), v2 AS (
        |  SELECT user_id, ds, rn,
        |    list_reduce(e1s[1:rn], (y, x) -> (1 - 2.0/14) * y + (2.0/14) * x) AS e2,
        |    list_reduce(e1as[1:rn], (y, x) -> (1 - 2.0/14) * y + (2.0/14) * x) AS e2a
        |  FROM r2
        |)
        |SELECT user_id, strftime(ds[rn + 1], '%Y-%m-%d') AS day,
        |  CASE WHEN e2a != 0 THEN 100.0 * e2 / e2a END AS tsi
        |FROM v2
        |ORDER BY user_id, day""".stripMargin),
    Query("q_force_index", (s, dir) =>
      TimeSeries.forceIndex(Tables.events(s, dir)).orderBy("user_id", "day"),
      // raw FI is the exact long Δqc·vol over constant 1e6; the EMA(13)
      // is the seeded strict-left-fold recurrence (q_trix finding),
      // bit-identical to Spark's aggregate() fold — UNROUNDED
      s"""${volumeBars("        ")}
        |), l0 AS (
        |  SELECT user_id,
        |    list(CAST(floor(close * 1000000) AS BIGINT) ORDER BY day) AS qcs,
        |    list(volume ORDER BY day) AS vols,
        |    list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), m AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(2, len(qcs)),
        |      i -> CAST((qcs[i] - qcs[i-1]) * vols[i] AS DOUBLE)) AS fis
        |  FROM l0 WHERE len(qcs) >= 2
        |), r AS (
        |  SELECT user_id, ds, fis, unnest(generate_series(1, len(fis))) AS rn FROM m
        |)
        |SELECT user_id, strftime(ds[rn + 1], '%Y-%m-%d') AS day,
        |  fis[rn] / 1000000 AS force_raw,
        |  list_reduce(fis[1:rn], (y, x) -> (1 - 2.0/14) * y + (2.0/14) * x) / 1000000 AS force_ema
        |FROM r ORDER BY user_id, day""".stripMargin),
    Query("q_stoch_rsi", (s, dir) =>
      TimeSeries.stochRsi(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("rsi"), col("stoch_rsi"), col("stoch_rsi_d"))
        .orderBy("user_id", "ts_us"),
      // builds on q_rsi's 6dp chain: window min/max PICK existing
      // doubles, %K one fixed chain at 6dp, %D the stochastic recipe
      """WITH d AS (
        |  SELECT user_id, ts,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta
        |  FROM events
        |  QUALIFY delta IS NOT NULL
        |), o AS (
        |  SELECT user_id, ts, delta,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
        |  FROM d
        |), g AS (
        |  SELECT *,
        |    CASE WHEN rn = 0 THEN greatest(delta, 0) ELSE (1.0/14) * greatest(delta, 0) * pow(1 - 1.0/14, -rn) END AS gg,
        |    CASE WHEN rn = 0 THEN greatest(-delta, 0) ELSE (1.0/14) * greatest(-delta, 0) * pow(1 - 1.0/14, -rn) END AS gl
        |  FROM o
        |), s AS (
        |  SELECT user_id, ts,
        |    pow(1 - 1.0/14, rn) * sum(gg) OVER wr AS avg_gain,
        |    pow(1 - 1.0/14, rn) * sum(gl) OVER wr AS avg_loss
        |  FROM g
        |  WINDOW wr AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), r AS (
        |  SELECT user_id, ts,
        |    round(CASE WHEN avg_loss != 0 THEN 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) ELSE 100.0 END, 6) AS rsi
        |  FROM s
        |), k AS (
        |  SELECT user_id, ts, rsi,
        |    min(rsi) OVER wn AS lo, max(rsi) OVER wn AS hi,
        |    count(rsi) OVER wn AS nw
        |  FROM r
        |  WINDOW wn AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |), k2 AS (
        |  SELECT user_id, ts, rsi,
        |    round(CASE WHEN nw = 14 AND hi != lo THEN (rsi - lo) / (hi - lo) * 100 END, 6) AS stoch_rsi
        |  FROM k
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, rsi, stoch_rsi,
        |  avg(stoch_rsi) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS stoch_rsi_d
        |FROM k2 ORDER BY user_id, ts_us""".stripMargin),
    Query("q_mass_index", (s, dir) =>
      TimeSeries.massIndex(Tables.events(s, dir)).orderBy("user_id", "day"),
      // both smoothings are seeded strict left folds; the rolling
      // 25-sum is a seeded slice fold — identical accumulation order
      // cross-engine, UNROUNDED
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, max(value) - min(value) AS rng
        |  FROM events GROUP BY 1, 2
        |), l0 AS (
        |  SELECT user_id, list(rng ORDER BY day) AS rs, list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), e1t AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(1, len(rs)),
        |      i -> list_reduce(rs[1:i], (y, x) -> (1 - 2.0/10) * y + (2.0/10) * x)) AS e1
        |  FROM l0
        |), e2t AS (
        |  SELECT user_id, ds, e1,
        |    list_transform(generate_series(1, len(e1)),
        |      i -> list_reduce(e1[1:i], (y, x) -> (1 - 2.0/10) * y + (2.0/10) * x)) AS e2
        |  FROM e1t
        |), rt AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(1, len(e1)),
        |      i -> CASE WHEN e2[i] != 0 THEN e1[i] / e2[i] END) AS ratios
        |  FROM e2t
        |), rr AS (
        |  SELECT user_id, ds, ratios, unnest(generate_series(1, len(ratios))) AS rn FROM rt
        |)
        |SELECT user_id, strftime(ds[rn], '%Y-%m-%d') AS day,
        |  ratios[rn] AS ema_ratio,
        |  CASE WHEN rn >= 25 THEN list_reduce(ratios[rn-24:rn], (a, b) -> a + b) END AS mass_index
        |FROM rr ORDER BY user_id, day""".stripMargin),
    Query("q_coppock", (s, dir) =>
      TimeSeries.coppock(Tables.events(s, dir)).orderBy("user_id", "day"),
      // each ROC is one IEEE division of exact micro-longs; the
      // weighted sum is an explicit left-associated lag chain (never a
      // windowed float SUM), one constant division — UNROUNDED
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), q AS (
        |  SELECT user_id, day, CAST(floor(close * 1000000) AS BIGINT) AS qc FROM dc
        |), r AS (
        |  SELECT user_id, day,
        |    (CASE WHEN lag(qc, 14) OVER w != 0
        |      THEN CAST((qc - lag(qc, 14) OVER w) * 100 AS DOUBLE) / CAST(lag(qc, 14) OVER w AS DOUBLE) END)
        |    + (CASE WHEN lag(qc, 11) OVER w != 0
        |      THEN CAST((qc - lag(qc, 11) OVER w) * 100 AS DOUBLE) / CAST(lag(qc, 11) OVER w AS DOUBLE) END) AS roc_sum
        |  FROM q WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  (10.0 * roc_sum + 9.0 * lag(roc_sum, 1) OVER w2 + 8.0 * lag(roc_sum, 2) OVER w2
        |   + 7.0 * lag(roc_sum, 3) OVER w2 + 6.0 * lag(roc_sum, 4) OVER w2
        |   + 5.0 * lag(roc_sum, 5) OVER w2 + 4.0 * lag(roc_sum, 6) OVER w2
        |   + 3.0 * lag(roc_sum, 7) OVER w2 + 2.0 * lag(roc_sum, 8) OVER w2
        |   + 1.0 * lag(roc_sum, 9) OVER w2) / 55.0 AS coppock
        |FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY day)
        |ORDER BY user_id, day""".stripMargin),
    Query("q_elder_ray", (s, dir) =>
      TimeSeries.elderRay(Tables.events(s, dir)).orderBy("user_id", "day"),
      // bull/bear power = exact bar double minus the EMA(13) strict
      // left fold over raw closes — one subtraction, UNROUNDED
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    max(value) AS high, min(value) AS low, max_by(value, ts) AS close
        |  FROM events GROUP BY 1, 2
        |), l0 AS (
        |  SELECT user_id,
        |    list(high ORDER BY day) AS hs, list(low ORDER BY day) AS ls,
        |    list(close ORDER BY day) AS cs, list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), r AS (
        |  SELECT user_id, ds, hs, ls, cs, unnest(generate_series(1, len(cs))) AS rn FROM l0
        |)
        |SELECT user_id, strftime(ds[rn], '%Y-%m-%d') AS day,
        |  hs[rn] - list_reduce(cs[1:rn], (y, x) -> (1 - 2.0/14) * y + (2.0/14) * x) AS bull_power,
        |  ls[rn] - list_reduce(cs[1:rn], (y, x) -> (1 - 2.0/14) * y + (2.0/14) * x) AS bear_power
        |FROM r ORDER BY user_id, day""".stripMargin),
    Query("q_adl_chaikin", (s, dir) =>
      TimeSeries.adlChaikin(Tables.events(s, dir)).orderBy("user_id", "day"),
      // mfv is one fixed IEEE chain per bar; ADL is the strict-left
      // cumsum fold (windowed running SUM over doubles is not engine-
      // portable — DuckDB tree-aggregates); both smoothings fold the
      // SAME adl list — all UNROUNDED
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    max(value) AS high, min(value) AS low, max_by(value, ts) AS close,
        |    CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS volume
        |  FROM events GROUP BY 1, 2
        |), l0 AS (
        |  SELECT user_id,
        |    list(CASE WHEN high != low
        |         THEN ((close - low) - (high - close)) / (high - low) * CAST(volume AS DOUBLE)
        |         ELSE 0.0 END ORDER BY day) AS mfvs,
        |    list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), a AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(1, len(mfvs)),
        |      i -> list_reduce(mfvs[1:i], (y, x) -> y + x)) AS adls
        |  FROM l0 WHERE len(mfvs) >= 1
        |), r AS (
        |  SELECT user_id, ds, adls, unnest(generate_series(1, len(adls))) AS rn FROM a
        |)
        |SELECT user_id, strftime(ds[rn], '%Y-%m-%d') AS day,
        |  adls[rn] AS adl,
        |  list_reduce(adls[1:rn], (y, x) -> (1 - 2.0/4) * y + (2.0/4) * x)
        |    - list_reduce(adls[1:rn], (y, x) -> (1 - 2.0/11) * y + (2.0/11) * x) AS chaikin_osc
        |FROM r ORDER BY user_id, day""".stripMargin),
    Query("q_ema_fold", (s, dir) =>
      TimeSeries.emaFold(Tables.events(s, dir), 20).orderBy("user_id"),
      // DuckDB list_reduce folds left seeded with the first element —
      // the exact arithmetic of EmaAggregate.eval (y = a*x + (1-a)*y in
      // ts order), so the doubles are bit-identical, not just close
      """SELECT user_id,
        |  round(list_reduce(list(value ORDER BY ts), (y, x) -> (2.0/21)*x + (1 - 2.0/21)*y), 6) AS ema_final
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_trend_flag", (s, dir) =>
      TimeSeries
        .trendFlag(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("uptrend"))
        .orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  CAST(value > lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS INT) AS uptrend
        |FROM events
        |QUALIFY lag(value) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
        |ORDER BY user_id, ts_us""".stripMargin),
    Query("q_sortino", (s, dir) =>
      TimeSeries
        .sortino(TimeSeries.dailyReturns(Tables.events(s, dir)))
        .orderBy("user_id"),
      """WITH r AS (
        |  SELECT user_id,
        |    CASE WHEN lag(value) OVER w != 0 THEN value / lag(value) OVER w - 1 END AS ret
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |  QUALIFY ret IS NOT NULL
        |)
        |SELECT user_id,
        |  round(CASE WHEN stddev_pop(CASE WHEN ret - 0.01/252 < 0 THEN ret - 0.01/252 END) != 0
        |    THEN avg(ret - 0.01/252) / stddev_pop(CASE WHEN ret - 0.01/252 < 0 THEN ret - 0.01/252 END) END, 6) AS sortino
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_tracking_error", (s, dir) =>
      TimeSeries.trackingError(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0)
        |SELECT r.user_id,
        |  round(stddev_pop(r.ret - b.bench_ret) * sqrt(252) * 100, 6) AS tracking_error_pct
        |FROM r JOIN b USING (day)
        |WHERE r.user_id != 0
        |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin),
    Query("q_alpha_beta", (s, dir) =>
      TimeSeries.alphaBeta(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0)
        |SELECT r.user_id,
        |  round(CASE WHEN var_samp(b.bench_ret) != 0
        |    THEN covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) END, 6) AS beta,
        |  round(CASE WHEN var_samp(b.bench_ret) != 0
        |    THEN (avg(r.ret) - covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) * avg(b.bench_ret)) * 252 END, 6) AS alpha,
        |  round(CASE WHEN var_samp(r.ret) != 0 AND var_samp(b.bench_ret) != 0
        |    THEN pow(corr(r.ret, b.bench_ret), 2) END, 6) AS r_squared
        |FROM r JOIN b USING (day)
        |WHERE r.user_id != 0
        |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin),
    Query("q_rsi", (s, dir) =>
      TimeSeries.rsi(Tables.events(s, dir), 14)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("rsi"))
        .orderBy("user_id", "ts_us"),
      """WITH d AS (
        |  SELECT user_id, ts,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta
        |  FROM events
        |  QUALIFY delta IS NOT NULL
        |), o AS (
        |  SELECT user_id, ts, delta,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
        |  FROM d
        |), g AS (
        |  SELECT *,
        |    CASE WHEN rn = 0 THEN greatest(delta, 0) ELSE (1.0/14) * greatest(delta, 0) * pow(1 - 1.0/14, -rn) END AS gg,
        |    CASE WHEN rn = 0 THEN greatest(-delta, 0) ELSE (1.0/14) * greatest(-delta, 0) * pow(1 - 1.0/14, -rn) END AS gl
        |  FROM o
        |), s AS (
        |  SELECT user_id, ts,
        |    pow(1 - 1.0/14, rn) * sum(gg) OVER wr AS avg_gain,
        |    pow(1 - 1.0/14, rn) * sum(gl) OVER wr AS avg_loss
        |  FROM g
        |  WINDOW wr AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |  round(CASE WHEN avg_loss != 0 THEN 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) ELSE 100.0 END, 6) AS rsi
        |FROM s ORDER BY user_id, ts_us""".stripMargin),
    Query("q_macd", (s, dir) =>
      TimeSeries.macd(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("macd"), col("signal"), col("hist"))
        .orderBy("user_id", "ts_us"),
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
        |  FROM events
        |), f AS (
        |  SELECT *,
        |    CASE WHEN rn = 0 THEN value ELSE (2.0/13) * value * pow(1 - 2.0/13, -rn) END AS gf,
        |    CASE WHEN rn = 0 THEN value ELSE (2.0/27) * value * pow(1 - 2.0/27, -rn) END AS gs
        |  FROM o
        |), e AS (
        |  SELECT user_id, ts, rn,
        |    pow(1 - 2.0/13, rn) * sum(gf) OVER wr AS ema_fast,
        |    pow(1 - 2.0/27, rn) * sum(gs) OVER wr AS ema_slow
        |  FROM f
        |  WINDOW wr AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), m AS (
        |  SELECT *, ema_fast - ema_slow AS macd FROM e
        |), g AS (
        |  SELECT *, CASE WHEN rn = 0 THEN macd ELSE (2.0/10) * macd * pow(1 - 2.0/10, -rn) END AS gm
        |  FROM m
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, round(macd, 6) AS macd,
        |  round(pow(1 - 2.0/10, rn) * sum(gm) OVER wr, 6) AS signal,
        |  round(macd - pow(1 - 2.0/10, rn) * sum(gm) OVER wr, 6) AS hist
        |FROM g
        |WINDOW wr AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us""".stripMargin),
    Query("q_bollinger", (s, dir) =>
      TimeSeries.bollinger(Tables.events(s, dir), 20, 2.0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("mid"), col("upper"), col("lower"))
        .orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  round(avg(value) OVER w, 6) AS mid,
        |  round(avg(value) OVER w + 2.0 * (CASE WHEN count(*) OVER w >= 2 THEN stddev_samp(value) OVER w END), 6) AS upper,
        |  round(avg(value) OVER w - 2.0 * (CASE WHEN count(*) OVER w >= 2 THEN stddev_samp(value) OVER w END), 6) AS lower
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us""".stripMargin),
    Query("q_stochastic", (s, dir) =>
      TimeSeries.stochastic(Tables.events(s, dir), 14, 3)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |), k AS (
        |  SELECT user_id, bar_start,
        |    CASE WHEN max(high) OVER w != min(low) OVER w
        |      THEN (close - min(low) OVER w) / (max(high) OVER w - min(low) OVER w) * 100 END AS pct_k
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  round(pct_k, 6) AS pct_k,
        |  round(avg(pct_k) OVER w2, 6) AS pct_d
        |FROM k
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_atr", (s, dir) =>
      TimeSeries.atr(Tables.events(s, dir), 14)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |), t AS (
        |  SELECT user_id, bar_start,
        |    CASE WHEN lag(close) OVER ws IS NULL THEN high - low
        |         ELSE greatest(high - low, abs(high - lag(close) OVER ws), abs(low - lag(close) OVER ws))
        |    END AS tr
        |  FROM bars
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY bar_start)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  round(tr, 6) AS tr,
        |  round(avg(tr) OVER (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS atr
        |FROM t
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_obv", (s, dir) =>
      TimeSeries.obv(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      s"""${volumeBars("        ")}
        |), s AS (
        |  SELECT user_id, day, close, volume,
        |    CASE WHEN lag(close) OVER ws IS NULL THEN 0
        |         ELSE CAST(sign(close - lag(close) OVER ws) AS BIGINT) * volume
        |    END AS sv
        |  FROM bars
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY day)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, close, volume,
        |  CAST(sum(sv) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
        |FROM s
        |ORDER BY user_id, day""".stripMargin),
    Query("q_donchian", (s, dir) =>
      TimeSeries.donchian(Tables.events(s, dir), 20)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |), d AS (
        |  SELECT user_id, bar_start, close,
        |    max(high) OVER w AS upper, min(low) OVER w AS lower
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), e AS (
        |  SELECT user_id, bar_start, upper, lower, close,
        |    lag(upper) OVER ws AS prev_upper, lag(lower) OVER ws AS prev_lower
        |  FROM d
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY bar_start)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start, upper, lower,
        |  round((upper + lower) / 2, 6) AS mid,
        |  coalesce(close > prev_upper, false) AS breakout_up,
        |  coalesce(close < prev_lower, false) AS breakout_down
        |FROM e
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_cmf", (s, dir) =>
      TimeSeries.cmf(Tables.events(s, dir), 20)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    max(value) AS high, min(value) AS low, max_by(value, ts) AS close,
        |    CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS volume
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT user_id, day, volume,
        |    CASE WHEN high != low THEN ((close - low) - (high - close)) / (high - low) ELSE 0.0 END
        |      * CAST(volume AS DOUBLE) AS mfv
        |  FROM bars
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, volume,
        |  round(mfv, 6) + 0.0 AS mfv,
        |  round(CASE WHEN sum(volume) OVER w != 0
        |    THEN sum(mfv) OVER w / CAST(sum(volume) OVER w AS DOUBLE) END, 6) + 0.0 AS cmf
        |FROM m
        |WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),
    Query("q_hurst", (s, dir) =>
      TimeSeries.hurst(Tables.events(s, dir)).orderBy("user_id"),
      s"""${prevClose("        ")}
        |), r1 AS (
        |  SELECT user_id, day, close / prev - 1 AS ret
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |), r AS (
        |  SELECT user_id, day, ret,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS rn
        |  FROM r1
        |), x AS (
        |  SELECT r.*, s.n, CAST(floor(rn / s.n) AS BIGINT) AS block
        |  FROM r CROSS JOIN (SELECT unnest([4, 8, 16]) AS n) s
        |), b1 AS (
        |  SELECT *, count(*) OVER (PARTITION BY user_id, n, block) AS bn FROM x
        |), b2 AS (SELECT * FROM b1 WHERE bn = n
        |), b3 AS (
        |  SELECT user_id, n, block, day, ret, avg(ret) OVER wf AS mean
        |  FROM b2
        |  WINDOW wf AS (PARTITION BY user_id, n, block ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), b4 AS (
        |  SELECT *, sum(ret - mean) OVER (PARTITION BY user_id, n, block ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b3
        |), b5 AS (
        |  SELECT user_id, n, block,
        |    max(cum) OVER wf - min(cum) OVER wf AS rng,
        |    sqrt(avg(pow(ret - mean, 2)) OVER wf) AS sd,
        |    row_number() OVER (PARTITION BY user_id, n, block ORDER BY day) AS rib
        |  FROM b4
        |  WINDOW wf AS (PARTITION BY user_id, n, block ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), blk AS (
        |  SELECT user_id, n, CAST(ln(rng / sd) AS DECIMAL(18,6)) AS lrs
        |  FROM b5 WHERE rib = 1 AND sd > 0
        |), yv AS (
        |  SELECT user_id, n, CAST(sum(lrs) AS DOUBLE) / count(*) AS y
        |  FROM blk GROUP BY user_id, n
        |), p AS (
        |  SELECT user_id,
        |    max(CASE WHEN n = 4 THEN y END) AS y4r,
        |    max(CASE WHEN n = 8 THEN y END) AS y8r,
        |    max(CASE WHEN n = 16 THEN y END) AS y16r
        |  FROM yv GROUP BY user_id
        |)
        |SELECT user_id, y4r AS y4, y8r AS y8, y16r AS y16,
        |  (y16r - y4r) / 1.3862943611198906 AS hurst
        |FROM p ORDER BY user_id""".stripMargin),
    Query("q_half_life", (s, dir) =>
      TimeSeries.halfLife(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), q AS (
        |  SELECT user_id, day, CAST(close AS DECIMAL(18,6)) AS cq,
        |    lag(CAST(close AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY day) AS xq
        |  FROM c
        |), m AS (
        |  SELECT user_id, count(*) AS n_days,
        |    sum(xq) AS sx, sum(cq - xq) AS sy,
        |    sum(CAST(xq AS DECIMAL(19,6)) * CAST(cq - xq AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(xq AS DECIMAL(19,6)) * CAST(xq AS DECIMAL(19,6))) AS sxx
        |  FROM q WHERE xq IS NOT NULL GROUP BY user_id
        |), b AS (
        |  SELECT user_id, n_days,
        |    n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
        |    n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx
        |  FROM m
        |)
        |SELECT user_id, n_days,
        |  round(CASE WHEN varx > 0 THEN covn / varx END, 6) AS beta,
        |  round(CASE WHEN varx > 0 AND covn / varx < 0 AND covn / varx > -1
        |    THEN -0.6931471805599453 / ln(1.0 + covn / varx) END, 6) AS half_life_days
        |FROM b
        |ORDER BY user_id""".stripMargin),
    Query("q_rolling_beta", (s, dir) =>
      TimeSeries.rollingBeta(Tables.events(s, dir), 0L, 10)
        .orderBy("user_id", "day"),
      s"""${microReturns("        ")}
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id, r.day, r.mk, b.mb FROM r JOIN b USING (day)
        |), m AS (
        |  SELECT user_id, day,
        |    count(*) OVER w AS k,
        |    sum(mb) OVER w AS sx, sum(mk) OVER w AS sy,
        |    sum(mb * mk) OVER w AS sxy, sum(mb * mb) OVER w AS sxx
        |  FROM j
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, CAST(k AS BIGINT) AS n_obs,
        |  round(CASE WHEN k > 1 AND (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS beta
        |FROM m
        |ORDER BY user_id, day""".stripMargin),
    Query("q_ewma_vol", (s, dir) =>
      TimeSeries.ewmaVol(Tables.events(s, dir))
        .orderBy("user_id", "day"),
      s"""${prevClose("        ")}
        |), r AS (
        |  SELECT user_id, day, (close / prev - 1) * (close / prev - 1) AS r2
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |), o AS (
        |  SELECT user_id, day, r2,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS rn
        |  FROM r
        |), g AS (
        |  SELECT *, CASE WHEN rn = 0 THEN r2 ELSE (1 - 0.94) * r2 * pow(0.94, -rn) END AS gg
        |  FROM o
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  round(sqrt(pow(0.94, rn) * sum(gg) OVER (PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * sqrt(252.0), 6) AS ewma_vol_ann
        |FROM g ORDER BY user_id, day""".stripMargin),
    Query("q_amihud", (s, dir) =>
      TimeSeries.amihudIlliquidity(Tables.events(s, dir)).orderBy("user_id"),
      s"""${volumeBars("        ")}
        |), r AS (
        |  SELECT user_id, close / lag(close) OVER ws - 1 AS ret,
        |    close * CAST(volume AS DOUBLE) AS dv
        |  FROM bars
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY day)
        |)
        |SELECT user_id, count(*) AS n_days,
        |  round(avg(abs(ret) / dv) * 1e9, 6) AS amihud_1e9
        |FROM r WHERE ret IS NOT NULL AND dv > 0
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q_roll_spread", (s, dir) =>
      TimeSeries.rollSpread(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), q AS (
        |  SELECT user_id, day, CAST(close AS DECIMAL(18,6)) AS cq FROM c
        |), d AS (
        |  SELECT user_id, day,
        |    cq - lag(cq) OVER (PARTITION BY user_id ORDER BY day) AS d
        |  FROM q
        |), dd AS (
        |  SELECT user_id, d, lag(d) OVER (PARTITION BY user_id ORDER BY day) AS dl
        |  FROM d
        |), m AS (
        |  SELECT user_id, count(*) AS n_days,
        |    sum(d) AS sd, sum(dl) AS sl,
        |    sum(CAST(d AS DECIMAL(19,6)) * CAST(dl AS DECIMAL(19,6))) AS sdl
        |  FROM dd WHERE d IS NOT NULL AND dl IS NOT NULL
        |  GROUP BY user_id
        |), b AS (
        |  SELECT user_id, n_days,
        |    n_days * CAST(sdl AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sl AS DOUBLE) AS covn
        |  FROM m
        |)
        |SELECT user_id, n_days,
        |  round(covn / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)), 6) AS autocov,
        |  round(CASE WHEN covn < 0
        |    THEN 2.0 * sqrt(-covn / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))) END, 6) AS roll_spread
        |FROM b
        |ORDER BY user_id""".stripMargin),
    Query("q_spearman_corr", (s, dir) =>
      TimeSeries.spearmanCorr(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${microReturns("        ")}
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id, r.day, r.mk, b.mb FROM r JOIN b USING (day)
        |  WHERE r.user_id != 0
        |), k AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY mk, day) AS rx,
        |    row_number() OVER (PARTITION BY user_id ORDER BY mb, day) AS ry
        |  FROM j
        |), m AS (
        |  SELECT user_id, count(*) AS n_days,
        |    sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(rx) AS sx
        |  FROM k GROUP BY 1
        |)
        |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
        |  CASE WHEN n_days > 1 AND (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN (n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS spearman_rho
        |FROM m
        |ORDER BY user_id""".stripMargin),
    Query("q_kendall_trend", (s, dir) =>
      TimeSeries.kendallTauTrend(Tables.events(s, dir)).orderBy("user_id"),
      s"""${microReturns("        ")}
        |), p AS (
        |  SELECT a.user_id, a.mk AS ma, b.mk AS mb
        |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.day < b.day
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN mb > ma THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |  CAST(sum(CASE WHEN mb < ma THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |  CAST(sum(CASE WHEN mb = ma THEN 1 ELSE 0 END) AS BIGINT) AS ties,
        |  CAST(sum(CASE WHEN mb > ma THEN 1 ELSE 0 END)
        |     - sum(CASE WHEN mb < ma THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS tau
        |FROM p GROUP BY 1
        |ORDER BY user_id""".stripMargin),
    Query("q_capture_ratios", (s, dir) =>
      TimeSeries.captureRatios(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${microReturns("        ")}
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id, r.mk, b.mb FROM r JOIN b USING (day)
        |  WHERE r.user_id != 0
        |), m AS (
        |  SELECT user_id,
        |    sum(CASE WHEN mb > 0 THEN mk ELSE 0 END) AS sk_up,
        |    sum(CASE WHEN mb > 0 THEN mb ELSE 0 END) AS sb_up,
        |    sum(CASE WHEN mb > 0 THEN 1 ELSE 0 END) AS n_up,
        |    sum(CASE WHEN mb < 0 THEN mk ELSE 0 END) AS sk_dn,
        |    sum(CASE WHEN mb < 0 THEN mb ELSE 0 END) AS sb_dn,
        |    sum(CASE WHEN mb < 0 THEN 1 ELSE 0 END) AS n_dn
        |  FROM j GROUP BY 1
        |)
        |SELECT user_id, CAST(n_up AS BIGINT) AS n_up, CAST(n_dn AS BIGINT) AS n_dn,
        |  CASE WHEN n_up > 0 AND sb_up != 0
        |    THEN CAST(sk_up AS DOUBLE) / CAST(sb_up AS DOUBLE) END AS up_capture,
        |  CASE WHEN n_dn > 0 AND sb_dn != 0
        |    THEN CAST(sk_dn AS DOUBLE) / CAST(sb_dn AS DOUBLE) END AS down_capture,
        |  (CASE WHEN n_up > 0 AND sb_up != 0
        |    THEN CAST(sk_up AS DOUBLE) / CAST(sb_up AS DOUBLE) END)
        |  - (CASE WHEN n_dn > 0 AND sb_dn != 0
        |    THEN CAST(sk_dn AS DOUBLE) / CAST(sb_dn AS DOUBLE) END) AS capture_spread
        |FROM m
        |ORDER BY user_id""".stripMargin),
    Query("q_cci", (s, dir) =>
      TimeSeries.cci(Tables.events(s, dir), 20).orderBy("user_id", "day"),
      s"""${dailyBars("        ")}
        |), t AS (
        |  SELECT user_id, bar_start,
        |    CAST(floor((high + low + close) / 3 * 1000000) AS BIGINT) AS tpu
        |  FROM bars
        |), w AS (
        |  SELECT user_id, bar_start, tpu,
        |    count(*) OVER win AS cnt,
        |    sum(tpu) OVER win AS s,
        |    list(tpu) OVER win AS l
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), d AS (
        |  SELECT user_id, bar_start, tpu, cnt, s,
        |    list_sum(list_transform(l, e -> abs(e * 20 - s))) AS dev
        |  FROM w
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 20 AND dev > 0
        |    THEN (CAST(tpu AS DOUBLE) * 20 - CAST(s AS DOUBLE)) * 20
        |      / (0.015 * CAST(dev AS DOUBLE)) END AS cci
        |FROM d
        |ORDER BY user_id, day""".stripMargin),
    Query("q_aroon", (s, dir) =>
      TimeSeries.aroon(Tables.events(s, dir), 25).orderBy("user_id", "day"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), e AS (
        |  SELECT user_id, day,
        |    CAST(floor(close * 1000000) AS BIGINT) + 2000000000 AS mh,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) - 1 AS idx
        |  FROM c
        |), enc AS (
        |  SELECT user_id, day, idx,
        |    mh * 1048576 + idx AS code_hi,
        |    mh * 1048576 + (1048575 - idx) AS code_lo
        |  FROM e
        |), w AS (
        |  SELECT user_id, day, idx,
        |    count(*) OVER win AS cnt,
        |    (max(code_hi) OVER win) % 1048576 AS hi_idx,
        |    1048575 - ((min(code_lo) OVER win) % 1048576) AS lo_idx
        |  FROM enc
        |  WINDOW win AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 25
        |    THEN CAST(25 - (idx - hi_idx) AS DOUBLE) * 100 / 25 END AS aroon_up,
        |  CASE WHEN cnt = 25
        |    THEN CAST(25 - (idx - lo_idx) AS DOUBLE) * 100 / 25 END AS aroon_down,
        |  CASE WHEN cnt = 25
        |    THEN CAST(25 - (idx - hi_idx) AS DOUBLE) * 100 / 25
        |       - CAST(25 - (idx - lo_idx) AS DOUBLE) * 100 / 25 END AS aroon_osc
        |FROM w
        |ORDER BY user_id, day""".stripMargin),
    Query("q_jarque_bera", (s, dir) =>
      TimeSeries.jarqueBera(Tables.events(s, dir)).orderBy("user_id"),
      s"""${prevClose("        ")}
        |), r AS (
        |  SELECT user_id,
        |    CAST(floor((close / prev - 1) * 1000) AS BIGINT) AS mk0
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |), k AS (
        |  SELECT user_id, abs(mk0) <= 1000000 AS keep,
        |    CASE WHEN abs(mk0) <= 1000000 THEN mk0 ELSE 0 END AS mk
        |  FROM r
        |), m AS (
        |  SELECT user_id,
        |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_days,
        |    sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_excluded,
        |    sum(CAST(mk AS HUGEINT)) AS s1,
        |    sum(CAST(mk AS HUGEINT) * mk) AS s2,
        |    sum(CAST(mk AS HUGEINT) * mk * mk) AS s3,
        |    sum(CAST(mk AS HUGEINT) * mk * mk * mk) AS s4
        |  FROM k GROUP BY 1
        |), b AS (
        |  SELECT user_id, n_days, n_excluded,
        |    CAST(n_days AS DOUBLE) AS nd,
        |    CASE WHEN s1 < 0 THEN -(CAST(abs(s1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s1) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(s1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s1 % 9007199254740992 AS DOUBLE) END AS d1,
        |    CASE WHEN s2 < 0 THEN -(CAST(abs(s2) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s2) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(s2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s2 % 9007199254740992 AS DOUBLE) END AS d2,
        |    CASE WHEN s3 < 0 THEN -(CAST(abs(s3) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s3) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(s3 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s3 % 9007199254740992 AS DOUBLE) END AS d3,
        |    CASE WHEN s4 < 0 THEN -(CAST(abs(s4) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s4) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(s4 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s4 % 9007199254740992 AS DOUBLE) END AS d4
        |  FROM m
        |), mm AS (
        |  SELECT user_id, n_days, n_excluded, nd,
        |    d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
        |    d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
        |      + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
        |    d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
        |      + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
        |      - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
        |  FROM b
        |), s AS (
        |  SELECT user_id, n_days, n_excluded, nd, m2,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) AS kurt
        |  FROM mm
        |)
        |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_excluded AS BIGINT) AS n_excluded,
        |  CASE WHEN n_days > 3 AND m2 > 0 THEN skew END AS skewness,
        |  CASE WHEN n_days > 3 AND m2 > 0 THEN kurt - 3 END AS excess_kurtosis,
        |  CASE WHEN n_days > 3 AND m2 > 0
        |    THEN nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4) END AS jarque_bera
        |FROM s
        |ORDER BY user_id""".stripMargin),
    Query("q_forecast_backtest", (s, dir) =>
      TimeSeries.forecastBacktest(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), l AS (
        |  SELECT user_id,
        |    CAST(floor(close * 1000000) AS BIGINT) AS mku,
        |    lag(CAST(floor(close * 1000000) AS BIGINT), 7)
        |      OVER (PARTITION BY user_id ORDER BY day) AS lagS,
        |    lag(CAST(floor(close * 1000000) AS BIGINT), 1)
        |      OVER (PARTITION BY user_id ORDER BY day) AS lag1
        |  FROM c
        |), m AS (
        |  SELECT user_id, count(*) AS n_scored,
        |    sum(abs(mku - lagS)) AS se_naive,
        |    sum(abs(mku - lag1)) AS se_persist
        |  FROM l WHERE lagS IS NOT NULL AND lag1 IS NOT NULL GROUP BY 1
        |)
        |SELECT user_id, CAST(n_scored AS BIGINT) AS n_scored,
        |  CAST(se_naive AS DOUBLE) / CAST(n_scored AS DOUBLE) / 1000000 AS mae_naive,
        |  CAST(se_persist AS DOUBLE) / CAST(n_scored AS DOUBLE) / 1000000 AS mae_persist,
        |  CASE WHEN se_persist > 0
        |    THEN (CAST(se_naive AS DOUBLE) / CAST(n_scored AS DOUBLE))
        |       / (CAST(se_persist AS DOUBLE) / CAST(n_scored AS DOUBLE)) END AS mase
        |FROM m
        |ORDER BY user_id""".stripMargin),
    Query("q_ljung_box", (s, dir) =>
      TimeSeries.ljungBox(Tables.events(s, dir), 5).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), l AS (
        |  SELECT user_id, ret,
        |    lag(ret, 1) OVER w AS l1, lag(ret, 2) OVER w AS l2, lag(ret, 3) OVER w AS l3,
        |    lag(ret, 4) OVER w AS l4, lag(ret, 5) OVER w AS l5
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), u AS (
        |  SELECT user_id, 1 AS lag_k, ret, l1 AS ret_lag FROM l
        |  UNION ALL SELECT user_id, 2, ret, l2 FROM l
        |  UNION ALL SELECT user_id, 3, ret, l3 FROM l
        |  UNION ALL SELECT user_id, 4, ret, l4 FROM l
        |  UNION ALL SELECT user_id, 5, ret, l5 FROM l
        |), a AS (
        |  SELECT user_id, lag_k, count(*) AS n_pairs,
        |    round(CASE WHEN var_samp(ret) != 0 AND var_samp(ret_lag) != 0
        |      THEN corr(ret, ret_lag) END, 6) AS acf
        |  FROM u WHERE ret_lag IS NOT NULL
        |  GROUP BY user_id, lag_k
        |), p AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN lag_k = 1 THEN n_pairs END) + 1 AS BIGINT) AS n_obs,
        |    count(CASE WHEN acf IS NOT NULL THEN 1 END) AS k_present,
        |    max(CASE WHEN lag_k = 1 THEN acf END) AS r1,
        |    max(CASE WHEN lag_k = 2 THEN acf END) AS r2,
        |    max(CASE WHEN lag_k = 3 THEN acf END) AS r3,
        |    max(CASE WHEN lag_k = 4 THEN acf END) AS r4,
        |    max(CASE WHEN lag_k = 5 THEN acf END) AS r5
        |  FROM a GROUP BY 1
        |)
        |SELECT user_id, n_obs,
        |  CASE WHEN k_present = 5 AND n_obs > 6 THEN
        |    (r1 * r1 / (CAST(n_obs AS DOUBLE) - 1)
        |     + r2 * r2 / (CAST(n_obs AS DOUBLE) - 2)
        |     + r3 * r3 / (CAST(n_obs AS DOUBLE) - 3)
        |     + r4 * r4 / (CAST(n_obs AS DOUBLE) - 4)
        |     + r5 * r5 / (CAST(n_obs AS DOUBLE) - 5))
        |    * CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) + 2)
        |  END AS ljung_box_q
        |FROM p
        |ORDER BY user_id""".stripMargin),
    Query("q_vortex", (s, dir) =>
      TimeSeries.vortex(Tables.events(s, dir), 14).orderBy("user_id", "day"),
      s"""${dailyBars("        ")}
        |), t AS (
        |  SELECT user_id, bar_start,
        |    CAST(floor(abs(high - lag(low) OVER w) * 1000000) AS BIGINT) AS vmp,
        |    CAST(floor(abs(low - lag(high) OVER w) * 1000000) AS BIGINT) AS vmm,
        |    CAST(floor(greatest(high - low,
        |      abs(high - lag(close) OVER w),
        |      abs(low - lag(close) OVER w)) * 1000000) AS BIGINT) AS tru
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_start)
        |  QUALIFY vmp IS NOT NULL
        |), m AS (
        |  SELECT user_id, bar_start, count(*) OVER wn AS cnt,
        |    sum(vmp) OVER wn AS sp, sum(vmm) OVER wn AS sm, sum(tru) OVER wn AS st
        |  FROM t
        |  WINDOW wn AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 14 AND st > 0 THEN CAST(sp AS DOUBLE) / CAST(st AS DOUBLE) END AS vi_plus,
        |  CASE WHEN cnt = 14 AND st > 0 THEN CAST(sm AS DOUBLE) / CAST(st AS DOUBLE) END AS vi_minus,
        |  CASE WHEN cnt = 14 AND st > 0 THEN CAST(sp - sm AS DOUBLE) / CAST(st AS DOUBLE) END AS vi_diff
        |FROM m
        |ORDER BY user_id, day""".stripMargin),
    Query("q_cointegration", (s, dir) =>
      TimeSeries.cointegration(Tables.events(s, dir), 0L).orderBy("user_id"),
      """WITH c AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(floor(max_by(value, ts) * 1000000) AS BIGINT) AS mku
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT day, mku AS mbu FROM c WHERE user_id = 0
        |), j AS (
        |  SELECT c.user_id, c.day, c.mku AS x, b.mbu AS y
        |  FROM c JOIN b USING (day) WHERE c.user_id != 0
        |), o AS (
        |  SELECT user_id, count(*) AS n_days,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM j GROUP BY 1
        |), od AS (
        |  SELECT user_id, n_days, CAST(n_days AS DOUBLE) AS nd,
        |    CASE WHEN sx < 0 THEN -(CAST(abs(sx) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sx) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(sx // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sx % 9007199254740992 AS DOUBLE) END AS sxd,
        |    CASE WHEN sy < 0 THEN -(CAST(abs(sy) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sy) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(sy // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sy % 9007199254740992 AS DOUBLE) END AS syd,
        |    CASE WHEN sxy < 0 THEN -(CAST(abs(sxy) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sxy) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(sxy // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sxy % 9007199254740992 AS DOUBLE) END AS sxyd,
        |    CASE WHEN syy < 0 THEN -(CAST(abs(syy) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(syy) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(syy // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(syy % 9007199254740992 AS DOUBLE) END AS syyd
        |  FROM o
        |), ok AS (
        |  SELECT user_id, n_days, nd,
        |    CASE WHEN nd * syyd - syd * syd > 0
        |      THEN (nd * sxyd - sxd * syd) / (nd * syyd - syd * syd) END AS beta,
        |    CASE WHEN nd * syyd - syd * syd > 0
        |      THEN sxd / nd - (nd * sxyd - sxd * syd) / (nd * syyd - syd * syd) * (syd / nd) END AS alpha
        |  FROM od
        |), r AS (
        |  SELECT j.user_id, j.day, ok.n_days, ok.beta,
        |    CAST(floor(CAST(j.x AS DOUBLE) - (ok.alpha + ok.beta * CAST(j.y AS DOUBLE))) AS BIGINT) AS e
        |  FROM j JOIN ok ON ok.user_id = j.user_id
        |), l AS (
        |  SELECT user_id, n_days, beta, e,
        |    lag(e) OVER (PARTITION BY user_id ORDER BY day) AS ep
        |  FROM r
        |), d AS (
        |  SELECT user_id, max(n_days) AS n_days, max(beta) AS beta,
        |    sum(CAST(ep AS HUGEINT) * (e - ep)) AS sed,
        |    sum(CAST(ep AS HUGEINT) * ep) AS see
        |  FROM l WHERE ep IS NOT NULL GROUP BY 1
        |), dd AS (
        |  SELECT user_id, n_days, beta, see,
        |    CASE WHEN sed < 0 THEN -(CAST(abs(sed) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sed) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(sed // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sed % 9007199254740992 AS DOUBLE) END AS sedd,
        |    CASE WHEN see < 0 THEN -(CAST(abs(see) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(see) % 9007199254740992 AS DOUBLE))
        |         ELSE CAST(see // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(see % 9007199254740992 AS DOUBLE) END AS seed
        |  FROM d
        |)
        |SELECT user_id, CAST(n_days AS BIGINT) AS n_days, beta,
        |  CASE WHEN see > 0 THEN sedd / seed END AS gamma,
        |  round(CASE WHEN see > 0 AND sedd / seed < 0 AND sedd / seed > -1
        |    THEN -0.6931471805599453 / ln(1.0 + sedd / seed) END, 6) AS spread_half_life
        |FROM dd
        |ORDER BY user_id""".stripMargin),
    Query("q_cmo", (s, dir) =>
      TimeSeries.chandeMomentum(Tables.events(s, dir), 14).orderBy("user_id", "day"),
      s"""${microReturns("        ")}
        |), w AS (
        |  SELECT user_id, day, count(*) OVER wn AS cnt,
        |    sum(greatest(mk, 0)) OVER wn AS sg,
        |    sum(greatest(-mk, 0)) OVER wn AS sl
        |  FROM r
        |  WINDOW wn AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 14 AND sg + sl > 0
        |    THEN 100.0 * CAST(sg - sl AS DOUBLE) / CAST(sg + sl AS DOUBLE) END AS cmo
        |FROM w
        |ORDER BY user_id, day""".stripMargin),
    Query("q_ultimate_osc", (s, dir) =>
      TimeSeries.ultimateOscillator(Tables.events(s, dir)).orderBy("user_id", "day"),
      s"""${dailyBars("        ")}
        |), t AS (
        |  SELECT user_id, bar_start,
        |    CAST(floor((close - least(low, lag(close) OVER w)) * 1000000) AS BIGINT) AS bpu,
        |    CAST(floor((greatest(high, lag(close) OVER w)
        |      - least(low, lag(close) OVER w)) * 1000000) AS BIGINT) AS tru
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_start)
        |  QUALIFY bpu IS NOT NULL
        |), m AS (
        |  SELECT user_id, bar_start,
        |    count(*) OVER w28 AS cnt,
        |    sum(bpu) OVER w7 AS bp1, sum(tru) OVER w7 AS tr1,
        |    sum(bpu) OVER w14 AS bp2, sum(tru) OVER w14 AS tr2,
        |    sum(bpu) OVER w28 AS bp3, sum(tru) OVER w28 AS tr3
        |  FROM t
        |  WINDOW
        |    w7 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |    w14 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        |    w28 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 28 AND tr1 > 0 AND tr2 > 0 AND tr3 > 0
        |    THEN 100.0 * (4.0 * (CAST(bp1 AS DOUBLE) / CAST(tr1 AS DOUBLE))
        |      + 2.0 * (CAST(bp2 AS DOUBLE) / CAST(tr2 AS DOUBLE))
        |      + CAST(bp3 AS DOUBLE) / CAST(tr3 AS DOUBLE)) / 7 END AS ultimate_osc
        |FROM m
        |ORDER BY user_id, day""".stripMargin),
    Query("q_streaks", (s, dir) =>
      TimeSeries.streaks(Tables.events(s, dir)).orderBy("user_id"),
      s"""${microReturns("        ")}
        |), s AS (
        |  SELECT user_id, day,
        |    CASE WHEN mk > 0 THEN 1 WHEN mk < 0 THEN -1 ELSE 0 END AS s
        |  FROM r
        |), f AS (
        |  SELECT user_id, day, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s != lag(s) OVER w THEN 1 ELSE 0 END AS chg
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), g0 AS (
        |  SELECT user_id, day, s,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f
        |), g AS (
        |  SELECT user_id, sid, count(*) AS len, max(s) AS sgn FROM g0 GROUP BY 1, 2
        |), mxt AS (SELECT user_id, max(sid) AS mx FROM g GROUP BY 1)
        |SELECT g.user_id,
        |  CAST(coalesce(max(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT) AS longest_up,
        |  CAST(coalesce(max(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT) AS longest_down,
        |  CAST(max(CASE WHEN sid = mx THEN sgn * len END) AS BIGINT) AS current_streak
        |FROM g JOIN mxt ON mxt.user_id = g.user_id
        |GROUP BY g.user_id
        |ORDER BY 1""".stripMargin),
    Query("q_adx", (s, dir) =>
      TimeSeries.adx(Tables.events(s, dir), 14).orderBy("user_id", "day"),
      s"""${dailyBars("        ")}
        |), t AS (
        |  SELECT user_id, bar_start,
        |    CAST(floor(CASE WHEN (high - lag(high) OVER w) > (lag(low) OVER w - low)
        |        AND (high - lag(high) OVER w) > 0
        |      THEN high - lag(high) OVER w ELSE 0.0 END * 1000000) AS BIGINT) AS dmp,
        |    CAST(floor(CASE WHEN (lag(low) OVER w - low) > (high - lag(high) OVER w)
        |        AND (lag(low) OVER w - low) > 0
        |      THEN lag(low) OVER w - low ELSE 0.0 END * 1000000) AS BIGINT) AS dmn,
        |    CAST(floor(greatest(high - low,
        |      abs(high - lag(close) OVER w),
        |      abs(low - lag(close) OVER w)) * 1000000) AS BIGINT) AS tru,
        |    lag(high) OVER w IS NOT NULL AS has_prev
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_start)
        |  QUALIFY has_prev
        |), m AS (
        |  SELECT user_id, bar_start, count(*) OVER wn AS cnt,
        |    sum(dmp) OVER wn AS sp, sum(dmn) OVER wn AS sn, sum(tru) OVER wn AS st
        |  FROM t
        |  WINDOW wn AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |), d AS (
        |  SELECT *,
        |    CASE WHEN cnt = 14 AND st > 0 AND (sp + sn) > 0
        |      THEN CAST(floor(100.0 * CAST(abs(sp - sn) AS DOUBLE) / CAST(sp + sn AS DOUBLE) * 1000000) AS BIGINT)
        |    END AS dxu
        |  FROM m
        |), f AS (
        |  SELECT *, count(dxu) OVER wn AS dx_cnt, sum(dxu) OVER wn AS dx_sum
        |  FROM d
        |  WINDOW wn AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS day,
        |  CASE WHEN cnt = 14 AND st > 0 THEN 100.0 * CAST(sp AS DOUBLE) / CAST(st AS DOUBLE) END AS di_plus,
        |  CASE WHEN cnt = 14 AND st > 0 THEN 100.0 * CAST(sn AS DOUBLE) / CAST(st AS DOUBLE) END AS di_minus,
        |  CAST(dxu AS DOUBLE) / 1000000.0 AS dx,
        |  CASE WHEN dx_cnt = 14 THEN CAST(dx_sum AS DOUBLE) / 14000000.0 END AS adx
        |FROM f
        |ORDER BY user_id, day""".stripMargin),
    Query("q_trix", (s, dir) =>
      TimeSeries.trix(Tables.events(s, dir), 15).orderBy("user_id", "day"),
      s"""WITH bars AS (
        ${dailyClose("        ")}
        |), l0 AS (
        |  SELECT user_id, list(close ORDER BY day) AS xs, list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), r1 AS (
        |  SELECT user_id, xs, ds, unnest(generate_series(1, len(xs))) AS rn FROM l0
        |), v1 AS (
        |  -- each EMA stage is the seeded strict left fold of the
        |  -- recurrence y = (1-a)*y + a*x, mirroring Spark's
        |  -- aggregate() HOF bit-for-bit
        |  SELECT user_id, ds, rn,
        |    list_reduce(xs[1:rn], (y, x) -> (1 - 2.0/16) * y + (2.0/16) * x) AS e1
        |  FROM r1
        |), l1 AS (SELECT user_id, any_value(ds) AS ds, list(e1 ORDER BY rn) AS e1s FROM v1 GROUP BY user_id
        |), v2 AS (
        |  SELECT user_id, ds, e1s, unnest(generate_series(1, len(e1s))) AS rn FROM l1
        |), w2 AS (
        |  SELECT user_id, ds, rn,
        |    list_reduce(e1s[1:rn], (y, x) -> (1 - 2.0/16) * y + (2.0/16) * x) AS e2
        |  FROM v2
        |), l2 AS (SELECT user_id, any_value(ds) AS ds, list(e2 ORDER BY rn) AS e2s FROM w2 GROUP BY user_id
        |), v3 AS (
        |  SELECT user_id, ds, e2s, unnest(generate_series(1, len(e2s))) AS rn FROM l2
        |), w3 AS (
        |  SELECT user_id, ds, e2s, rn,
        |    list_reduce(e2s[1:rn], (y, x) -> (1 - 2.0/16) * y + (2.0/16) * x) AS e3
        |  FROM v3
        |), p AS (
        |  SELECT user_id, ds[rn] AS day, e3,
        |    lag(e3) OVER (PARTITION BY user_id ORDER BY rn) AS prev
        |  FROM w3
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  e3 AS triple_ema,
        |  CASE WHEN prev != 0 THEN (e3 / prev - 1) * 100 END AS trix
        |FROM p
        |ORDER BY user_id, day""".stripMargin),
    Query("q_heikin_ashi", (s, dir) =>
      TimeSeries.heikinAshi(Tables.events(s, dir)).orderBy("user_id", "day"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS bar_start,
        |    min_by(value, ts) AS open, max(value) AS high, min(value) AS low, max_by(value, ts) AS close
        |  FROM events GROUP BY 1, 2
        |), o AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bar_start) - 1 AS rn,
        |    (((open + high) + low) + close) / 4 AS ha_close
        |  FROM bars
        |), z AS (
        |  SELECT *, CASE WHEN rn = 0 THEN (open + close) / 2
        |    ELSE lag(ha_close) OVER (PARTITION BY user_id ORDER BY bar_start) END AS zv
        |  FROM o
        |), g AS (
        |  SELECT *, CASE WHEN rn = 0 THEN zv ELSE 0.5 * zv * pow(0.5, -rn) END AS gv
        |  FROM z
        |), l AS (
        |  SELECT user_id, list(gv ORDER BY rn) AS gl FROM g GROUP BY user_id
        |), e AS (
        |  -- strictly-sequential prefix fold: DuckDB's windowed running
        |  -- SUM pairwise-reorders doubles (ulp drift vs Spark's
        |  -- sequential frame fold); list_reduce fixes the op order
        |  SELECT g.*, pow(0.5, g.rn) * list_reduce(l.gl[1:g.rn+1], (a, b) -> a + b) AS ha_open
        |  FROM g JOIN l ON l.user_id = g.user_id
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS day,
        |  ha_open,
        |  greatest(high, ha_open, ha_close) AS ha_high,
        |  least(low, ha_open, ha_close) AS ha_low,
        |  ha_close,
        |  ha_close > ha_open AS ha_bull
        |FROM e
        |ORDER BY user_id, day""".stripMargin),
    Query("q_pacf", (s, dir) =>
      TimeSeries.pacf(Tables.events(s, dir)).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), l AS (
        |  SELECT user_id, ret,
        |    lag(ret, 1) OVER w AS l1, lag(ret, 2) OVER w AS l2, lag(ret, 3) OVER w AS l3
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), u AS (
        |  SELECT user_id, 1 AS lag_k, ret, l1 AS ret_lag FROM l
        |  UNION ALL SELECT user_id, 2, ret, l2 FROM l
        |  UNION ALL SELECT user_id, 3, ret, l3 FROM l
        |), a AS (
        |  SELECT user_id, lag_k,
        |    round(CASE WHEN var_samp(ret) != 0 AND var_samp(ret_lag) != 0
        |      THEN corr(ret, ret_lag) END, 6) AS acf
        |  FROM u WHERE ret_lag IS NOT NULL
        |  GROUP BY user_id, lag_k
        |), p AS (
        |  SELECT user_id,
        |    count(CASE WHEN acf IS NOT NULL THEN 1 END) AS k_present,
        |    max(CASE WHEN lag_k = 1 THEN acf END) AS r1,
        |    max(CASE WHEN lag_k = 2 THEN acf END) AS r2,
        |    max(CASE WHEN lag_k = 3 THEN acf END) AS r3
        |  FROM a GROUP BY 1
        |), q AS (
        |  SELECT *, 1.0 - r1 * r1 AS v1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
        |  FROM p
        |), q2 AS (
        |  SELECT *, r1 - p2 * r1 AS p21, v1 * (1.0 - p2 * p2) AS v2 FROM q
        |)
        |SELECT user_id, r1, r2, r3,
        |  CASE WHEN k_present = 3 THEN r1 END AS pacf1,
        |  CASE WHEN k_present = 3 AND v1 != 0 THEN p2 END AS pacf2,
        |  CASE WHEN k_present = 3 AND v1 != 0 AND v2 != 0
        |    THEN (r3 - p21 * r2 - p2 * r1) / v2 END AS pacf3
        |FROM q2
        |ORDER BY user_id""".stripMargin),
    Query("q_market_timing", (s, dir) =>
      TimeSeries.marketTiming(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id,
        |    CAST(CAST(floor(r.ret * 1000000) AS BIGINT) AS HUGEINT) AS ru,
        |    CAST(CAST(floor(b.bench_ret * 1000000) AS BIGINT) AS HUGEINT) AS mu
        |  FROM r JOIN b USING (day) WHERE r.user_id != 0
        |), m AS (
        |  SELECT user_id, count(*) AS n,
        |    sum(mu) AS sm1, sum(mu * mu) AS sm2, sum(mu * mu * mu) AS sm3,
        |    sum(mu * mu * mu * mu) AS sm4,
        |    sum(ru) AS t0, sum(ru * mu) AS t1, sum(ru * mu * mu) AS t2
        |  FROM j GROUP BY 1
        |), d AS (
        |  SELECT user_id, n, CAST(n AS DOUBLE) AS s0,
        |    CASE WHEN sm1 < 0 THEN -(CAST(abs(sm1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sm1) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(sm1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sm1 % 9007199254740992 AS DOUBLE) END AS s1,
        |    CASE WHEN sm2 < 0 THEN -(CAST(abs(sm2) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sm2) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(sm2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sm2 % 9007199254740992 AS DOUBLE) END AS s2,
        |    CASE WHEN sm3 < 0 THEN -(CAST(abs(sm3) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sm3) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(sm3 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sm3 % 9007199254740992 AS DOUBLE) END AS s3,
        |    CASE WHEN sm4 < 0 THEN -(CAST(abs(sm4) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sm4) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(sm4 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sm4 % 9007199254740992 AS DOUBLE) END AS s4,
        |    CASE WHEN t0 < 0 THEN -(CAST(abs(t0) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(t0) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(t0 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(t0 % 9007199254740992 AS DOUBLE) END AS u0,
        |    CASE WHEN t1 < 0 THEN -(CAST(abs(t1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(t1) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(t1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(t1 % 9007199254740992 AS DOUBLE) END AS u1,
        |    CASE WHEN t2 < 0 THEN -(CAST(abs(t2) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(t2) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(t2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(t2 % 9007199254740992 AS DOUBLE) END AS u2
        |  FROM m
        |), c AS (
        |  SELECT user_id, n,
        |    s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2) AS det,
        |    u0 * (s2 * s4 - s3 * s3) - s1 * (u1 * s4 - s3 * u2) + s2 * (u1 * s3 - s2 * u2) AS det_a,
        |    s0 * (u1 * s4 - s3 * u2) - u0 * (s1 * s4 - s3 * s2) + s2 * (s1 * u2 - u1 * s2) AS det_b,
        |    s0 * (s2 * u2 - u1 * s3) - s1 * (s1 * u2 - u1 * s2) + u0 * (s1 * s3 - s2 * s2) AS det_c
        |  FROM d
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN n >= 3 AND det != 0 THEN det_a / det / 1000000.0 END, 6) AS alpha,
        |  round(CASE WHEN n >= 3 AND det != 0 THEN det_b / det END, 6) AS beta,
        |  round(CASE WHEN n >= 3 AND det != 0 THEN det_c / det * 1000000.0 END, 6) AS gamma
        |FROM c
        |ORDER BY user_id""".stripMargin),
    Query("q_cvar", (s, dir) =>
      TimeSeries.cvar(Tables.events(s, dir), 0.05).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), o AS (
        |  SELECT user_id, ret,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ret ASC, day ASC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM r
        |), f AS (
        |  SELECT *, CAST(ceil(n * 0.05) AS BIGINT) AS k FROM o
        |), t AS (SELECT * FROM f WHERE rn <= k)
        |SELECT user_id,
        |  max(CASE WHEN rn = k THEN ret END) AS var_ret,
        |  CAST(sum(CAST(floor(ret * 1000000) AS BIGINT)) AS DOUBLE) / CAST(max(k) AS DOUBLE) / 1000000.0 AS cvar,
        |  max(k) AS k, CAST(max(n) AS BIGINT) AS n
        |FROM t GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q_volume_profile", (s, dir) =>
      TimeSeries.volumeProfile(Tables.events(s, dir), 10).orderBy("user_id", "bin"),
      s"""${volumeBars("        ")}
        |), rng AS (
        |  SELECT user_id, min(close) AS lo, max(close) AS hi FROM bars GROUP BY user_id
        |), binned AS (
        |  SELECT b.user_id,
        |    CASE WHEN r.hi = r.lo THEN 0
        |         ELSE least(9, CAST(floor((b.close - r.lo) * 10 / (r.hi - r.lo)) AS BIGINT)) END AS bin,
        |    b.close, b.volume
        |  FROM bars b JOIN rng r USING (user_id)
        |), prof AS (
        |  SELECT user_id, bin, count(*) AS n_days, CAST(sum(volume) AS BIGINT) AS volume,
        |    min(close) AS px_lo, max(close) AS px_hi
        |  FROM binned GROUP BY 1, 2
        |)
        |SELECT user_id, bin, n_days, volume, px_lo, px_hi,
        |  row_number() OVER (PARTITION BY user_id ORDER BY volume DESC, bin ASC) = 1 AS poc
        |FROM prof
        |ORDER BY user_id, bin""".stripMargin),
    Query("q_cross_sectional_rank", (s, dir) =>
      TimeSeries.crossSectionalRank(Tables.events(s, dir)).orderBy("day", "rnk"),
      s"""${prevClose("        ")}
        |), r AS (
        |  SELECT user_id, day, close / prev - 1 AS ret
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, user_id, round(ret, 6) AS ret,
        |  row_number() OVER w AS rnk,
        |  count(*) OVER (PARTITION BY day) AS n,
        |  CAST(floor((row_number() OVER w - 1) * 5 / count(*) OVER (PARTITION BY day)) AS BIGINT) AS quintile
        |FROM r
        |WINDOW w AS (PARTITION BY day ORDER BY ret ASC, user_id ASC)
        |ORDER BY day, rnk""".stripMargin),
    Query("q_quintile_spread", (s, dir) =>
      TimeSeries.quintileSpread(Tables.events(s, dir)).orderBy("day"),
      s"""${prevClose("        ")}
        |), r AS (
        |  SELECT user_id, day, close / prev - 1 AS ret
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |), ranked AS (
        |  SELECT user_id, day, ret,
        |    row_number() OVER w AS rnk, count(*) OVER (PARTITION BY day) AS n
        |  FROM r
        |  WINDOW w AS (PARTITION BY day ORDER BY ret ASC, user_id ASC)
        |), qq AS (
        |  SELECT *, CAST(floor((rnk - 1) * 5 / n) AS BIGINT) AS q,
        |    CAST(floor(ret * 1000000) AS BIGINT) AS micro
        |  FROM ranked
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, max(n) AS n_keys,
        |  CAST(sum(CASE WHEN q = 4 THEN micro END) AS DOUBLE)
        |    / count(CASE WHEN q = 4 THEN 1 END) / 1000000.0 AS hi_mean,
        |  CAST(sum(CASE WHEN q = 0 THEN micro END) AS DOUBLE)
        |    / count(CASE WHEN q = 0 THEN 1 END) / 1000000.0 AS lo_mean,
        |  CAST(sum(CASE WHEN q = 4 THEN micro END) AS DOUBLE)
        |    / count(CASE WHEN q = 4 THEN 1 END) / 1000000.0
        |  - CAST(sum(CASE WHEN q = 0 THEN micro END) AS DOUBLE)
        |    / count(CASE WHEN q = 0 THEN 1 END) / 1000000.0 AS spread
        |FROM qq GROUP BY day
        |ORDER BY day""".stripMargin),
    Query("q_drawdown_episodes", (s, dir) =>
      TimeSeries.drawdownEpisodes(Tables.events(s, dir)).orderBy("user_id", "eid"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), p AS (
        |  SELECT user_id, day, close,
        |    max(close) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM c
        |), f AS (
        |  SELECT *, CASE WHEN close >= peak THEN 1 ELSE 0 END AS at_peak FROM p
        |), e AS (
        |  SELECT *,
        |    CAST(sum(at_peak) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS eid,
        |    max(day) OVER (PARTITION BY user_id) AS last_day
        |  FROM f
        |)
        |SELECT user_id, eid,
        |  strftime(min(day), '%Y-%m-%d') AS start_day,
        |  strftime(max(day), '%Y-%m-%d') AS end_day,
        |  count(*) AS n_days,
        |  round(min(close / peak - 1), 6) AS max_depth,
        |  max(day) < max(last_day) AS recovered
        |FROM e WHERE at_peak = 0
        |GROUP BY 1, 2
        |ORDER BY user_id, eid""".stripMargin),
    Query("q_lead_lag_corr", (s, dir) =>
      TimeSeries.leadLagCorr(Tables.events(s, dir), 0L, 2)
        .orderBy("user_id", "shift"),
      s"""${prevClose("        ")}
        |), r AS (
        |  SELECT user_id, CAST(day AS DATE) AS d,
        |    CAST(close / prev - 1 AS DECIMAL(18,6)) AS x
        |  FROM r0 WHERE prev IS NOT NULL AND prev != 0
        |), bl AS (
        |  SELECT b.d - s.shift AS d, s.shift, b.x AS y
        |  FROM (SELECT d, x FROM r WHERE user_id = 0) b
        |  CROSS JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS shift) s
        |), m AS (
        |  SELECT r.user_id, bl.shift,
        |    count(*) AS n_days,
        |    sum(r.x) AS sx, sum(bl.y) AS sy,
        |    sum(CAST(r.x AS DECIMAL(19,6)) * CAST(bl.y AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(r.x AS DECIMAL(19,6)) * CAST(r.x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(bl.y AS DECIMAL(19,6)) * CAST(bl.y AS DECIMAL(19,6))) AS syy
        |  FROM r JOIN bl ON r.d = bl.d
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(shift AS BIGINT) AS shift, n_days,
        |  round(CASE WHEN (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |              AND (n_days * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (n_days * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS corr
        |FROM m
        |ORDER BY user_id, shift""".stripMargin),
    Query("q_peaks", (s, dir) =>
      TimeSeries.peaks(Tables.events(s, dir), 5.0)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      s"""WITH c AS (
        ${dailyClose("        ")}
        |), l AS (
        |  SELECT user_id, day, close,
        |    lag(close) OVER ws AS prev, lead(close) OVER ws AS next
        |  FROM c
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY day)
        |), k AS (
        |  SELECT user_id, day, close,
        |    CASE
        |      WHEN close > prev AND close > next AND close - greatest(prev, next) >= 5.0 THEN 'peak'
        |      WHEN close < prev AND close < next AND least(prev, next) - close >= 5.0 THEN 'trough'
        |    END AS kind,
        |    prev, next
        |  FROM l WHERE prev IS NOT NULL AND next IS NOT NULL
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, kind, close,
        |  round(CASE WHEN kind = 'peak' THEN close - greatest(prev, next)
        |             ELSE least(prev, next) - close END, 6) AS prominence
        |FROM k WHERE kind IS NOT NULL
        |ORDER BY user_id, day""".stripMargin),
    Query("q_ichimoku", (s, dir) =>
      TimeSeries.ichimoku(Tables.events(s, dir))
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |), m AS (
        |  SELECT user_id, bar_start, close,
        |    (max(high) OVER w9 + min(low) OVER w9) / 2 AS tenkan_raw,
        |    (max(high) OVER w26 + min(low) OVER w26) / 2 AS kijun_raw,
        |    (max(high) OVER w52 + min(low) OVER w52) / 2 AS senkou_b_raw
        |  FROM bars
        |  WINDOW
        |    w9  AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |    w52 AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
        |), l AS (
        |  SELECT user_id, bar_start, close, tenkan_raw, kijun_raw,
        |    round(lag((tenkan_raw + kijun_raw) / 2, 26) OVER ws, 6) AS senkou_a,
        |    round(lag(senkou_b_raw, 26) OVER ws, 6) AS senkou_b,
        |    lead(close, 26) OVER ws AS chikou
        |  FROM m
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY bar_start)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  round(tenkan_raw, 6) AS tenkan, round(kijun_raw, 6) AS kijun,
        |  senkou_a, senkou_b, chikou,
        |  CASE WHEN senkou_a IS NOT NULL AND senkou_b IS NOT NULL
        |    THEN close > greatest(senkou_a, senkou_b) END AS above_cloud
        |FROM l
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_pivot_points", (s, dir) =>
      TimeSeries.pivotPoints(Tables.events(s, dir))
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |), l AS (
        |  SELECT user_id, bar_start, close,
        |    lag(high) OVER ws AS h1, lag(low) OVER ws AS l1, lag(close) OVER ws AS c1
        |  FROM bars
        |  WINDOW ws AS (PARTITION BY user_id ORDER BY bar_start)
        |), p AS (
        |  SELECT user_id, bar_start, close, h1, l1, (h1 + l1 + c1) / 3 AS p_raw FROM l
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start, close,
        |  round(p_raw, 6) AS pivot,
        |  round(p_raw * 2 - l1, 6) AS r1,
        |  round(p_raw * 2 - h1, 6) AS s1,
        |  round(p_raw + (h1 - l1), 6) AS r2,
        |  round(p_raw - (h1 - l1), 6) AS s2,
        |  CASE WHEN p_raw IS NOT NULL THEN close > p_raw END AS above_pivot
        |FROM p
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_parkinson_vol", (s, dir) =>
      TimeSeries.parkinsonVol(Tables.events(s, dir))
        .orderBy("user_id"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, max(value) AS high, min(value) AS low
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_bars,
        |  round(sqrt(sum(pow(ln(high / low), 2)) / (4.0 * ln(2.0) * count(*))), 6) AS parkinson_vol
        |FROM bars WHERE low > 0
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q_rolling_stats", (s, dir) =>
      TimeSeries.rollingStats(Tables.events(s, dir), 0L, 30)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0),
        |j AS (
        |  SELECT r.user_id, r.day, r.ret, b.bench_ret
        |  FROM r JOIN b USING (day) WHERE r.user_id != 0
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  round(CASE WHEN count(*) OVER w2 >= 2
        |    THEN stddev_samp(ret) OVER w2 * sqrt(252) END, 6) AS roll_vol,
        |  round(CASE WHEN count(*) OVER w2 >= 2
        |      AND stddev_samp(ret) OVER w2 != 0 AND stddev_samp(bench_ret) OVER w2 != 0
        |    THEN corr(ret, bench_ret) OVER w2 END, 6) AS roll_corr
        |FROM j
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),
    Query("q_corr_matrix", (s, dir) =>
      TimeSeries.correlationMatrix(Tables.events(s, dir)).orderBy("ka", "kb"),
      s"""${dailyReturns("        ")}
        |)
        |, s AS (
        |  SELECT a.user_id AS ka, b.user_id AS kb,
        |    count(*) AS n, sum(a.ret) AS sx, sum(b.ret) AS sy,
        |    sum(a.ret * a.ret) AS sxx, sum(b.ret * b.ret) AS syy,
        |    sum(a.ret * b.ret) AS sxy
        |  FROM r a JOIN r b ON a.day = b.day AND a.user_id < b.user_id
        |  GROUP BY a.user_id, b.user_id
        |)
        |SELECT ka, kb,
        |  round(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END, 6) AS corr_ret
        |FROM s
        |ORDER BY ka, kb""".stripMargin),
    Query("q_corr_pairs_banded", (s, dir) =>
      TimeSeries.corrPairsBanded(Tables.events(s, dir)).orderBy("ka", "kb"),
      // banding reproduced verbatim: slot//6 band, ascending-slot
      // "slot:sign" pattern md5 bucket, exact closed-form corr on the
      // candidate pairs only, filter on the ROUNDED value (both
      // engines branch on identical 6-dp decimals)
      s"""${dailyReturns("        ", "r0")}
        |), days AS (
        |  SELECT day, row_number() OVER (ORDER BY day) - 1 AS slot
        |  FROM (SELECT DISTINCT day FROM r0)
        |), r AS (
        |  SELECT r0.user_id AS k, days.slot, r0.ret FROM r0 JOIN days USING (day)
        |), wd AS (
        |  SELECT greatest(6, CASE WHEN needed <= 1 THEN 0
        |           ELSE length(bin(needed - 1)) END) AS weff, nd
        |  FROM (SELECT (count(DISTINCT k) + 7) // 8 AS needed,
        |          count(DISTINCT slot) AS nd FROM r)
        |), sigs AS (
        |  SELECT k,
        |    CASE WHEN weff = 6 THEN slot // 6
        |         ELSE least(slot // weff, greatest(1, nd // weff) - 1) END AS band,
        |    md5(string_agg(slot || ':' || (CASE WHEN ret >= 0 THEN 1 ELSE 0 END), ',' ORDER BY slot)) AS sig
        |  FROM r, wd GROUP BY k, band
        |), cand AS (
        |  SELECT DISTINCT a.k AS ka, b.k AS kb
        |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.k < b.k
        |), s AS (
        |  SELECT c.ka, c.kb, count(*) AS n,
        |    sum(x.ret) AS sx, sum(y.ret) AS sy, sum(x.ret * x.ret) AS sxx,
        |    sum(y.ret * y.ret) AS syy, sum(x.ret * y.ret) AS sxy
        |  FROM cand c JOIN r x ON c.ka = x.k JOIN r y ON c.kb = y.k AND x.slot = y.slot
        |  GROUP BY 1, 2
        |), cc AS (
        |  SELECT ka, kb,
        |    round(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |      THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END, 6) AS corr_ret
        |  FROM s
        |)
        |SELECT ka, kb, corr_ret FROM cc WHERE abs(corr_ret) >= 0.3
        |ORDER BY ka, kb""".stripMargin),
    Query("q_period_returns", (s, dir) =>
      TimeSeries
        .periodReturn(Tables.eventsRange(s, dir, "2024-01-05", "2024-01-25"), "2024-01-05", "2024-01-25")
        .orderBy("user_id"),
      """SELECT user_id,
        |  CASE WHEN min_by(value, ts) != 0 THEN max_by(value, ts) / min_by(value, ts) - 1 END AS period_return
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_yield_ratio", (s, dir) =>
      TimeSeries.yieldRatio(Tables.events(s, dir), "purchase").orderBy("user_id"),
      """SELECT user_id,
        |  CASE WHEN max_by(value, ts) != 0
        |    THEN coalesce(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(18,2))) AS DOUBLE), 0)
        |      / max_by(value, ts) * 100 END AS yield_pct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_vwap", (s, dir) =>
      TimeSeries.vwap(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      """WITH e AS (
        |  SELECT user_id, ts, value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
        |  FROM events
        |)
        |SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(sum(vol) AS BIGINT) AS volume,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(vol AS DECIMAL(14,0))) AS DOUBLE) / CAST(sum(vol) AS DOUBLE) AS vwap
        |FROM e WHERE vol IS NOT NULL AND vol > 0
        |GROUP BY user_id, date_trunc('day', ts)
        |ORDER BY user_id, day""".stripMargin),
    Query("q_info_ratio", (s, dir) =>
      TimeSeries.informationRatio(Tables.events(s, dir), 0L).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0)
        |SELECT r.user_id,
        |  round(CASE WHEN stddev_samp(r.ret - b.bench_ret) != 0
        |    THEN (avg(r.ret - b.bench_ret) * 252) / (stddev_samp(r.ret - b.bench_ret) * sqrt(252)) END, 6) AS info_ratio
        |FROM r JOIN b USING (day)
        |WHERE r.user_id != 0
        |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin),
    // thresholds sized to the synthetic series' dispersion (the
    // operator defaults keep the reference's real-fund values) so
    // the gate genuinely splits the population
    Query("q_benchmark_check", (s, dir) =>
      TimeSeries.benchmarkValidation(Tables.events(s, dir), 0L,
        minCorr = 0.3, minR2 = 0.1, maxTePct = 100000.0, betaLo = 0.0, betaHi = 2.0)
        .orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0)
        |SELECT r.user_id,
        |  round(corr(r.ret, b.bench_ret), 6) AS corr_test,
        |  round(pow(corr(r.ret, b.bench_ret), 2), 6) AS r_squared,
        |  round(stddev_pop(r.ret - b.bench_ret) * sqrt(252) * 100, 6) AS tracking_error_pct,
        |  round(CASE WHEN var_samp(b.bench_ret) != 0
        |    THEN covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) END, 6) AS beta,
        |  CAST(corr(r.ret, b.bench_ret) > 0.3 AS INT) AS corr_pass,
        |  CAST(pow(corr(r.ret, b.bench_ret), 2) > 0.1 AS INT) AS r2_pass,
        |  CAST(stddev_pop(r.ret - b.bench_ret) * sqrt(252) * 100 < 100000.0 AS INT) AS te_pass,
        |  CAST(CASE WHEN var_samp(b.bench_ret) != 0
        |    THEN covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) END BETWEEN 0.0 AND 2.0 AS INT) AS beta_pass,
        |  CAST(corr(r.ret, b.bench_ret) > 0.3 AND pow(corr(r.ret, b.bench_ret), 2) > 0.1
        |    AND stddev_pop(r.ret - b.bench_ret) * sqrt(252) * 100 < 100000.0
        |    AND (CASE WHEN var_samp(b.bench_ret) != 0
        |      THEN covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) END BETWEEN 0.0 AND 2.0) AS INT) AS all_pass
        |FROM r JOIN b USING (day)
        |WHERE r.user_id != 0
        |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin),
    Query("q_momentum_rank", (s, dir) =>
      TimeSeries.momentumRank(Tables.events(s, dir), 10)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day", "mom_rank"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), t AS (
        |  SELECT user_id, day,
        |    CASE WHEN lag(close, 10) OVER w != 0 THEN close / lag(close, 10) OVER w - 1 END AS trail_ret
        |  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |  QUALIFY trail_ret IS NOT NULL
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, trail_ret,
        |  row_number() OVER (PARTITION BY day ORDER BY trail_ret DESC, user_id ASC) AS mom_rank
        |FROM t ORDER BY day, mom_rank""".stripMargin),
    // periods are QTD/YTD/1Y/… buckets in production; here scaled to
    // the one-month fixture (trailing week / fortnight / month-to-date)
    Query("q_peer_performance", (s, dir) =>
      TimeSeries.peerPerformance(Tables.events(s, dir),
        Seq(("mtd", "2024-01-01", "2024-02-01"),
            ("p1w", "2024-01-24", "2024-02-01"),
            ("p2w", "2024-01-17", "2024-02-01")), 0L)
        .orderBy("period", "user_id"),
      """WITH p(period, p_start, p_end) AS (VALUES
        |  ('mtd', TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01'),
        |  ('p1w', TIMESTAMP '2024-01-24', TIMESTAMP '2024-02-01'),
        |  ('p2w', TIMESTAMP '2024-01-17', TIMESTAMP '2024-02-01')
        |), r AS (
        |  SELECT p.period, e.user_id,
        |    CASE WHEN min_by(e.value, e.ts) != 0
        |      THEN max_by(e.value, e.ts) / min_by(e.value, e.ts) - 1 END AS period_return
        |  FROM events e JOIN p ON e.ts >= p.p_start AND e.ts < p.p_end
        |  GROUP BY p.period, e.user_id
        |), rr AS (SELECT * FROM r WHERE period_return IS NOT NULL
        |), b AS (SELECT period, period_return AS bench_return FROM rr WHERE user_id = 0
        |), pe AS (
        |  SELECT period, user_id, period_return,
        |    row_number() OVER (PARTITION BY period ORDER BY period_return DESC, user_id ASC) AS peer_rank,
        |    row_number() OVER (PARTITION BY period ORDER BY period_return ASC, user_id ASC) AS rna,
        |    count(*) OVER (PARTITION BY period) AS n
        |  FROM rr WHERE user_id != 0
        |), m AS (
        |  SELECT period, avg(period_return) AS peer_median FROM pe
        |  WHERE rna = CAST(floor((n + 1) / 2.0) AS BIGINT) OR rna = CAST(floor(n / 2.0) AS BIGINT) + 1
        |  GROUP BY period
        |)
        |SELECT pe.period, pe.user_id, pe.period_return, b.bench_return, m.peer_median,
        |  pe.peer_rank,
        |  CAST(pe.peer_rank AS VARCHAR) || '/' || CAST(pe.n AS VARCHAR) AS peer_ranking
        |FROM pe JOIN m USING (period) LEFT JOIN b USING (period)
        |ORDER BY period, user_id""".stripMargin),
    Query("q_risk_snapshot", (s, dir) =>
      TimeSeries.riskSnapshot(Tables.events(s, dir), 0L).orderBy("metric", "user_id"),
      s"""${dailyReturns("        ")}
        |), base AS (
        |  SELECT user_id,
        |    round(stddev_samp(ret) * sqrt(252), 6) AS volatility,
        |    round(CASE WHEN stddev_samp(ret) != 0 THEN (avg(ret) * 252) / (stddev_samp(ret) * sqrt(252)) END, 6) AS sharpe
        |  FROM r GROUP BY user_id
        |), rm AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
        |  FROM events
        |), mdd AS (
        |  SELECT user_id, min(CASE WHEN run_max != 0 THEN value / run_max - 1 END) AS max_drawdown
        |  FROM rm GROUP BY user_id
        |), b AS (SELECT day, ret AS bench_ret FROM r WHERE user_id = 0
        |), ab AS (
        |  SELECT r.user_id,
        |    round(CASE WHEN var_samp(b.bench_ret) != 0
        |      THEN covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) END, 6) AS beta,
        |    round(CASE WHEN var_samp(b.bench_ret) != 0
        |      THEN (avg(r.ret) - covar_samp(r.ret, b.bench_ret) / var_samp(b.bench_ret) * avg(b.bench_ret)) * 252 END, 6) AS alpha
        |  FROM r JOIN b USING (day) WHERE r.user_id != 0 GROUP BY r.user_id
        |), wide AS (
        |  SELECT base.user_id, volatility, sharpe, max_drawdown, beta, alpha
        |  FROM base JOIN mdd USING (user_id) LEFT JOIN ab USING (user_id)
        |), funds AS (
        |  SELECT user_id, metric, fund_value FROM (
        |    SELECT user_id, 'alpha' AS metric, alpha AS fund_value FROM wide WHERE user_id != 0
        |    UNION ALL SELECT user_id, 'beta', beta FROM wide WHERE user_id != 0
        |    UNION ALL SELECT user_id, 'max_drawdown', max_drawdown FROM wide WHERE user_id != 0
        |    UNION ALL SELECT user_id, 'sharpe', sharpe FROM wide WHERE user_id != 0
        |    UNION ALL SELECT user_id, 'volatility', volatility FROM wide WHERE user_id != 0
        |  ) WHERE fund_value IS NOT NULL
        |), bl AS (
        |  SELECT 'alpha' AS metric, CAST(0.0 AS DOUBLE) AS bench_value FROM wide WHERE user_id = 0
        |  UNION ALL SELECT 'beta', CAST(1.0 AS DOUBLE) FROM wide WHERE user_id = 0
        |  UNION ALL SELECT 'max_drawdown', max_drawdown FROM wide WHERE user_id = 0
        |  UNION ALL SELECT 'sharpe', sharpe FROM wide WHERE user_id = 0
        |  UNION ALL SELECT 'volatility', volatility FROM wide WHERE user_id = 0
        |), fr AS (
        |  SELECT user_id, metric, fund_value,
        |    row_number() OVER (PARTITION BY metric ORDER BY fund_value ASC, user_id ASC) AS rna,
        |    count(*) OVER (PARTITION BY metric) AS n
        |  FROM funds
        |), m AS (
        |  SELECT metric, avg(fund_value) AS peer_median FROM fr
        |  WHERE rna = CAST(floor((n + 1) / 2.0) AS BIGINT) OR rna = CAST(floor(n / 2.0) AS BIGINT) + 1
        |  GROUP BY metric
        |)
        |SELECT f.metric, f.user_id, f.fund_value, bl.bench_value, m.peer_median
        |FROM funds f LEFT JOIN bl USING (metric) JOIN m USING (metric)
        |ORDER BY metric, user_id""".stripMargin),
    Query("q_portfolio_turnover", (s, dir) =>
      TimeSeries.portfolioTurnover(Tables.events(s, dir), "2024-01-15", 10)
        .orderBy("portfolio"),
      """WITH s1 AS (
        |  SELECT user_id, CAST(max_by(value, ts) AS DECIMAL(12,2)) AS l1, user_id % 10 AS portfolio
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id
        |), s2 AS (
        |  SELECT user_id, CAST(max_by(value, ts) AS DECIMAL(12,2)) AS l2, user_id % 10 AS portfolio
        |  FROM events GROUP BY user_id
        |), t1 AS (SELECT portfolio, CAST(sum(l1) AS DECIMAL(18,2)) AS t1 FROM s1 GROUP BY portfolio
        |), t2 AS (SELECT portfolio, CAST(sum(l2) AS DECIMAL(18,2)) AS t2 FROM s2 GROUP BY portfolio
        |), j AS (
        |  SELECT coalesce(s1.portfolio, s2.portfolio) AS portfolio,
        |    coalesce(l1, CAST(0 AS DECIMAL(12,2))) AS l1,
        |    coalesce(l2, CAST(0 AS DECIMAL(12,2))) AS l2
        |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id AND s1.portfolio = s2.portfolio
        |), a AS (
        |  SELECT j.portfolio, sum(abs(j.l1 * t2.t2 - j.l2 * t1.t1)) AS sd
        |  FROM j JOIN t1 USING (portfolio) JOIN t2 USING (portfolio)
        |  GROUP BY j.portfolio
        |)
        |SELECT a.portfolio,
        |  CASE WHEN CAST(t1.t1 * t2.t2 AS DOUBLE) != 0.0
        |    THEN 0.5 * (CAST(a.sd AS DOUBLE) / CAST(t1.t1 * t2.t2 AS DOUBLE)) END AS turnover
        |FROM a JOIN t1 USING (portfolio) JOIN t2 USING (portfolio)
        |ORDER BY portfolio""".stripMargin),
    Query("q_var_historical", (s, dir) =>
      TimeSeries.varHistorical(Tables.events(s, dir), 0.05).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), x AS (
        |  SELECT user_id, ret,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ret ASC, day ASC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM r
        |)
        |SELECT user_id, ret AS var_ret, rn AS k, n
        |FROM x WHERE rn = CAST(ceil(n * 0.05) AS BIGINT)
        |ORDER BY user_id""".stripMargin),
    Query("q_dow_returns", (s, dir) =>
      TimeSeries.dowReturns(Tables.events(s, dir)).orderBy("user_id", "dow"),
      s"""${dailyReturns("        ")}
        |)
        |SELECT user_id, CAST(dayofweek(day) AS BIGINT) AS dow,
        |  round(avg(ret), 6) AS avg_ret, count(*) AS n_days
        |FROM r GROUP BY 1, 2
        |ORDER BY user_id, dow""".stripMargin),
    // quarter bars in production; week grain here so the one-month
    // fixture has real bar-over-bar deltas (thresholds at the weekly
    // volatility quartiles so the alert genuinely splits)
    Query("q_indicator_trends", (s, dir) =>
      TimeSeries.indicatorTrends(Tables.events(s, dir), "week", 40.0, 55.0)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      """WITH e AS (
        |  SELECT user_id, ts, value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
        |  FROM events
        |), bars AS (
        |  SELECT user_id, date_trunc('week', ts) AS bar_start,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(value) AS DOUBLE) AS nav,
        |    CAST(sum(vol) AS BIGINT) AS volume,
        |    round(stddev_samp(value), 6) AS volatility
        |  FROM e GROUP BY 1, 2
        |), d AS (
        |  SELECT user_id, bar_start, nav, nav - lag(nav) OVER w AS d_nav,
        |    volume, volume - lag(volume) OVER w AS d_volume, volatility
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY bar_start)
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  nav, d_nav,
        |  CASE WHEN d_nav IS NULL THEN NULL WHEN d_nav > 0 THEN 'up' WHEN d_nav < 0 THEN 'down' ELSE 'flat' END AS nav_trend,
        |  volume, d_volume,
        |  CASE WHEN d_volume IS NULL THEN NULL WHEN d_volume > 0 THEN 'up' WHEN d_volume < 0 THEN 'down' ELSE 'flat' END AS volume_trend,
        |  volatility,
        |  CASE WHEN volatility > 55.0 THEN 'red' WHEN volatility > 40.0 THEN 'yellow' ELSE 'green' END AS alert
        |FROM d ORDER BY user_id, bar_start""".stripMargin),
    Query("q_williams_r", (s, dir) =>
      TimeSeries.williamsR(Tables.events(s, dir), 14)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      s"""${dailyBars("        ")}
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  round(CASE WHEN max(high) OVER w != min(low) OVER w
        |    THEN (max(high) OVER w - close) / (max(high) OVER w - min(low) OVER w) * -100 END, 6) + 0.0 AS pct_r
        |FROM bars
        |WINDOW w AS (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_mfi", (s, dir) =>
      TimeSeries.mfi(Tables.events(s, dir), 14)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    max(value) AS high, min(value) AS low, max_by(value, ts) AS close,
        |    CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS volume
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, day, volume, (high + low + close) / 3 AS tp FROM bars
        |), f AS (
        |  SELECT user_id, day, volume, tp,
        |    lag(tp) OVER (PARTITION BY user_id ORDER BY day) AS prev_tp
        |  FROM t
        |), g AS (
        |  SELECT user_id, day, volume, tp,
        |    CASE WHEN prev_tp IS NOT NULL AND tp > prev_tp THEN tp * CAST(volume AS DOUBLE) ELSE 0.0 END AS pos_mf,
        |    CASE WHEN prev_tp IS NOT NULL AND tp < prev_tp THEN tp * CAST(volume AS DOUBLE) ELSE 0.0 END AS neg_mf
        |  FROM f
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, volume,
        |  round(tp, 6) AS tp,
        |  round(CASE WHEN sum(pos_mf) OVER w + sum(neg_mf) OVER w != 0.0
        |    THEN 100.0 * sum(pos_mf) OVER w / (sum(pos_mf) OVER w + sum(neg_mf) OVER w) END, 6) AS mfi
        |FROM g
        |WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),
    Query("q_keltner", (s, dir) =>
      TimeSeries.keltner(Tables.events(s, dir), 20, 10, 2.0)
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      // midline is the q_ema closed form on the bars' typical price;
      // bands compose unrounded and round once, the Spark arithmetic
      s"""${dailyBars("        ")}
        |), o AS (
        |  SELECT user_id, bar_start, high, low, close,
        |    (high + low + close) / 3 AS tp,
        |    row_number() OVER (PARTITION BY user_id ORDER BY bar_start) - 1 AS rn,
        |    lag(close) OVER (PARTITION BY user_id ORDER BY bar_start) AS prev_c
        |  FROM bars
        |), g AS (
        |  SELECT *,
        |    CASE WHEN rn = 0 THEN tp ELSE (2.0/21) * tp * pow(1 - 2.0/21, -rn) END AS gg,
        |    CASE WHEN prev_c IS NULL THEN high - low
        |         ELSE greatest(high - low, abs(high - prev_c), abs(low - prev_c)) END AS tr
        |  FROM o
        |), e AS (
        |  SELECT user_id, bar_start,
        |    pow(1 - 2.0/21, rn) * sum(gg) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid,
        |    avg(tr) OVER (PARTITION BY user_id ORDER BY bar_start ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS atr
        |  FROM g
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start,
        |  round(mid, 6) AS mid,
        |  round(mid + 2.0 * atr, 6) AS upper,
        |  round(mid - 2.0 * atr, 6) AS lower
        |FROM e ORDER BY user_id, bar_start""".stripMargin),
    Query("q_acf", (s, dir) =>
      TimeSeries.acf(Tables.events(s, dir), 5)
        .orderBy("user_id", "lag_k"),
      s"""${dailyReturns("        ")}
        |), l AS (
        |  SELECT user_id, ret,
        |    lag(ret, 1) OVER w AS l1, lag(ret, 2) OVER w AS l2, lag(ret, 3) OVER w AS l3,
        |    lag(ret, 4) OVER w AS l4, lag(ret, 5) OVER w AS l5
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), u AS (
        |  SELECT user_id, 1 AS lag_k, ret, l1 AS ret_lag FROM l
        |  UNION ALL SELECT user_id, 2, ret, l2 FROM l
        |  UNION ALL SELECT user_id, 3, ret, l3 FROM l
        |  UNION ALL SELECT user_id, 4, ret, l4 FROM l
        |  UNION ALL SELECT user_id, 5, ret, l5 FROM l
        |)
        |SELECT user_id, CAST(lag_k AS BIGINT) AS lag_k, count(*) AS n_pairs,
        |  round(CASE WHEN var_samp(ret) != 0 AND var_samp(ret_lag) != 0
        |    THEN corr(ret, ret_lag) END, 6) AS acf
        |FROM u WHERE ret_lag IS NOT NULL
        |GROUP BY user_id, lag_k
        |ORDER BY user_id, lag_k""".stripMargin),
    Query("q_calmar", (s, dir) =>
      TimeSeries.calmar(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), x AS (
        |  SELECT user_id,
        |    CASE WHEN lag(close) OVER w != 0 THEN close / lag(close) OVER w - 1 END AS ret,
        |    close / max(close) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) - 1 AS dd
        |  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |)
        |SELECT user_id,
        |  round(avg(ret) * 252, 6) AS ann_return,
        |  round(min(dd), 6) AS max_drawdown,
        |  round(CASE WHEN min(dd) != 0.0 THEN avg(ret) * 252 / -min(dd) END, 6) AS calmar
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_ulcer_index", (s, dir) =>
      TimeSeries.ulcerIndex(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), x AS (
        |  SELECT user_id,
        |    (close / max(close) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) - 1) * 100 AS dd_pct
        |  FROM dc
        |)
        |SELECT user_id, count(*) AS n_days,
        |  round(min(dd_pct), 6) AS worst_dd_pct,
        |  round(sqrt(avg(dd_pct * dd_pct)), 6) AS ulcer_index
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_omega_ratio", (s, dir) =>
      TimeSeries.omegaRatio(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), r AS (
        |  SELECT user_id,
        |    CASE WHEN lag(close) OVER w != 0 THEN close / lag(close) OVER w - 1 END AS ret
        |  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |  QUALIFY ret IS NOT NULL
        |)
        |SELECT user_id,
        |  round(sum(greatest(ret - 0.0, 0.0)), 6) AS gain_sum,
        |  round(sum(greatest(0.0 - ret, 0.0)), 6) AS loss_sum,
        |  round(CASE WHEN sum(greatest(0.0 - ret, 0.0)) != 0.0
        |    THEN sum(greatest(ret - 0.0, 0.0)) / sum(greatest(0.0 - ret, 0.0)) END, 6) AS omega
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_cusum", (s, dir) =>
      TimeSeries.cusum(Tables.events(s, dir)).orderBy("user_id"),
      s"""${dailyReturns("        ")}
        |), mu AS (
        |  SELECT user_id, round(avg(ret), 6) AS mu, count(*) AS n_days FROM r GROUP BY 1
        |), c AS (
        |  SELECT r.user_id, r.day, mu.n_days,
        |    sum(r.ret - mu.mu) OVER (PARTITION BY r.user_id ORDER BY r.day ROWS UNBOUNDED PRECEDING) AS s
        |  FROM r JOIN mu USING (user_id)
        |), k AS (
        |  SELECT user_id, day, n_days, s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY abs(s) DESC, day ASC) AS rnk
        |  FROM c
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS cp_day,
        |  round(abs(s), 6) AS cusum_stat, n_days
        |FROM k WHERE rnk = 1 ORDER BY user_id""".stripMargin),
    Query("q_linreg_trend", (s, dir) =>
      TimeSeries.linearTrend(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), i AS (
        |  SELECT user_id, close,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS DOUBLE) AS idx
        |  FROM dc
        |)
        |SELECT user_id, count(*) AS n_days,
        |  round(regr_slope(close, idx), 6) AS slope,
        |  round(regr_intercept(close, idx), 6) AS intercept,
        |  round(regr_r2(close, idx), 6) AS r2
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_theilsen", (s, dir) =>
      TimeSeries.theilSen(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), i AS (
        |  SELECT user_id, close,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS DOUBLE) AS idx
        |  FROM dc
        |)
        |SELECT a.user_id, count(*) AS n_pairs,
        |  round(quantile_cont((b.close - a.close) / (b.idx - a.idx), 0.5), 6) + 0.0 AS ts_slope
        |FROM i a JOIN i b ON a.user_id = b.user_id AND b.idx > a.idx
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
    Query("q_variance_ratio", (s, dir) =>
      TimeSeries.varianceRatio(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), r AS (
        |  SELECT user_id,
        |    CASE WHEN lag(close, 1) OVER w > 0 THEN ln(close / lag(close, 1) OVER w) END AS r1,
        |    CASE WHEN lag(close, 5) OVER w > 0 THEN ln(close / lag(close, 5) OVER w) END AS rk
        |  FROM dc WHERE close > 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |)
        |SELECT user_id, count(r1) AS n_1d, count(rk) AS n_kd,
        |  round(var_samp(r1), 6) AS var_1d,
        |  round(var_samp(rk), 6) AS var_kd,
        |  round(CASE WHEN var_samp(r1) > 0 THEN var_samp(rk) / (5 * var_samp(r1)) END, 6) AS vr
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_seasonal_decompose", (s, dir) =>
      TimeSeries.seasonalDecompose(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("user_id", "day"),
      """WITH dc AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(max_by(value, ts) AS DECIMAL(18,6)) AS cl,
        |    max_by(value, ts) AS close
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, day, close, cl,
        |    count(*) OVER w7 AS c7, sum(cl) OVER w7 AS sum7,
        |    dayofweek(day) AS dow
        |  FROM dc WINDOW w7 AS (
        |    PARTITION BY user_id ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), d AS (
        |  SELECT user_id, day, close, c7, sum7, dow,
        |    CASE WHEN c7 = 7 THEN 7 * cl - sum7 END AS det7
        |  FROM t
        |), s AS (
        |  SELECT user_id, dow, sum(det7) AS s7, count(*) AS n_dow
        |  FROM d WHERE det7 IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day, d.close,
        |  CASE WHEN d.c7 = 7 THEN CAST(d.sum7 AS DOUBLE) / 7.0 END AS trend,
        |  CAST(s.s7 AS DOUBLE) / (7.0 * CAST(s.n_dow AS DOUBLE)) AS seasonal,
        |  CAST(d.det7 AS DOUBLE) / 7.0 -
        |    CAST(s.s7 AS DOUBLE) / (7.0 * CAST(s.n_dow AS DOUBLE)) AS residual
        |FROM d LEFT JOIN s ON d.user_id = s.user_id AND d.dow = s.dow
        |ORDER BY d.user_id, day""".stripMargin),
    Query("q_garch_filter", (s, dir) =>
      TimeSeries.garchFilter(Tables.events(s, dir)).orderBy("user_id", "day"),
      // the recurrence is a prepended-seed list_reduce mirroring the
      // Spark strict left fold — bit-identical, UNROUNDED; constants
      // carry ::DOUBLE casts (DuckDB decimal-folds bare literals)
      s"""WITH bars AS (
        ${dailyClose("        ")}
        |), l0 AS (
        |  SELECT user_id, list(close ORDER BY day) AS xs, list(day ORDER BY day) AS ds
        |  FROM bars GROUP BY user_id
        |), m AS (
        |  SELECT user_id, ds,
        |    list_transform(generate_series(2, len(xs)),
        |      i -> CASE WHEN xs[i-1] != 0 THEN xs[i] / xs[i-1] - 1 END) AS rs
        |  FROM l0 WHERE len(xs) >= 2
        |), r AS (
        |  SELECT user_id, ds, rs, unnest(generate_series(1, len(rs))) AS rn FROM m
        |), v AS (
        |  SELECT user_id, ds, rs, rn,
        |    list_reduce(list_prepend(rs[1] * rs[1], rs[1:rn-1]),
        |      (y, x) -> 0.000001::DOUBLE + 0.08::DOUBLE * x * x + 0.9::DOUBLE * y) AS sigma2
        |  FROM r
        |)
        |SELECT user_id, strftime(ds[rn + 1], '%Y-%m-%d') AS day,
        |  rs[rn] AS ret, sigma2, sqrt(sigma2) AS sigma
        |FROM v ORDER BY user_id, day""".stripMargin),
    Query("q_vol_cones", (s, dir) =>
      TimeSeries.volCones(Tables.events(s, dir)).orderBy("horizon"),
      // per-window variance numerators are exact longs; cone cuts are
      // exact interpolating percentiles; vol one fixed sqrt chain with
      // ::DOUBLE-cast constants — UNROUNDED
      s"""${dailyReturns("        ", "r0")}
        |), r AS (
        |  SELECT user_id, day, CAST(floor(ret * 1000000) AS BIGINT) AS mk FROM r0
        |), w5h AS (
        |  SELECT 5::HUGEINT * sum(mk::HUGEINT * mk::HUGEINT) OVER w
        |      - sum(mk::HUGEINT) OVER w * sum(mk::HUGEINT) OVER w AS vnh,
        |    count(*) OVER w AS cnt
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |), w5 AS (
        |  SELECT sqrt((CAST(vnh // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |    + CAST(vnh % 9007199254740992 AS DOUBLE)) * (252.0::DOUBLE / (5 * 4)::DOUBLE)) / 1e6 AS volr, cnt
        |  FROM w5h
        |), w21h AS (
        |  SELECT 21::HUGEINT * sum(mk::HUGEINT * mk::HUGEINT) OVER w
        |      - sum(mk::HUGEINT) OVER w * sum(mk::HUGEINT) OVER w AS vnh,
        |    count(*) OVER w AS cnt
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
        |), w21 AS (
        |  SELECT sqrt((CAST(vnh // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |    + CAST(vnh % 9007199254740992 AS DOUBLE)) * (252.0::DOUBLE / (21 * 20)::DOUBLE)) / 1e6 AS volr, cnt
        |  FROM w21h
        |)
        |SELECT 5 AS horizon, CAST(count(*) AS BIGINT) AS n_windows,
        |  quantile_cont(volr, 0.1) AS vol_p10,
        |  quantile_cont(volr, 0.5) AS vol_p50,
        |  quantile_cont(volr, 0.9) AS vol_p90
        |FROM w5 WHERE cnt = 5
        |UNION ALL
        |SELECT 21 AS horizon, CAST(count(*) AS BIGINT) AS n_windows,
        |  quantile_cont(volr, 0.1) AS vol_p10,
        |  quantile_cont(volr, 0.5) AS vol_p50,
        |  quantile_cont(volr, 0.9) AS vol_p90
        |FROM w21 WHERE cnt = 21
        |ORDER BY horizon""".stripMargin),
    Query("q_kupiec_pof", (s, dir) =>
      TimeSeries.kupiecPof(Tables.events(s, dir)).orderBy("user_id"),
      // train-half VaR threshold as a discrete order statistic; exact
      // violation counts; LR one fixed ln chain at 6dp (libm last-ulp
      // is not a cross-engine contract)
      s"""${dailyReturns("        ", "r0")}
        |), rets AS (
        |  SELECT user_id, day,
        |    CAST(floor(ret * 1000000) AS BIGINT) AS mk,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS drn,
        |    count(*) OVER (PARTITION BY user_id) AS n_all
        |  FROM r0
        |), thr AS (
        |  SELECT user_id, mk AS thr_mk, n_tr FROM (
        |    SELECT user_id, mk, day,
        |      row_number() OVER (PARTITION BY user_id ORDER BY mk, day) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS n_tr
        |    FROM rets WHERE drn <= n_all // 2)
        |  WHERE rn = CAST(ceil(n_tr * 0.05) AS BIGINT)
        |), a AS (
        |  SELECT r.user_id, CAST(max(t.n_tr) AS BIGINT) AS n_train,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN r.mk < t.thr_mk THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
        |    CAST(max(t.thr_mk) AS BIGINT) AS thr_mk
        |  FROM rets r JOIN thr t USING (user_id)
        |  WHERE r.drn > r.n_all // 2
        |  GROUP BY 1
        |)
        |SELECT user_id, n_train, n_test, n_viol,
        |  CAST(thr_mk AS DOUBLE) / 1000000.0 AS var_threshold,
        |  round(-2.0 * (CAST(n_test - n_viol AS DOUBLE) * ln(0.95) + CAST(n_viol AS DOUBLE) * ln(0.05)
        |    - CASE WHEN n_viol > 0 AND n_viol < n_test
        |        THEN CAST(n_test - n_viol AS DOUBLE)
        |          * ln(1.0 - CAST(n_viol AS DOUBLE) / CAST(n_test AS DOUBLE))
        |          + CAST(n_viol AS DOUBLE) * ln(CAST(n_viol AS DOUBLE) / CAST(n_test AS DOUBLE))
        |        ELSE 0.0 END), 6) AS kupiec_lr
        |FROM a ORDER BY user_id""".stripMargin)
  )

  /** `bars`: one OHLC bar per user and UTC day, keyed by `bar_start`. */
  private def dailyBars(margin: String): String = margined(margin, Seq(
    "WITH bars AS (",
    "  SELECT user_id, date_trunc('day', ts) AS bar_start,",
    "    max(value) AS high, min(value) AS low, max_by(value, ts) AS close",
    "  FROM events GROUP BY 1, 2"))

  /** `bars`: each user's daily close and `props.k` volume, keyed by `day`. */
  private def volumeBars(margin: String): String = margined(margin, Seq(
    "WITH bars AS (",
    "  SELECT user_id, date_trunc('day', ts) AS day,",
    "    max_by(value, ts) AS close,",
    "    CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS volume",
    "  FROM events GROUP BY 1, 2"))

  /** `c` daily closes, then `r0`: each day's close beside the previous one. */
  private def prevCloseLines: Seq[String] = Seq("WITH c AS (") ++ DailyClose ++ Seq(
    "), r0 AS (",
    "  SELECT user_id, day, close,",
    "    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev",
    "  FROM c")

  private def prevClose(margin: String): String = margined(margin, prevCloseLines)

  /** [[prevClose]], then `r`: each day's return in integer millionths. */
  private def microReturns(margin: String): String = margined(margin, prevCloseLines ++ Seq(
    "), r AS (",
    "  SELECT user_id, day,",
    "    CAST(floor((close / prev - 1) * 1000000) AS BIGINT) AS mk",
    "  FROM r0 WHERE prev IS NOT NULL AND prev != 0"))
}
