package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

/** The declared queries of event-log analytics: sessions, funnels,
  * cohorts and concurrency: those whose closures call
  * [[graft.operators.EventAnalytics]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object EventAnalyticsQueries {

  val all: Seq[Query] = Seq(
    Query("q_burstiness", (s, dir) =>
      EventAnalytics.burstiness(Tables.events(s, dir)).orderBy("user_id"),
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |    sum(CAST(gap_us AS DECIMAL(19,0))) AS sg,
        |    sum(CAST(gap_us AS DECIMAL(19,0)) * CAST(gap_us AS DECIMAL(19,0))) AS sgg
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
        |), b AS (
        |  SELECT user_id, n_gaps,
        |    CAST(sg AS DOUBLE) / n_gaps AS mu,
        |    CAST(sgg AS DOUBLE) / n_gaps
        |      - (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps) AS va
        |  FROM m
        |), s AS (
        |  SELECT user_id, n_gaps, mu,
        |    sqrt(CASE WHEN va > 0 THEN va ELSE 0.0 END) AS sd
        |  FROM b
        |)
        |SELECT user_id, n_gaps,
        |  mu / 1000000.0 AS mean_gap_s,
        |  sd / 1000000.0 AS sd_gap_s,
        |  CASE WHEN sd + mu != 0.0 THEN (sd - mu) / (sd + mu) END AS burstiness
        |FROM s
        |ORDER BY user_id""".stripMargin),
    Query("q_markov_stationary", (s, dir) =>
      EventAnalytics.markovStationary(Tables.events(s, dir)).orderBy("event_type"),
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), edges AS (
        |  SELECT prev, event_type AS next, count(*) AS c
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
        |), rt AS (SELECT prev, sum(c) AS t FROM edges GROUP BY prev
        |), ed AS (SELECT e.prev, e.next, e.c, rt.t FROM edges e JOIN rt USING (prev)
        |), states AS (SELECT DISTINCT event_type AS s FROM events
        |), p0 AS (
        |  SELECT s, 1000000000000 // (SELECT count(*) FROM states) AS pi FROM states
        |), p1 AS (
        |  SELECT st.s, coalesce(x.pin, 0) AS pi FROM states st LEFT JOIN (
        |    SELECT ed.next AS s, sum(p.pi * ed.c // ed.t) AS pin
        |    FROM ed JOIN p0 p ON p.s = ed.prev GROUP BY ed.next) x USING (s)
        |), p2 AS (
        |  SELECT st.s, coalesce(x.pin, 0) AS pi FROM states st LEFT JOIN (
        |    SELECT ed.next AS s, sum(p.pi * ed.c // ed.t) AS pin
        |    FROM ed JOIN p1 p ON p.s = ed.prev GROUP BY ed.next) x USING (s)
        |), p3 AS (
        |  SELECT st.s, coalesce(x.pin, 0) AS pi FROM states st LEFT JOIN (
        |    SELECT ed.next AS s, sum(p.pi * ed.c // ed.t) AS pin
        |    FROM ed JOIN p2 p ON p.s = ed.prev GROUP BY ed.next) x USING (s)
        |), p4 AS (
        |  SELECT st.s, coalesce(x.pin, 0) AS pi FROM states st LEFT JOIN (
        |    SELECT ed.next AS s, sum(p.pi * ed.c // ed.t) AS pin
        |    FROM ed JOIN p3 p ON p.s = ed.prev GROUP BY ed.next) x USING (s)
        |), p5 AS (
        |  SELECT st.s, coalesce(x.pin, 0) AS pi FROM states st LEFT JOIN (
        |    SELECT ed.next AS s, sum(p.pi * ed.c // ed.t) AS pin
        |    FROM ed JOIN p4 p ON p.s = ed.prev GROUP BY ed.next) x USING (s)
        |)
        |SELECT s AS event_type, CAST(pi AS BIGINT) AS pi_units,
        |  CAST(pi AS DOUBLE) / 1000000000000 AS pi_share
        |FROM p5
        |ORDER BY event_type""".stripMargin),
    Query("q_entropy_rate", (s, dir) =>
      EventAnalytics.entropyRate(Tables.events(s, dir)),
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), edges AS (
        |  SELECT prev, event_type AS next, count(*) AS c
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
        |), rt AS (SELECT prev, sum(c) AS t FROM edges GROUP BY 1
        |), tot AS (SELECT sum(c) AS nn, count(DISTINCT next) AS n_states FROM edges
        |), hc AS (
        |  SELECT nn, n_states, round(sum(
        |    -(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) / 0.6931471805599453)
        |  ), 6) AS h_cond_bits
        |  FROM edges JOIN rt USING (prev), tot
        |  GROUP BY nn, n_states
        |), marg AS (SELECT next, sum(c) AS m FROM edges GROUP BY 1
        |), hn AS (
        |  SELECT round(sum(
        |    -(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (ln(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE)) / 0.6931471805599453)
        |  ), 6) AS h_next_bits
        |  FROM marg, tot
        |)
        |SELECT CAST(nn AS BIGINT) AS n_transitions,
        |  CAST(n_states AS BIGINT) AS n_states,
        |  h_cond_bits, h_next_bits,
        |  round(h_next_bits - h_cond_bits, 6) AS info_gain_bits
        |FROM hc, hn""".stripMargin),
    Query("q_anomaly_days", (s, dir) =>
      EventAnalytics.anomalyDays(Tables.events(s, dir)).orderBy("event_type", "day"),
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, count(*) AS days,
        |    sum(CAST(n AS HUGEINT)) AS s1, sum(CAST(n AS HUGEINT) * n) AS s2
        |  FROM daily GROUP BY 1
        |), d AS (
        |  SELECT event_type, days, CAST(days AS DOUBLE) AS nd,
        |    CASE WHEN s1 < 0 THEN -(CAST(abs(s1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s1) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s1 % 9007199254740992 AS DOUBLE) END AS d1,
        |    CASE WHEN s2 < 0 THEN -(CAST(abs(s2) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s2) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s2 % 9007199254740992 AS DOUBLE) END AS d2
        |  FROM st
        |), c AS (
        |  SELECT event_type, days, d1 / nd AS mean, (d2 - d1 * d1 / nd) / (nd - 1) AS vr
        |  FROM d
        |)
        |SELECT dl.event_type, strftime(dl.day, '%Y-%m-%d') AS day, CAST(dl.n AS BIGINT) AS n,
        |  CASE WHEN c.days >= 2 AND c.vr > 0
        |    THEN (CAST(dl.n AS DOUBLE) - c.mean) / sqrt(c.vr) END AS z,
        |  CASE WHEN c.days >= 2 AND c.vr > 0
        |    THEN abs((CAST(dl.n AS DOUBLE) - c.mean) / sqrt(c.vr)) > 3.0 END AS anomaly
        |FROM daily dl JOIN c ON c.event_type = dl.event_type
        |ORDER BY 1, 2""".stripMargin),
    Query("q_funnel_windowed", (s, dir) =>
      EventAnalytics.funnelWindowed(Tables.events(s, dir), 72),
      """WITH ff AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t_from
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), cv AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_to
        |  FROM events e JOIN ff ON ff.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= ff.t_from
        |    AND epoch_us(e.ts) <= ff.t_from + 259200000000
        |  GROUP BY 1
        |), j AS (
        |  SELECT ff.user_id, ff.t_from, cv.t_to FROM ff LEFT JOIN cv ON cv.user_id = ff.user_id
        |), s AS (
        |  SELECT count(*) AS ne, count(t_to) AS nc,
        |    sum(CAST(t_to - t_from AS HUGEINT)) AS sl
        |  FROM j
        |)
        |SELECT CAST(ne AS BIGINT) AS n_entered, CAST(nc AS BIGINT) AS n_converted,
        |  CAST(nc AS DOUBLE) / CAST(ne AS DOUBLE) AS conv_rate,
        |  (CASE WHEN sl < 0 THEN -(CAST(abs(sl) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(sl) % 9007199254740992 AS DOUBLE))
        |    ELSE CAST(sl // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(sl % 9007199254740992 AS DOUBLE) END)
        |    / CAST(nc AS DOUBLE) / 60000000.0 AS mean_lag_min
        |FROM s""".stripMargin),
    Query("q_attribution", (s, dir) =>
      EventAnalytics.attribution(Tables.events(s, dir)).orderBy("channel"),
      // every conversion distributes exactly 1e6 integer micro-credits
      // (floor share + remainder to the last touch) -> order-free sums
      """WITH conv AS (
        |  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us
        |  FROM events WHERE event_type = 'purchase'
        |), touch AS (
        |  SELECT user_id, event_id AS touch_id, event_type AS channel, epoch_us(ts) AS touch_us
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT conv.conv_id, touch.touch_id, touch.channel, touch.touch_us
        |  FROM conv JOIN touch USING (user_id)
        |  WHERE touch_us <= conv_us AND touch_us >= conv_us - 604800000000
        |), j2 AS (
        |  SELECT *, count(*) OVER (PARTITION BY conv_id) AS k,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_us DESC, touch_id DESC) AS rn
        |  FROM j
        |), credited AS (
        |  SELECT channel, conv_id,
        |    1000000 // k + CASE WHEN rn = 1 THEN 1000000 % k ELSE 0 END AS credit_u
        |  FROM j2
        |), bc AS (
        |  SELECT channel, CAST(count(*) AS BIGINT) AS n_touch_events,
        |    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |    CAST(sum(credit_u) AS BIGINT) AS credit_micro
        |  FROM credited GROUP BY 1
        |), direct AS (
        |  SELECT '(direct)' AS channel, CAST(0 AS BIGINT) AS n_touch_events,
        |    CAST(count(*) AS BIGINT) AS n_conversions,
        |    CAST(count(*) * 1000000 AS BIGINT) AS credit_micro
        |  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM j)
        |), u AS (SELECT * FROM bc UNION ALL SELECT * FROM direct)
        |SELECT channel, n_touch_events, n_conversions, credit_micro,
        |  CAST(credit_micro AS DOUBLE) / 1000000.0 AS credit
        |FROM u ORDER BY channel""".stripMargin),
    Query("q_stickiness", (s, dir) =>
      EventAnalytics.stickiness(Tables.events(s, dir), 28).orderBy("day"),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
        |), grid AS (SELECT DISTINCT day AS gday FROM ud
        |), mau AS (
        |  SELECT gday, count(DISTINCT user_id) AS mau
        |  FROM ud JOIN grid
        |    ON datediff('day', day, gday) >= 0 AND datediff('day', day, gday) < 28
        |  GROUP BY 1
        |), dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(d.dau AS BIGINT) AS dau, CAST(m.mau AS BIGINT) AS mau,
        |  CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
        |FROM dau d JOIN mau m ON m.gday = d.day
        |ORDER BY day""".stripMargin),
    Query("q_user_features", (s, dir) =>
      EventAnalytics.userFeatures(Tables.events(s, dir)).orderBy("user_id"),
      """WITH per AS (
        |  SELECT user_id, count(*) AS n_events,
        |    count(DISTINCT date_trunc('day', ts)) AS n_days_active,
        |    count(DISTINCT event_type) AS n_types,
        |    min(date_trunc('day', ts)) AS first_day,
        |    max(date_trunc('day', ts)) AS last_day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS sx
        |  FROM events GROUP BY user_id
        |), e AS (SELECT max(date_trunc('day', ts)) AS corpus_end FROM events)
        |SELECT user_id, n_events, n_days_active, n_types,
        |  CAST(date_diff('day', first_day, last_day) AS BIGINT) AS tenure_days,
        |  CAST(date_diff('day', last_day, corpus_end) AS BIGINT) AS recency_days,
        |  CAST(sx AS DOUBLE) / n_events AS mean_value,
        |  CAST(n_events AS DOUBLE) / (date_diff('day', first_day, last_day) + 1) AS events_per_day
        |FROM per CROSS JOIN e
        |ORDER BY user_id""".stripMargin),
    Query("q_top_paths", (s, dir) =>
      EventAnalytics.topPaths(Tables.events(s, dir), 5, 10),
      """WITH ranked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM ranked WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path ASC LIMIT 10""".stripMargin),
    Query("q_windowed_agg", (s, dir) =>
      graft.streaming.Streams
        .windowedAggBatch(Tables.events(s, dir))
        .orderBy("window_start", "event_type"),
      """SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY time_bucket(INTERVAL '6 hours', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin),
    Query("q_cohort_retention", (s, dir) =>
      EventAnalytics.cohortRetention(Tables.events(s, dir))
        .withColumn("cohort", date_format(col("cohort"), "yyyy-MM-dd"))
        .orderBy("cohort", "day_offset"),
      """WITH fs AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS cohort FROM events GROUP BY user_id
        |), act AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
        |), j AS (
        |  SELECT fs.cohort, date_diff('day', fs.cohort, act.d) AS day_offset, act.user_id
        |  FROM act JOIN fs USING (user_id)
        |), cells AS (
        |  SELECT cohort, day_offset, count(DISTINCT user_id) AS n_users
        |  FROM j GROUP BY 1, 2
        |), sizes AS (
        |  SELECT cohort, count(DISTINCT user_id) AS cohort_size FROM fs GROUP BY cohort
        |)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, day_offset, n_users, cohort_size,
        |  round(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
        |FROM cells JOIN sizes USING (cohort)
        |ORDER BY cohort, day_offset""".stripMargin),
    Query("q_funnel", (s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir))
        .orderBy("stage"),
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY user_id
        |), s1 AS (
        |  SELECT e.user_id, min(e.ts) AS t1
        |  FROM events e JOIN s0 ON s0.user_id = e.user_id AND e.ts >= s0.t0
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts >= s1.t1
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |), c AS (
        |  SELECT (SELECT count(*) FROM s0) AS n0,
        |         (SELECT count(*) FROM s1) AS n1,
        |         (SELECT count(*) FROM s2) AS n2
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, n0 AS n_users,
        |    round(CASE WHEN n0 != 0 THEN CAST(n0 AS DOUBLE) / n0 END, 6) AS step_rate,
        |    round(CASE WHEN n0 != 0 THEN CAST(n0 AS DOUBLE) / n0 END, 6) AS overall_rate
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', n1,
        |    round(CASE WHEN n0 != 0 THEN CAST(n1 AS DOUBLE) / n0 END, 6),
        |    round(CASE WHEN n0 != 0 THEN CAST(n1 AS DOUBLE) / n0 END, 6)
        |  FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', n2,
        |    round(CASE WHEN n1 != 0 THEN CAST(n2 AS DOUBLE) / n1 END, 6),
        |    round(CASE WHEN n0 != 0 THEN CAST(n2 AS DOUBLE) / n0 END, 6)
        |  FROM c
        |)
        |ORDER BY stage""".stripMargin),
    Query("q_session_stats", (s, dir) =>
      EventAnalytics.sessionStats(Tables.events(s, dir))
        .orderBy("user_id"),
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events
        |), y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x
        |), z AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM y
        |), sess AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        |  FROM z GROUP BY user_id, session_id
        |)
        |SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS total_events,
        |  max(n_events) AS max_session_events,
        |  CAST(sum(end_us - start_us) AS BIGINT) AS total_session_us
        |FROM sess GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    Query("q_top_transitions", (s, dir) =>
      EventAnalytics.topTransitions(Tables.events(s, dir), k = 20),
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |)
        |SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n_transitions DESC, prev_type ASC, next_type ASC
        |LIMIT 20""".stripMargin),
    Query("q_time_to_conversion", (s, dir) =>
      EventAnalytics.timeToConversion(Tables.events(s, dir))
        .orderBy("user_id"),
      """WITH f AS (
        |  SELECT user_id, min(ts) AS t_from FROM events WHERE event_type = 'view' GROUP BY user_id
        |), t AS (
        |  SELECT e.user_id, min(e.ts) AS t_to
        |  FROM events e JOIN f ON f.user_id = e.user_id AND e.ts >= f.t_from
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT f.user_id, epoch_us(t_from) AS from_us, epoch_us(t_to) AS to_us,
        |  epoch_us(t_to) - epoch_us(t_from) AS delta_us
        |FROM f JOIN t ON f.user_id = t.user_id
        |ORDER BY f.user_id""".stripMargin),
    Query("q_sessionize", (s, dir) =>
      graft.streaming.Streams
        .sessionizeBatch(Tables.events(s, dir))
        .orderBy("user_id", "session_id"),
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events
        |), y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x
        |), z AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM y
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    Query("q_dau_wau", (s, dir) =>
      EventAnalytics.rollingActiveUsers(Tables.events(s, dir), 7)
        .withColumn("grid_day", date_format(col("grid_day"), "yyyy-MM-dd"))
        .orderBy("grid_day"),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
        |), days AS (
        |  SELECT DISTINCT d AS grid_day FROM ud
        |), dau AS (
        |  SELECT d AS grid_day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1
        |), wau AS (
        |  SELECT g.grid_day, count(DISTINCT u.user_id) AS wau
        |  FROM ud u JOIN days g ON date_diff('day', u.d, g.grid_day) BETWEEN 0 AND 6
        |  GROUP BY 1
        |)
        |SELECT strftime(grid_day, '%Y-%m-%d') AS grid_day, dau, wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (grid_day)
        |ORDER BY grid_day""".stripMargin),
    Query("q_new_vs_returning", (s, dir) =>
      EventAnalytics.newVsReturning(Tables.events(s, dir))
        .withColumn("d", date_format(col("d"), "yyyy-MM-dd"))
        .orderBy("d"),
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
        |), fs AS (
        |  SELECT user_id, min(d) AS first_d FROM ud GROUP BY 1
        |)
        |SELECT strftime(d, '%Y-%m-%d') AS d,
        |  CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN d > first_d THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
        |  CAST(sum(CASE WHEN d > first_d THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) + sum(CASE WHEN d > first_d THEN 1 ELSE 0 END) AS DOUBLE) AS returning_share
        |FROM ud JOIN fs USING (user_id)
        |GROUP BY d ORDER BY d""".stripMargin),
    Query("q_entropy_profile", (s, dir) =>
      EventAnalytics.behaviorEntropy(Tables.events(s, dir)).orderBy("user_id"),
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS tot FROM c
        |)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types,
        |  round(-sum((CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) *
        |    log2(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS entropy_bits
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_power_users", (s, dir) =>
      EventAnalytics.powerUsers(Tables.events(s, dir)).orderBy("rank"),
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
        |), t AS (SELECT sum(n_events) AS total_events FROM c),
        |r AS (
        |  SELECT user_id, n_events,
        |    row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank,
        |    CAST(sum(n_events) OVER (ORDER BY n_events DESC, user_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
        |  FROM c
        |)
        |SELECT user_id, n_events, rank, cum_events,
        |  round(CAST(cum_events AS DOUBLE) / CAST(total_events AS DOUBLE), 6) AS cum_share,
        |  CAST((cum_events - n_events) * 2 < total_events AS INT) AS is_power
        |FROM r, t ORDER BY rank""".stripMargin),
    // day-grain cohorts + 1-day horizon: scaled to the one-month
    // fixture (production defaults are week/7) so the gate sees a
    // genuine churned/active split, not an all-zero column
    Query("q_churn", (s, dir) =>
      EventAnalytics.churn(Tables.events(s, dir), horizonDays = 1, cohortGrain = "day")
        .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd"))
        .orderBy("cohort_week"),
      """WITH pu AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort_week,
        |    date_trunc('day', max(ts)) AS last_day
        |  FROM events GROUP BY 1
        |), e AS (SELECT date_trunc('day', max(ts)) AS corpus_end FROM events)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |  count(*) AS n_users,
        |  CAST(sum(CASE WHEN date_diff('day', last_day, corpus_end) >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  round(CAST(sum(CASE WHEN date_diff('day', last_day, corpus_end) >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS churn_rate
        |FROM pu, e GROUP BY cohort_week ORDER BY cohort_week""".stripMargin),
    Query("q_survival_curve", (s, dir) =>
      EventAnalytics.survivalCurve(Tables.events(s, dir)).orderBy("day_offset"),
      """WITH life AS (
        |  SELECT user_id,
        |    date_diff('day', date_trunc('day', min(ts)), date_trunc('day', max(ts))) AS lifespan
        |  FROM events GROUP BY 1
        |), h AS (SELECT lifespan, count(*) AS n FROM life GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM life)
        |SELECT lifespan AS day_offset, n AS n_exact,
        |  CAST(sum(n) OVER (ORDER BY lifespan DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_alive,
        |  round(CAST(sum(n) OVER (ORDER BY lifespan DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(n_total AS DOUBLE), 6) AS survival_rate
        |FROM h, t ORDER BY day_offset""".stripMargin),
    Query("q_gini", (s, dir) =>
      EventAnalytics.gini(Tables.events(s, dir)),
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
        |), r AS (
        |  SELECT user_id, n_events,
        |    row_number() OVER (ORDER BY n_events ASC, user_id ASC) AS rank
        |  FROM c
        |)
        |SELECT count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS total_events,
        |  round(2.0 * CAST(sum(rank * n_events) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * CAST(sum(n_events) AS DOUBLE))
        |    - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS gini
        |FROM r""".stripMargin),
    Query("q_inter_event", (s, dir) =>
      EventAnalytics.interEventGaps(Tables.events(s, dir)).orderBy("user_id"),
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  QUALIFY gap_us IS NOT NULL
        |)
        |SELECT user_id, count(*) AS n_gaps,
        |  quantile_cont(gap_us, 0.5) AS median_gap_us,
        |  quantile_cont(gap_us, 0.9) AS p90_gap_us,
        |  max(gap_us) AS max_gap_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_hourly_profile", (s, dir) =>
      EventAnalytics.hourlyProfile(Tables.events(s, dir)).orderBy("isodow", "hour"),
      """WITH cells AS (
        |  SELECT CAST(isodow(ts) AS INT) AS isodow, CAST(hour(ts) AS INT) AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), t AS (SELECT sum(n_events) AS n_total FROM cells)
        |SELECT isodow, hour, n_events,
        |  round(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
        |FROM cells, t ORDER BY isodow, hour""".stripMargin),
    Query("q_dispersion", (s, dir) =>
      EventAnalytics.dispersionIndex(Tables.events(s, dir)).orderBy("event_type"),
      // empty hours count as zero via the bounded type x hour grid;
      // D = (n·Σc² − (Σc)²)/((n−1)·Σc) — one IEEE division of exact
      // longs, UNROUNDED
      """WITH b AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM events
        |), grid AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
        |), ty AS (SELECT DISTINCT event_type FROM events),
        |cnt AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT ty.event_type, coalesce(cnt.c, 0) AS c
        |  FROM ty CROSS JOIN grid
        |  LEFT JOIN cnt ON cnt.event_type = ty.event_type AND cnt.hour = grid.hour
        |), a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(c) AS BIGINT) AS n_events, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM g GROUP BY 1
        |)
        |SELECT event_type, n_hours, n_events,
        |  CASE WHEN n_hours > 1 AND n_events > 0
        |    THEN CAST(n_hours * s2 - n_events * n_events AS DOUBLE)
        |      / CAST((n_hours - 1) * n_events AS DOUBLE) END AS fano,
        |  CASE WHEN n_hours > 1 AND n_events > 0
        |    THEN CAST(n_hours * s2 - n_events * n_events AS DOUBLE)
        |      / CAST(n_events AS DOUBLE) END AS chi2_stat
        |FROM a ORDER BY event_type""".stripMargin),
    Query("q_lorenz_curve", (s, dir) =>
      EventAnalytics.lorenzCurve(Tables.events(s, dir)).orderBy("decile"),
      // ranks/cumsums via the distributed prefix sum; deciles by exact
      // integer ceil-division; one share division per decile row
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM c
        |), r AS (
        |  SELECT user_id, n_events,
        |    row_number() OVER (ORDER BY n_events, user_id) AS rank,
        |    CAST(sum(n_events) OVER (ORDER BY n_events, user_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c
        |)
        |SELECT CAST((rank * 10 + n_users - 1) // n_users AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users_in,
        |  CAST(max(cum) AS BIGINT) AS cum_events,
        |  CAST(max(cum) AS DOUBLE) / CAST(max(total_events) AS DOUBLE) AS cum_share
        |FROM r, t GROUP BY 1 ORDER BY decile""".stripMargin),
    Query("q_activation_lag", (s, dir) =>
      EventAnalytics.activationLag(Tables.events(s, dir)),
      // per-user endpoints as conditional mins on one rank window;
      // exact interpolating percentiles over exact micro lags
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS tu,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), p AS (
        |  SELECT user_id,
        |    min(CASE WHEN rn = 1 THEN tu END) AS t1,
        |    min(CASE WHEN rn = 10 THEN tu END) AS tn
        |  FROM o WHERE rn = 1 OR rn = 10 GROUP BY 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(tn) AS BIGINT) AS n_activated,
        |  CAST(count(tn) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS activation_rate,
        |  quantile_cont(tn - t1, 0.5) / 1e6 AS p50_lag_s,
        |  quantile_cont(tn - t1, 0.9) / 1e6 AS p90_lag_s,
        |  CAST(max(tn - t1) AS DOUBLE) / 1e6 AS max_lag_s
        |FROM p""".stripMargin),
    Query("q_peak_concurrency", (s, dir) =>
      EventAnalytics.peakConcurrency(Tables.events(s, dir)).orderBy("day"),
      // +1/-1 change points collapse per timestamp (order-free), the
      // running concurrency is the distributed prefix sum over time;
      // integer end to end
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events
        |), y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x
        |), z AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM y
        |), s AS (
        |  SELECT user_id, session_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        |  FROM z GROUP BY user_id, session_id
        |), bnd AS (
        |  SELECT min(start_us) AS t0, max(end_us + 1) AS t1 FROM s
        |), mid AS (
        |  SELECT epoch_us(unnest(generate_series(
        |    date_trunc('day', make_timestamp(t0)),
        |    date_trunc('day', make_timestamp(t1)),
        |    INTERVAL 1 DAY))) AS t, 0 AS d
        |  FROM bnd
        |), pts AS (
        |  SELECT t, CAST(sum(d) AS BIGINT) AS d FROM (
        |    SELECT start_us AS t, 1 AS d FROM s
        |    UNION ALL
        |    SELECT end_us + 1 AS t, -1 AS d FROM s
        |    UNION ALL
        |    SELECT t, d FROM mid
        |  ) GROUP BY t
        |), r AS (
        |  SELECT t, CAST(sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |  FROM pts
        |)
        |SELECT strftime(date_trunc('day', make_timestamp(t)), '%Y-%m-%d') AS day,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(count(*) AS BIGINT) AS n_points
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin)
  )
}
