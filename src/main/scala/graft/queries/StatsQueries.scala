package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.{dailyClose, dailyReturns}

/** The declared queries of statistical tests, estimators and
  * distribution comparisons: those whose closures call
  * [[graft.operators.Stats]]. Each record keeps its closure beside
  * the DuckDB oracle that must reproduce its rows.
  */
object StatsQueries {

  val all: Seq[Query] = Seq(
    Query("q_percentiles", (s, dir) =>
      Stats.percentiles(Tables.events(s, dir)).orderBy("event_type"),
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_histogram", (s, dir) =>
      Stats.histogram(Tables.events(s, dir), 50.0).orderBy("bin"),
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n,
        |  min(value) AS bin_min, max(value) AS bin_max
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin),
    Query("q_ks_test", (s, dir) =>
      Stats.ksTest(Tables.events(s, dir), "view", "click"),
      // the oracle's single global cumsum IS the distributed prefix sum's
      // semantics: offset + local cumsum = global prefix count wherever
      // the range bounds land
      """WITH base AS (
        |  SELECT value AS x,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('view', 'click')
        |), d AS (
        |  SELECT x, sum(ia) AS ca, sum(ib) AS cb FROM base GROUP BY x
        |), c AS (
        |  SELECT x,
        |    sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cumb
        |  FROM d
        |), t AS (
        |  SELECT CAST((SELECT sum(ca) FROM d) AS BIGINT) AS n_a,
        |         CAST((SELECT sum(cb) FROM d) AS BIGINT) AS n_b
        |)
        |SELECT n_a, n_b,
        |  round(max(abs(CAST(cuma AS DOUBLE) / n_a - CAST(cumb AS DOUBLE) / n_b)), 6) AS ks_stat
        |FROM c, t GROUP BY n_a, n_b""".stripMargin),
    Query("q_chi2", (s, dir) =>
      Stats.chi2Independence(Tables.events(s, dir)),
      """WITH cells AS (
        |  SELECT event_type AS et, isodow(ts) AS dow, count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT et, sum(o) AS rt FROM cells GROUP BY et),
        |ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY dow),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT et) AS nr, count(DISTINCT dow) AS nc FROM cells),
        |grid AS (
        |  SELECT rt.et, ct.dow, rt.rt, ct.ct, coalesce(cells.o, 0) AS o0
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.et = rt.et AND cells.dow = ct.dow
        |)
        |SELECT n, (nr - 1) * (nc - 1) AS dof,
        |  round(sum(pow(CAST(o0 AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n, 2)
        |    / (CAST(rt * ct AS DOUBLE) / n)), 6) AS chi2
        |FROM grid CROSS JOIN tot
        |GROUP BY n, dof""".stripMargin),
    Query("q_grouping_sets", (s, dir) =>
      Stats.groupingSetsSummary(Tables.lineitem(s, dir))
        .orderBy("returnflag", "linestatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin),
    Query("q_gap_detect", (s, dir) =>
      Stats.gapDetect(Tables.events(s, dir))
        .orderBy("user_id", "gap_start"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT user_id, day,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        |  FROM bars
        |)
        |SELECT user_id,
        |  strftime(day + INTERVAL 1 DAY, '%Y-%m-%d') AS gap_start,
        |  CAST(date_diff('day', day, next_day) - 1 AS BIGINT) AS gap_days
        |FROM g
        |WHERE next_day IS NOT NULL AND date_diff('day', day, next_day) > 1
        |ORDER BY user_id, gap_start""".stripMargin),
    Query("q_rollup", (s, dir) =>
      Stats.rollupSummary(Tables.events(s, dir)).orderBy("event_type", "cohort"),
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(user_id % 10, -1) AS cohort,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY ROLLUP(event_type, user_id % 10)
        |ORDER BY event_type, cohort""".stripMargin),
    Query("q_cube", (s, dir) =>
      Stats.cubeSummary(Tables.events(s, dir)).orderBy("event_type", "cohort"),
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(user_id % 10, -1) AS cohort,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY CUBE(event_type, user_id % 10)
        |ORDER BY event_type, cohort""".stripMargin),
    Query("q_distinct_counts", (s, dir) =>
      Stats.distinctCounts(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_clean_normalize", (s, dir) =>
      Stats.cleanNormalize(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    // CMS frequency sketch on the gate in the approx_distinct style:
    // md5 buckets replay in SQL, so exact count AND sketch estimate
    // both hash-match; the one-sided bound rides as a flag
    Query("q_heavy_hitters", (s, dir) =>
      Stats.heavyHittersChecked(Tables.documents(s, dir)).orderBy("tok"),
      // the d x w counter matrix replays exactly: buckets are md5 of
      // the row-tagged token, counters integer sums — est is min over
      // the token's d counters, all engine-deterministic
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
        |), counts AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts
        |), hot AS (
        |  SELECT tok, cnt FROM counts CROSS JOIN tot WHERE cnt * 100 >= n_total
        |), pairs AS (
        |  SELECT r.r,
        |    CAST(concat('0x', substr(md5(concat(CAST(r.r AS VARCHAR), ':', t.tok)), 1, 8)) AS BIGINT) % 16 AS b,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM toks t CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) r
        |  GROUP BY 1, 2
        |), est AS (
        |  SELECT h.tok, min(p.c) AS cms_est
        |  FROM hot h JOIN pairs p
        |    ON p.b = CAST(concat('0x', substr(md5(concat(CAST(p.r AS VARCHAR), ':', h.tok)), 1, 8)) AS BIGINT) % 16
        |  GROUP BY h.tok
        |)
        |SELECT h.tok, h.cnt, e.cms_est, CAST(e.cms_est >= h.cnt AS INT) AS cms_upper_ok
        |FROM hot h JOIN est e USING (tok)
        |ORDER BY tok""".stripMargin),
    Query("q_fill_forward", (s, dir) =>
      Stats.fillForward(Tables.events(s, dir)).orderBy("user_id", "ts_us"),
      """SELECT user_id, epoch_us(ts) AS ts_us,
        |  last_value(CASE WHEN event_type != 'error' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events ORDER BY user_id, ts_us""".stripMargin),
    Query("q_resample_ffill", (s, dir) =>
      Stats.resampleDailyFfill(Tables.events(s, dir), "2024-01-01", "2024-01-30")
        .orderBy("user_id", "day"),
      s"""WITH grid AS (
        |  SELECT user_id, unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS day
        |  FROM (SELECT DISTINCT user_id FROM events)
        |), closes AS (
        ${dailyClose("        ")}
        |)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |  last_value(c.close IGNORE NULLS)
        |    OVER (PARTITION BY g.user_id ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill
        |FROM grid g LEFT JOIN closes c ON g.user_id = c.user_id AND g.day = c.day
        |ORDER BY g.user_id, day""".stripMargin),
    Query("q_rank_suite", (s, dir) =>
      Stats.rankSuite(Tables.events(s, dir)).orderBy("event_id"),
      """SELECT event_id, user_id, value,
        |  rank() OVER wv AS rnk,
        |  dense_rank() OVER wv AS drnk,
        |  percent_rank() OVER wv AS prnk,
        |  cume_dist() OVER wv AS cdist,
        |  ntile(4) OVER wv AS quartile,
        |  lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS next_value
        |FROM events
        |WINDOW wv AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
        |ORDER BY event_id""".stripMargin),
    Query("q_winsorize", (s, dir) =>
      Stats.winsorize(Tables.events(s, dir), "event_type", 0.05, 0.95).orderBy("event_id"),
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, e.event_type,
        |  round(greatest(b.lo, least(b.hi, e.value)), 6) AS value_w
        |FROM events e JOIN b ON e.event_type = b.event_type
        |ORDER BY event_id""".stripMargin),
    // sketch estimates are engine-specific, so the query surface is
    // the checked twin: exact values hash-matched, sketch quality as
    // engine-deterministic within-bound booleans (oracle says TRUE)
    Query("q_approx_distinct", (s, dir) =>
      Stats.approxDistinctChecked(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      // the within_bound flags are engine-deterministic (HLL++/GK are
      // deterministic given the data) — the oracle asserts they hold
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  TRUE AS orders_within_bound,
        |  TRUE AS suppliers_within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // the incremental 100 TB sketch pattern (per-shard HLL -> union)
    // on the driver gate, same checked-twin design
    Query("q_sketch_merge", (s, dir) =>
      Stats.sketchMergeChecked(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  TRUE AS merge_within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_approx_percentiles", (s, dir) =>
      Stats.approxPercentilesChecked(Tables.events(s, dir)).orderBy("event_type"),
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25_exact,
        |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |  round(quantile_cont(value, 0.9), 6) AS p90_exact,
        |  TRUE AS p25_within_bound,
        |  TRUE AS p50_within_bound,
        |  TRUE AS p90_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_mutual_info", (s, dir) =>
      Stats.mutualInfo(Tables.events(s, dir)),
      """WITH cells AS (
        |  SELECT event_type AS et, isodow(ts) AS dow, count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT et, sum(o) AS rt FROM cells GROUP BY et
        |), ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY dow
        |), tot AS (
        |  SELECT sum(o) AS n, count(DISTINCT et) AS nr, count(DISTINCT dow) AS nc FROM cells
        |), grid AS (
        |  SELECT rt.et, ct.dow, rt.rt, ct.ct, coalesce(cells.o, 0) AS o0
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.et = rt.et AND cells.dow = ct.dow
        |), terms AS (
        |  SELECT tot.n, tot.nr, tot.nc,
        |    CASE WHEN o0 > 0 THEN (CAST(o0 AS DOUBLE) / tot.n)
        |      * ln((CAST(o0 AS DOUBLE) * CAST(tot.n AS DOUBLE))
        |          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
        |      / 0.6931471805599453 ELSE 0.0 END AS mi_term,
        |    pow(CAST(o0 AS DOUBLE) - (rt * ct) / CAST(tot.n AS DOUBLE), 2)
        |      / ((rt * ct) / CAST(tot.n AS DOUBLE)) AS chi_term
        |  FROM grid CROSS JOIN tot
        |)
        |SELECT CAST(n AS BIGINT) AS n, round(sum(mi_term), 6) AS mi_bits,
        |  round(sqrt(sum(chi_term) / CAST(n * least(nr - 1, nc - 1) AS DOUBLE)), 6) AS cramers_v
        |FROM terms GROUP BY n, nr, nc""".stripMargin),
    Query("q_kl_divergence", (s, dir) =>
      Stats.klDivergence(Tables.events(s, dir), "view", "purchase", 50.0),
      """WITH cells AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    count(*) AS k FROM cells
        |), terms AS (
        |  SELECT na, nb, k,
        |    (CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |      * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |          / (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE)))
        |      / 0.6931471805599453 AS tab,
        |    (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |      * ln((CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |          / (CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE)))
        |      / 0.6931471805599453 AS tba
        |  FROM cells CROSS JOIN tot
        |)
        |SELECT na, nb, k AS n_bins,
        |  round(sum(tab), 6) AS kl_ab_bits,
        |  round(sum(tba), 6) AS kl_ba_bits,
        |  round(sum(tab + tba), 6) AS jeffreys_bits
        |FROM terms GROUP BY na, nb, k""".stripMargin),
    Query("q_anova", (s, dir) =>
      Stats.anovaF(Tables.events(s, dir)),
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), g AS (
        |  SELECT event_type, count(*) AS n_g,
        |    sum(CAST(qu AS HUGEINT)) AS s_g,
        |    sum(CAST(qu AS HUGEINT) * qu) AS ss_g
        |  FROM q GROUP BY 1
        |), gs AS (
        |  SELECT *, CASE WHEN s_g < 0
        |      THEN -(CAST(abs(s_g) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s_g) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s_g // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s_g % 9007199254740992 AS DOUBLE) END AS sdg
        |  FROM g
        |), t AS (
        |  SELECT event_type, n_g, s_g, ss_g,
        |    CAST(floor((sdg * sdg / CAST(n_g AS DOUBLE)) / 1000000.0) AS BIGINT) AS tq
        |  FROM gs
        |), m AS (
        |  SELECT count(*) AS k_groups, sum(n_g) AS n_total,
        |    sum(s_g) AS s_all, sum(ss_g) AS q_all, sum(tq) AS t_all
        |  FROM t
        |), b AS (
        |  SELECT k_groups, n_total,
        |    CAST(n_total AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd,
        |    CASE WHEN s_all < 0
        |      THEN -(CAST(abs(s_all) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s_all) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s_all // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s_all % 9007199254740992 AS DOUBLE) END AS sD,
        |    (CASE WHEN q_all < 0
        |      THEN -(CAST(abs(q_all) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(q_all) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(q_all // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(q_all % 9007199254740992 AS DOUBLE) END) / 1000000.0 AS qD,
        |    CAST(t_all AS DOUBLE) AS tD
        |  FROM m
        |), c AS (
        |  SELECT k_groups, n_total, nd, kd, tD, qD,
        |    (sD * sD / nd) / 1000000.0 AS cf
        |  FROM b
        |), d AS (
        |  SELECT k_groups, n_total, nd, kd,
        |    tD - cf AS ssb, qD - tD AS ssw, qD - cf AS sst
        |  FROM c
        |)
        |SELECT CAST(k_groups AS BIGINT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
        |  CASE WHEN k_groups > 1 AND ssw > 0
        |    THEN (ssb / (kd - 1)) / (ssw / (nd - kd)) END AS f_stat,
        |  CASE WHEN sst > 0 THEN ssb / sst END AS eta_sq
        |FROM d""".stripMargin),
    Query("q_kruskal", (s, dir) =>
      Stats.kruskalWallis(Tables.events(s, dir)).orderBy("event_type"),
      // doubled mid-ranks off the bounded value axis are exact ints;
      // T_j^2/n_g folds through exact hugeint floor division; H is one
      // IEEE chain via the split-limb rebuild, UNROUNDED
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), c AS (
        |  SELECT event_type, qu, count(*) AS cnt FROM q GROUP BY 1, 2
        |), ax AS (
        |  SELECT qu, sum(cnt) AS t FROM c GROUP BY 1
        |), rk AS (
        |  SELECT qu, t,
        |    coalesce(sum(t) OVER (ORDER BY qu ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
        |  FROM ax
        |), r2 AS (
        |  SELECT qu, 2*c0 + t + 1 AS r2 FROM rk
        |), g AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_g, CAST(sum(cnt * r2.r2) AS BIGINT) AS t_j
        |  FROM c JOIN r2 USING (qu) GROUP BY 1
        |), gq AS (
        |  SELECT event_type, n_g, t_j,
        |    (CAST(t_j AS HUGEINT)*t_j - (CAST(t_j AS HUGEINT)*t_j) % n_g) // n_g AS q_j
        |  FROM g
        |), m AS (
        |  SELECT CAST(sum(n_g) AS BIGINT) AS n_total, sum(q_j) AS s_all,
        |    count(*) AS k_groups
        |  FROM gq
        |), tt AS (
        |  SELECT sum(CAST(t AS HUGEINT)*t*t - t) AS t3 FROM ax
        |), b AS (
        |  SELECT m.n_total, m.k_groups, tt.t3,
        |    CAST(n_total AS DOUBLE) AS ntd,
        |    CASE WHEN s_all < 0
        |      THEN -(CAST(abs(s_all) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s_all) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s_all // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s_all % 9007199254740992 AS DOUBLE) END AS sD,
        |    CASE WHEN t3 < 0
        |      THEN -(CAST(abs(t3) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(t3) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(t3 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(t3 % 9007199254740992 AS DOUBLE) END AS t3d
        |  FROM m, tt
        |), h AS (
        |  SELECT n_total, k_groups,
        |    3.0 * sD / (ntd * (ntd + 1.0)) - 3.0 * (ntd + 1.0) AS h_stat,
        |    1.0 - t3d / (ntd * ntd * ntd - ntd) AS ctie
        |  FROM b
        |)
        |SELECT g.event_type, g.n_g,
        |  CAST(t_j AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE)) AS mean_rank,
        |  h.n_total, CAST(h.k_groups AS BIGINT) AS k_groups,
        |  CASE WHEN h.k_groups > 1 THEN h_stat END AS h_stat,
        |  CASE WHEN h.k_groups > 1 AND ctie > 0 THEN h_stat / ctie END AS h_tie_adj
        |FROM gq g, h ORDER BY event_type""".stripMargin),
    Query("q_levene", (s, dir) =>
      Stats.levene(Tables.events(s, dir)).orderBy("event_type"),
      // doubled-median order statistics keep z integer; the F chain is
      // byte-for-byte the q_anova oracle over z
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), o AS (
        |  SELECT event_type, qu,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY qu) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM q
        |), med AS (
        |  SELECT event_type,
        |    sum(CASE WHEN rn = (n + 1) // 2 THEN qu END)
        |    + sum(CASE WHEN rn = (n + 2) // 2 THEN qu END) AS m2
        |  FROM o WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1
        |), z AS (
        |  SELECT q.event_type, abs(2 * qu - m2) AS zv FROM q JOIN med USING (event_type)
        |), g AS (
        |  SELECT event_type, count(*) AS n_g,
        |    sum(CAST(zv AS HUGEINT)) AS s_g,
        |    sum(CAST(zv AS HUGEINT) * zv) AS ss_g
        |  FROM z GROUP BY 1
        |), gs AS (
        |  SELECT *, CASE WHEN s_g < 0
        |      THEN -(CAST(abs(s_g) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s_g) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s_g // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s_g % 9007199254740992 AS DOUBLE) END AS sdg
        |  FROM g
        |), t AS (
        |  SELECT event_type, n_g, s_g, ss_g,
        |    CAST(floor((sdg * sdg / CAST(n_g AS DOUBLE)) / 1000000.0) AS BIGINT) AS tq
        |  FROM gs
        |), m AS (
        |  SELECT count(*) AS k_groups, sum(n_g) AS n_total,
        |    sum(s_g) AS s_all, sum(ss_g) AS q_all, sum(tq) AS t_all
        |  FROM t
        |), bb AS (
        |  SELECT k_groups, n_total,
        |    CAST(n_total AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd,
        |    CASE WHEN s_all < 0
        |      THEN -(CAST(abs(s_all) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s_all) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s_all // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s_all % 9007199254740992 AS DOUBLE) END AS sD,
        |    (CASE WHEN q_all < 0
        |      THEN -(CAST(abs(q_all) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(q_all) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(q_all // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(q_all % 9007199254740992 AS DOUBLE) END) / 1000000.0 AS qD,
        |    CAST(t_all AS DOUBLE) AS tD
        |  FROM m
        |), cc AS (
        |  SELECT k_groups, n_total, nd, kd, tD, qD,
        |    (sD * sD / nd) / 1000000.0 AS cf
        |  FROM bb
        |), dd AS (
        |  SELECT k_groups, n_total, nd, kd,
        |    tD - cf AS ssb, qD - tD AS ssw, qD - cf AS sst
        |  FROM cc
        |), f AS (
        |  SELECT CAST(k_groups AS BIGINT) AS k_groups, CAST(n_total AS BIGINT) AS n_total,
        |    CASE WHEN k_groups > 1 AND ssw > 0
        |      THEN (ssb / (kd - 1)) / (ssw / (nd - kd)) END AS bf_stat,
        |    CASE WHEN sst > 0 THEN ssb / sst END AS eta_sq
        |  FROM dd
        |), pg AS (
        |  SELECT z.event_type, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(max(med.m2) AS DOUBLE) / 2000000.0 AS median_value,
        |    CAST(sum(CAST(zv AS HUGEINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 2000000.0) AS mean_absdev
        |  FROM z JOIN med USING (event_type) GROUP BY 1
        |)
        |SELECT pg.event_type, pg.n_g, pg.median_value, pg.mean_absdev,
        |  f.k_groups, f.n_total, f.bf_stat, f.eta_sq
        |FROM pg, f ORDER BY event_type""".stripMargin),
    Query("q_fdr_bh", (s, dir) =>
      Stats.fdrBh(Tables.events(s, dir)).orderBy("user_id"),
      // exact 128-bit A/B moments; Chebyshev p-bound is a pure IEEE
      // chain (no t-CDF, which no two engines agree on bitwise); the
      // BH reject set compares bit-identical doubles
      """WITH q AS (
        |  SELECT user_id, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(qu AS HUGEINT)) AS s1,
        |    sum(CAST(qu AS HUGEINT) * qu) AS s2
        |  FROM q GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_all, sum(s1) AS s_all,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM g
        |), w AS (
        |  SELECT g.*, tot.n_all, tot.m,
        |    CAST(n_all AS HUGEINT) * s1 - CAST(n AS HUGEINT) * s_all AS a,
        |    CAST(n AS HUGEINT) * s2 - s1 * s1 AS b
        |  FROM g, tot
        |), d AS (
        |  SELECT *, CASE WHEN a < 0
        |      THEN -(CAST(abs(a) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(a) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(a // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(a % 9007199254740992 AS DOUBLE) END AS a_sd,
        |    CASE WHEN b < 0
        |      THEN -(CAST(abs(b) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(b) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(b // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(b % 9007199254740992 AS DOUBLE) END AS b_sd
        |  FROM w
        |), t AS (
        |  SELECT *, CASE WHEN b > 0 AND n > 1
        |    THEN CAST(n - 1 AS DOUBLE) * ((a_sd / CAST(n_all AS DOUBLE)) * (a_sd / CAST(n_all AS DOUBLE))) / b_sd
        |    END AS t2
        |  FROM d
        |), p AS (
        |  SELECT *, CASE WHEN t2 IS NULL THEN 1.0::DOUBLE
        |    WHEN t2 = 0 THEN 1.0::DOUBLE
        |    ELSE least(1.0::DOUBLE, 1.0::DOUBLE / t2) END AS p_cheb
        |  FROM t
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY p_cheb, user_id) AS BIGINT) AS bh_rank
        |  FROM p
        |), o AS (
        |  SELECT *, p_cheb <= 0.05::DOUBLE * CAST(bh_rank AS DOUBLE) / CAST(m AS DOUBLE) AS ok
        |  FROM r
        |), km AS (
        |  SELECT *, max(CASE WHEN ok THEN bh_rank END) OVER () AS k_max FROM o
        |)
        |SELECT user_id, n, t2, p_cheb, bh_rank, m,
        |  coalesce(bh_rank <= k_max, false) AS rejected
        |FROM km ORDER BY user_id""".stripMargin),
    Query("q_grubbs", (s, dir) =>
      Stats.grubbs(Tables.events(s, dir)).orderBy("event_type"),
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS qu FROM events
        |), g AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(qu AS HUGEINT)) AS s1,
        |    sum(CAST(qu AS HUGEINT) * qu) AS s2,
        |    min(qu) AS mn, max(qu) AS mx
        |  FROM q GROUP BY 1
        |), b AS (
        |  SELECT event_type, n, mn, mx, CAST(n AS DOUBLE) AS nd,
        |    CASE WHEN s1 < 0
        |      THEN -(CAST(abs(s1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s1) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s1 % 9007199254740992 AS DOUBLE) END AS d1,
        |    CASE WHEN s2 < 0
        |      THEN -(CAST(abs(s2) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs(s2) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(s2 % 9007199254740992 AS DOUBLE) END AS d2
        |  FROM g
        |), c AS (
        |  SELECT event_type, n, mn, mx, nd,
        |    d1 / nd AS mean, (d2 - d1 * d1 / nd) / (nd - 1) AS vr
        |  FROM b
        |), d AS (
        |  SELECT *, sqrt(vr) AS sd,
        |    CAST(mx AS DOUBLE) - mean AS dev_hi,
        |    mean - CAST(mn AS DOUBLE) AS dev_lo
        |  FROM c
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  mean / 1000000 AS mean_value,
        |  CASE WHEN n > 1 AND vr >= 0 THEN sd / 1000000 END AS std_value,
        |  CASE WHEN n > 2 AND vr > 0 THEN greatest(dev_hi, dev_lo) / sd END AS grubbs_g,
        |  CASE WHEN n > 2 AND vr > 0
        |    THEN CAST(CASE WHEN dev_hi >= dev_lo THEN mx ELSE mn END AS DOUBLE) / 1000000 END AS suspect_value,
        |  CASE WHEN n > 2 AND vr > 0 THEN dev_hi >= dev_lo END AS suspect_is_max
        |FROM d
        |ORDER BY event_type""".stripMargin),
    Query("q_woe_iv", (s, dir) =>
      Stats.woeIv(Tables.events(s, dir)).orderBy("bin"),
      """WITH cells AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g,
        |    sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS b
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), tot AS (SELECT sum(g) AS gt, sum(b) AS bt, count(*) AS k FROM cells
        |), t AS (
        |  SELECT bin, g, b,
        |    CAST(g + 1 AS DOUBLE) / CAST(gt + k AS DOUBLE) AS pg,
        |    CAST(b + 1 AS DOUBLE) / CAST(bt + k AS DOUBLE) AS pb
        |  FROM cells, tot
        |), u AS (
        |  SELECT bin, g AS n_good, b AS n_bad,
        |    round(ln(pg / pb), 6) AS woe,
        |    round((pg - pb) * ln(pg / pb), 6) AS iv_term,
        |    CAST(round((pg - pb) * ln(pg / pb) * 1000000, 0) AS BIGINT) AS tu
        |  FROM t
        |)
        |SELECT bin, CAST(n_good AS BIGINT) AS n_good, CAST(n_bad AS BIGINT) AS n_bad,
        |  woe, iv_term,
        |  CAST(sum(tu) OVER () AS DOUBLE) / 1000000 AS iv_total
        |FROM u
        |ORDER BY bin""".stripMargin),
    Query("q_psi", (s, dir) =>
      Stats.psi(Tables.events(s, dir)),
      """WITH mid AS (
        |  SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))
        |    - (min(epoch_us(ts)) + max(epoch_us(ts))) % 2) / 2 AS BIGINT) AS mid
        |  FROM events
        |), cells AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    sum(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END) AS cb
        |  FROM events, mid WHERE value IS NOT NULL GROUP BY 1
        |), tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k FROM cells
        |), p AS (
        |  SELECT na, nb, k, round(sum(
        |    (CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE)
        |      - CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |    * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |       / (CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE)))
        |  ), 6) AS psi
        |  FROM cells, tot GROUP BY na, nb, k
        |)
        |SELECT CAST(na AS BIGINT) AS n_first_half, CAST(nb AS BIGINT) AS n_second_half,
        |  CAST(k AS BIGINT) AS n_bins, psi, psi > 0.2 AS drift_alert
        |FROM p""".stripMargin),
    Query("q_bootstrap_ci", (s, dir) =>
      Stats.bootstrapCi(Tables.events(s, dir)).orderBy("event_type"),
      {
        val reps  = 0 until 32
        val conds = reps.map(i =>
          s"sum(CASE WHEN (h & ${1L << i}) != 0 THEN vu END) AS s$i, count(CASE WHEN (h & ${1L << i}) != 0 THEN 1 END) AS c$i").mkString(",\n    ")
        def sd(x: String) =
          s"CASE WHEN $x < 0 THEN -(CAST(abs($x) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST(abs($x) % 9007199254740992 AS DOUBLE)) " +
          s"ELSE CAST($x // 9007199254740992 AS DOUBLE) * 9.007199254740992e15 + CAST($x % 9007199254740992 AS DOUBLE) END"
        val meanList = reps.map(i => s"${sd(s"s$i")} / CAST(c$i AS DOUBLE)").mkString(", ")
        val minc     = reps.map(i => s"c$i").mkString(", ")
        s"""WITH base AS (
           |  SELECT event_type,
           |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
           |    CAST(CAST(floor(value * 1000000) AS BIGINT) AS HUGEINT) AS vu
           |  FROM events WHERE value IS NOT NULL
           |), a AS (
           |  SELECT event_type, sum(vu) AS st, count(*) AS ct,
           |    $conds
           |  FROM base GROUP BY event_type
           |), m AS (
           |  SELECT event_type, st, ct,
           |    list_sort([$meanList]) AS ms,
           |    least($minc) AS minc
           |  FROM a
           |)
           |SELECT event_type, CAST(ct AS BIGINT) AS n,
           |  ${sd("st")} / CAST(ct AS DOUBLE) / 1000000.0 AS mean,
           |  CASE WHEN minc > 0 THEN (ms[1] + (ms[2] - ms[1]) * 0.775) / 1000000.0 END AS ci_lo,
           |  CASE WHEN minc > 0 THEN (ms[31] + (ms[32] - ms[31]) * 0.225) / 1000000.0 END AS ci_hi
           |FROM m
           |ORDER BY event_type""".stripMargin
      }),
    Query("q_zscore_normalize", (s, dir) =>
      Stats.zscoreNormalize(Tables.events(s, dir)).orderBy("event_id"),
      """WITH q AS (
        |  SELECT event_id, user_id, CAST(value AS DECIMAL(18,6)) AS x FROM events
        |), m AS (
        |  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
        |  FROM q GROUP BY user_id
        |), s AS (
        |  SELECT user_id, n,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1 AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) > 0
        |      THEN sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))
        |    END AS std
        |  FROM m
        |)
        |SELECT q.event_id, q.user_id,
        |  round((CAST(q.x AS DOUBLE) - s.mean) / s.std, 6) AS z
        |FROM q JOIN s USING (user_id)
        |ORDER BY event_id""".stripMargin),
    Query("q_equidepth_histogram", (s, dir) =>
      Stats.equidepthHistogram(Tables.events(s, dir), 10).orderBy("bucket"),
      """WITH cuts AS (
        |  SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        |  FROM events
        |)
        |SELECT bucket, count(*) AS n, min(value) AS lo, max(value) AS hi FROM (
        |  SELECT value, CAST(
        |    CASE WHEN value < cs[1] THEN 0 WHEN value < cs[2] THEN 1
        |         WHEN value < cs[3] THEN 2 WHEN value < cs[4] THEN 3
        |         WHEN value < cs[5] THEN 4 WHEN value < cs[6] THEN 5
        |         WHEN value < cs[7] THEN 6 WHEN value < cs[8] THEN 7
        |         WHEN value < cs[9] THEN 8 ELSE 9 END AS BIGINT) AS bucket
        |  FROM events CROSS JOIN cuts
        |)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),
    Query("q_iqr_outliers", (s, dir) =>
      Stats.iqrOutliers(Tables.events(s, dir)).orderBy("event_type"),
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type
        |), f AS (
        |  SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q
        |)
        |SELECT e.event_type, count(*) AS n,
        |  round(max(f.q1), 6) AS q1, round(max(f.q3), 6) AS q3,
        |  round(max(f.lo), 6) AS fence_lo, round(max(f.hi), 6) AS fence_hi,
        |  CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) AS outlier_rate
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin),
    Query("q_target_encoding", (s, dir) =>
      Stats.targetEncoding(Tables.events(s, dir), 20).orderBy("event_type"),
      """WITH per AS (
        |  SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS sx
        |  FROM events GROUP BY event_type
        |), gtot AS (
        |  SELECT sum(n) AS gn, sum(sx) AS gsx FROM per
        |)
        |SELECT event_type, n,
        |  round(CAST(sx AS DOUBLE) / n, 6) AS raw_mean,
        |  round((CAST(sx AS DOUBLE) + 20.0 * (CAST(gsx AS DOUBLE) / gn)) / CAST(n + 20 AS DOUBLE), 6) AS encoded
        |FROM per CROSS JOIN gtot
        |ORDER BY event_type""".stripMargin),
    Query("q_ab_test", (s, dir) =>
      Stats.abTest(Tables.events(s, dir), "view", "click", 100.0),
      """WITH m AS (
        |  SELECT
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN event_type = 'view' AND value > 100.0 THEN 1 ELSE 0 END) AS sa,
        |    sum(CASE WHEN event_type = 'click' AND value > 100.0 THEN 1 ELSE 0 END) AS sb
        |  FROM events WHERE event_type IN ('view', 'click')
        |)
        |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
        |  round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6) AS p_a,
        |  round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS p_b,
        |  round(CASE WHEN na > 0 AND nb > 0
        |      AND CAST(sa + sb AS DOUBLE) / CAST(na + nb AS DOUBLE) > 0
        |      AND CAST(sa + sb AS DOUBLE) / CAST(na + nb AS DOUBLE) < 1
        |    THEN (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / sqrt(CAST(sa + sb AS DOUBLE) / CAST(na + nb AS DOUBLE)
        |           * (1.0 - CAST(sa + sb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |           * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
        |    END, 6) AS z
        |FROM m""".stripMargin),
    Query("q_welch_ttest", (s, dir) =>
      Stats.welchTTest(Tables.events(s, dir), "click", "purchase"),
      // moments accumulate as exact DECIMAL sums of the 6-dp-quantized
      // values (order-independent); t/df are one shared IEEE chain
      """WITH m AS (
        |  SELECT
        |    count(*) FILTER (WHERE event_type = 'click') AS na,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS nb,
        |    sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'click') AS sa,
        |    sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS sb,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'click') AS qa,
        |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS qb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  round(CAST(sa AS DOUBLE) / na, 6) AS mean_a,
        |  round(CAST(sb AS DOUBLE) / nb, 6) AS mean_b,
        |  round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) /
        |    sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1) / na +
        |         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1) / nb), 6) AS t_stat,
        |  round(pow((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1) / na +
        |            (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1) / nb, 2) /
        |    (pow((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1) / na, 2) / (na - 1) +
        |     pow((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1) / nb, 2) / (nb - 1)), 6) AS df
        |FROM m""".stripMargin),
    Query("q_mann_whitney", (s, dir) =>
      Stats.mannWhitney(Tables.events(s, dir), "click", "purchase"),
      // ranks are exact: per-distinct-value counts, tied blocks at the
      // average rank in doubled (half-rank) units — every sum a long
      """WITH d AS (
        |  SELECT value AS x,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value
        |), r AS (
        |  SELECT ca, cb, ca + cb AS t,
        |    coalesce(sum(ca + cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS smaller
        |  FROM d
        |), a AS (
        |  SELECT sum(ca) AS na, sum(cb) AS nb,
        |    sum(ca * (2 * smaller + t + 1)) AS r2a,
        |    sum(t * t * t - t) AS ties
        |  FROM r
        |)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(r2a - na * (na + 1) AS DOUBLE) / 2 AS u_stat,
        |  round((CAST(r2a - na * (na + 1) AS DOUBLE) / 2 - CAST(na AS DOUBLE) * nb / 2) /
        |    sqrt(CAST(na AS DOUBLE) * nb / 12 *
        |      (CAST(na + nb + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))), 6) AS z_score
        |FROM a""".stripMargin),
    Query("q_robust_zscore", (s, dir) =>
      Stats.robustZscore(Tables.events(s, dir)).orderBy("user_id"),
      """WITH med AS (
        |  SELECT user_id, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
        |), wm AS (
        |  SELECT e.user_id, e.value, med.med FROM events e JOIN med USING (user_id)
        |), mad AS (
        |  SELECT user_id, quantile_cont(abs(value - med), 0.5) AS mad FROM wm GROUP BY 1
        |)
        |SELECT wm.user_id, count(*) AS n,
        |  round(min(wm.med), 6) AS median,
        |  round(min(mad.mad), 6) AS mad,
        |  CAST(coalesce(sum(CASE WHEN abs(CASE WHEN mad.mad != 0.0
        |      THEN 0.6745 * (wm.value - wm.med) / mad.mad END) > 3.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
        |  round(max(abs(CASE WHEN mad.mad != 0.0
        |      THEN 0.6745 * (wm.value - wm.med) / mad.mad END)), 6) AS max_abs_z
        |FROM wm JOIN mad ON wm.user_id = mad.user_id
        |GROUP BY wm.user_id ORDER BY wm.user_id""".stripMargin),
    Query("q_moments", (s, dir) =>
      Stats.momentsProfile(Tables.events(s, dir)).orderBy("user_id"),
      """WITH mu AS (
        |  SELECT user_id, round(avg(value), 6) AS mu FROM events GROUP BY 1
        |), m AS (
        |  SELECT e.user_id, count(*) AS n, min(mu.mu) AS mu,
        |    sum((value - mu.mu) * (value - mu.mu)) AS c2,
        |    sum((value - mu.mu) * (value - mu.mu) * (value - mu.mu)) AS c3,
        |    sum((value - mu.mu) * (value - mu.mu) * (value - mu.mu) * (value - mu.mu)) AS c4
        |  FROM events e JOIN mu USING (user_id) GROUP BY e.user_id
        |)
        |SELECT user_id, n, mu AS mean,
        |  round(sqrt(c2 / n), 6) AS std_pop,
        |  round(CASE WHEN c2 / n > 0.0 THEN (c3 / n) / pow(c2 / n, 1.5) END, 6) AS skewness,
        |  round(CASE WHEN c2 / n > 0.0 THEN (c4 / n) / ((c2 / n) * (c2 / n)) - 3.0 END, 6) AS excess_kurtosis
        |FROM m ORDER BY user_id""".stripMargin),
    Query("q_benford", (s, dir) =>
      Stats.benfordTest(Tables.events(s, dir)).orderBy("digit"),
      """WITH d AS (
        |  SELECT regexp_extract(CAST(CAST(abs(value) AS DECIMAL(18,6)) AS VARCHAR), '[1-9]') AS d
        |  FROM events
        |), g AS (
        |  SELECT CAST(d AS INT) AS digit, count(*) AS n_obs FROM d WHERE d != '' GROUP BY 1
        |), t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_sample FROM g)
        |SELECT digit, n_obs, n_sample,
        |  round(CAST(n_obs AS DOUBLE) / CAST(n_sample AS DOUBLE), 6) AS obs_share,
        |  round(log10(1 + 1.0 / digit), 6) AS exp_share,
        |  round(abs(CAST(n_obs AS DOUBLE) / CAST(n_sample AS DOUBLE) - log10(1 + 1.0 / digit)), 6) AS abs_dev
        |FROM g, t ORDER BY digit""".stripMargin),
    Query("q_runs_test", (s, dir) =>
      Stats.runsTest(Tables.events(s, dir)).orderBy("user_id"),
      s"""${dailyReturns("        ", "r0")}
        |), r AS (
        |  SELECT user_id, day, CASE WHEN ret > 0 THEN 1 ELSE 0 END AS sgn
        |  FROM r0 WHERE ret != 0
        |), f AS (
        |  SELECT user_id, sgn,
        |    CASE WHEN lag(sgn) OVER w IS NULL THEN 1
        |         WHEN lag(sgn) OVER w != sgn THEN 1 ELSE 0 END AS chg
        |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), g AS (
        |  SELECT user_id, CAST(sum(sgn) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - sgn) AS BIGINT) AS n_neg, CAST(sum(chg) AS BIGINT) AS runs
        |  FROM f GROUP BY 1
        |), h AS (
        |  SELECT user_id, n_pos, n_neg, runs,
        |    CAST(n_pos AS DOUBLE) AS np, CAST(n_neg AS DOUBLE) AS nn,
        |    CAST(n_pos + n_neg AS DOUBLE) AS nd
        |  FROM g
        |)
        |SELECT user_id, n_pos, n_neg, runs,
        |  round(CASE WHEN n_pos > 0 AND n_neg > 0 AND 2.0 * np * nn - nd > 0
        |    THEN (CAST(runs AS DOUBLE) - (1.0 + 2.0 * np * nn / nd))
        |      / sqrt((2.0 * np * nn * (2.0 * np * nn - nd)) / (nd * nd * (nd - 1))) END, 6)
        |    AS z_runs
        |FROM h ORDER BY user_id""".stripMargin),
    Query("q_sign_test", (s, dir) =>
      Stats.signTest(Tables.events(s, dir), 0L).orderBy("user_id"),
      // everything up to z is exact integer counts (micro-return
      // comparison, ties drop); z one IEEE chain, UNROUNDED
      s"""${dailyReturns("        ", "r0")}
        |), r AS (
        |  SELECT user_id, day, CAST(floor(ret * 1000000) AS BIGINT) AS mk FROM r0
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id, r.mk, b.mb FROM r JOIN b USING (day) WHERE r.user_id != 0
        |), g AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN mk > mb THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
        |    CAST(sum(CASE WHEN mk < mb THEN 1 ELSE 0 END) AS BIGINT) AS n_minus
        |  FROM j GROUP BY 1
        |)
        |SELECT user_id, n_plus, n_minus,
        |  CASE WHEN n_plus + n_minus > 0
        |    THEN CAST(n_plus - n_minus AS DOUBLE) / sqrt(CAST(n_plus + n_minus AS DOUBLE))
        |  END AS sign_z
        |FROM g ORDER BY user_id""".stripMargin),
    Query("q_friedman", (s, dir) =>
      Stats.friedman(Tables.events(s, dir)),
      // per-cell doubled medians (levene recipe), within-day ranks on
      // bounded <=k-row windows, tie-robust Q a ratio of exact longs —
      // one IEEE division, UNROUNDED
      """WITH q AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(floor(value * 1000000) AS BIGINT) AS qu
        |  FROM events
        |), o AS (
        |  SELECT event_type, day, qu,
        |    row_number() OVER (PARTITION BY day, event_type ORDER BY qu) AS rn,
        |    count(*) OVER (PARTITION BY day, event_type) AS n
        |  FROM q
        |), cells AS (
        |  SELECT day, event_type,
        |    CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN qu END)
        |      + sum(CASE WHEN rn = (n + 2) // 2 THEN qu END) AS BIGINT) AS m2
        |  FROM o WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY 1, 2
        |), kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM events),
        |fb AS (
        |  SELECT cells.day, cells.event_type, cells.m2, kk.k FROM cells, kk
        |  QUALIFY count(*) OVER (PARTITION BY day) = k
        |), ranked AS (
        |  SELECT day, event_type, k,
        |    2 * rank() OVER (PARTITION BY day ORDER BY m2)
        |      + count(*) OVER (PARTITION BY day, m2) - 1 AS dr
        |  FROM fb
        |), pt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(dr) AS BIGINT) AS r2, CAST(sum(dr * dr) AS BIGINT) AS dr2,
        |    CAST(max(k) AS BIGINT) AS k
        |  FROM ranked GROUP BY 1
        |), a AS (
        |  SELECT CAST(max(k) AS BIGINT) AS k_types, CAST(max(n_blocks) AS BIGINT) AS n_blocks,
        |    CAST(sum((r2 - n_blocks * (k + 1)) * (r2 - n_blocks * (k + 1))) AS BIGINT) AS st4,
        |    CAST(sum(dr2) AS BIGINT) AS sum_dr2
        |  FROM pt
        |)
        |SELECT k_types, n_blocks,
        |  CASE WHEN sum_dr2 - n_blocks * k_types * (k_types + 1) * (k_types + 1) > 0
        |    THEN CAST((k_types - 1) * st4 AS DOUBLE)
        |      / CAST(sum_dr2 - n_blocks * k_types * (k_types + 1) * (k_types + 1) AS DOUBLE)
        |  END AS friedman_q
        |FROM a""".stripMargin),
    Query("q_wasserstein", (s, dir) =>
      Stats.wasserstein1(Tables.events(s, dir), "view", "click"),
      // each segment is |cumA·nB − cumB·nA|·Δv in exact 128-bit
      // decimals; W1 = S/(nA·nB·1e6) via splitDouble — one IEEE
      // division, UNROUNDED
      """WITH f AS (
        |  SELECT CAST(floor(value * 1000000) AS BIGINT) AS xq,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
        |), t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM f),
        |c AS (
        |  SELECT xq,
        |    CAST(sum(ca) OVER w AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER w AS BIGINT) AS cumb,
        |    lead(xq) OVER (ORDER BY xq) AS nxt
        |  FROM f WINDOW w AS (ORDER BY xq ROWS UNBOUNDED PRECEDING)
        |), s AS (
        |  SELECT max(t.na) AS n_a, max(t.nb) AS n_b,
        |    sum(abs(CAST(c.cuma AS HUGEINT) * t.nb - CAST(c.cumb AS HUGEINT) * t.na)
        |      * CAST(c.nxt - c.xq AS HUGEINT)) AS sg
        |  FROM c, t WHERE c.nxt IS NOT NULL
        |)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    (CAST(sg // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(sg % 9007199254740992 AS DOUBLE))
        |    / CAST(n_a * n_b * 1000000 AS DOUBLE)
        |  END AS w1
        |FROM s""".stripMargin),
    Query("q_energy_distance", (s, dir) =>
      Stats.energyDistance(Tables.events(s, dir), "view", "click"),
      // segment sums over the same axis as wasserstein: Σ|x−y| and the
      // within-sample sums are exact 128-bit decimals; E is one fixed
      // chain over three splitDouble images, UNROUNDED
      """WITH f AS (
        |  SELECT CAST(floor(value * 1000000) AS BIGINT) AS xq,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
        |), t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM f),
        |c AS (
        |  SELECT xq,
        |    CAST(sum(ca) OVER w AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER w AS BIGINT) AS cumb,
        |    lead(xq) OVER (ORDER BY xq) AS nxt
        |  FROM f WINDOW w AS (ORDER BY xq ROWS UNBOUNDED PRECEDING)
        |), s AS (
        |  SELECT max(t.na) AS n_a, max(t.nb) AS n_b,
        |    sum(CAST(c.nxt - c.xq AS HUGEINT)
        |      * (CAST(c.cuma AS HUGEINT) * (t.nb - c.cumb)
        |        + CAST(c.cumb AS HUGEINT) * (t.na - c.cuma))) AS sxy,
        |    sum(CAST(c.nxt - c.xq AS HUGEINT) * CAST(c.cuma AS HUGEINT) * (t.na - c.cuma)) AS sxx,
        |    sum(CAST(c.nxt - c.xq AS HUGEINT) * CAST(c.cumb AS HUGEINT) * (t.nb - c.cumb)) AS syy
        |  FROM c, t WHERE c.nxt IS NOT NULL
        |)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    (2.0 * (CAST(sxy // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |        + CAST(sxy % 9007199254740992 AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |     - 2.0 * (CAST(sxx // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |        + CAST(sxx % 9007199254740992 AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
        |     - 2.0 * (CAST(syy // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |        + CAST(syy % 9007199254740992 AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))) / 1e6
        |  END AS energy_dist
        |FROM s""".stripMargin),
    Query("q_median_test", (s, dir) =>
      Stats.medianTest(Tables.events(s, dir), "view", "click"),
      // outcomes split on an exactly-representable doubled median from
      // the distributed interpolating percentile; chi2 one IEEE
      // division of exact integers, UNROUNDED
      """WITH q AS (
        |  SELECT event_type AS k, CAST(floor(value * 1000000) AS BIGINT) AS qu
        |  FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL
        |), rk AS (
        |  SELECT qu, row_number() OVER (ORDER BY qu) AS rn, count(*) OVER () AS n FROM q
        |), med AS (
        |  SELECT sum(CASE WHEN rn = (n + 1) // 2 THEN qu::HUGEINT ELSE 0 END)
        |       + sum(CASE WHEN rn = (n + 2) // 2 THEN qu::HUGEINT ELSE 0 END) AS m2
        |  FROM rk
        |), cts AS (
        |  SELECT
        |    CAST(sum(CASE WHEN k = 'view'  AND qu::HUGEINT * 2 > m2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN k = 'view'  AND qu::HUGEINT * 2 < m2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN k = 'click' AND qu::HUGEINT * 2 > m2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN k = 'click' AND qu::HUGEINT * 2 < m2 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM q, med WHERE qu::HUGEINT * 2 != m2
        |)
        |SELECT a AS n_a_above, b AS n_a_below, c AS n_b_above, d AS n_b_below,
        |  CASE WHEN (a + b)::HUGEINT * (c + d) * (a + c) * (b + d) > 0 THEN
        |    CAST(a + b + c + d AS DOUBLE)
        |    * (CAST(((a::HUGEINT * d - b::HUGEINT * c) * (a::HUGEINT * d - b::HUGEINT * c))
        |          // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(((a::HUGEINT * d - b::HUGEINT * c) * (a::HUGEINT * d - b::HUGEINT * c))
        |          % 9007199254740992 AS DOUBLE))
        |    / (CAST(((a + b)::HUGEINT * (c + d) * (a + c) * (b + d))
        |          // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(((a + b)::HUGEINT * (c + d) * (a + c) * (b + d))
        |          % 9007199254740992 AS DOUBLE))
        |  END AS median_chi2
        |FROM cts""".stripMargin),
    Query("q_cochran_q", (s, dir) =>
      Stats.cochranQ(Tables.events(s, dir)),
      // binary outcomes from the exact 2c > m2 compare on the complete
      // day grid; Q a ratio of exact longs — one IEEE division
      """WITH b AS (
        |  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
        |  FROM events
        |), grid AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b
        |), ty AS (SELECT DISTINCT event_type FROM events),
        |cnt AS (
        |  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |), cells AS (
        |  SELECT ty.event_type, grid.day, coalesce(cnt.c, 0) AS c
        |  FROM ty CROSS JOIN grid
        |  LEFT JOIN cnt ON cnt.event_type = ty.event_type AND cnt.day = grid.day
        |), o AS (
        |  SELECT event_type, day, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM cells
        |), med AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN c END)
        |      + sum(CASE WHEN rn = (n + 2) // 2 THEN c END) AS BIGINT) AS m2
        |  FROM o WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY 1
        |), x AS (
        |  SELECT cells.event_type, cells.day,
        |    CASE WHEN 2 * cells.c > med.m2 THEN 1 ELSE 0 END AS x
        |  FROM cells JOIN med USING (event_type)
        |), bt AS (
        |  SELECT event_type, CAST(sum(x) AS BIGINT) AS cj FROM x GROUP BY 1
        |), bd AS (
        |  SELECT day, CAST(sum(x) AS BIGINT) AS ri FROM x GROUP BY 1
        |), ta AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(cj) AS BIGINT) AS nn,
        |    CAST(sum(cj * cj) AS BIGINT) AS sc2
        |  FROM bt
        |), da AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(ri * ri) AS BIGINT) AS sr2
        |  FROM bd
        |)
        |SELECT k AS k_types, n_days, nn AS n_success,
        |  CASE WHEN k * nn - sr2 > 0
        |    THEN CAST((k - 1) * (k * sc2 - nn * nn) AS DOUBLE) / CAST(k * nn - sr2 AS DOUBLE)
        |  END AS cochran_q
        |FROM ta, da""".stripMargin),
    Query("q_hodges_lehmann", (s, dir) =>
      Stats.hodgesLehmann(Tables.events(s, dir), 0L).orderBy("user_id"),
      // Walsh numerators are exact micro longs; the pseudo-median is a
      // doubled order statistic over the bounded-series pair frame;
      // HL = m2s/4e6 one IEEE division, UNROUNDED
      s"""${dailyReturns("        ", "r0")}
        |), r AS (
        |  SELECT user_id, day, CAST(floor(ret * 1000000) AS BIGINT) AS mk FROM r0
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), d AS (
        |  SELECT r.user_id, r.day, r.mk - b.mb AS d
        |  FROM r JOIN b USING (day) WHERE r.user_id != 0
        |), w AS (
        |  SELECT a.user_id, a.d + b.d AS s, a.day AS da, b.day AS db
        |  FROM d a JOIN d b ON a.user_id = b.user_id AND a.day <= b.day
        |), o AS (
        |  SELECT user_id, s,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s, da, db) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS np
        |  FROM w
        |)
        |SELECT user_id, CAST(max(np) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN rn = (np + 1) // 2 THEN s END)
        |    + sum(CASE WHEN rn = (np + 2) // 2 THEN s END) AS DOUBLE) / 4000000.0 AS hl_shift
        |FROM o WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_turning_points", (s, dir) =>
      Stats.turningPoints(Tables.events(s, dir)).orderBy("user_id"),
      // strict integer compares on micro closes; z one fixed IEEE
      // chain over exact longs — UNROUNDED
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), t AS (
        |  SELECT user_id,
        |    CAST(floor(close * 1000000) AS BIGINT) AS cur,
        |    lag(CAST(floor(close * 1000000) AS BIGINT), 1) OVER w AS prev,
        |    lead(CAST(floor(close * 1000000) AS BIGINT), 1) OVER w AS nxt
        |  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
        |      AND ((cur > prev AND cur > nxt) OR (cur < prev AND cur < nxt))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
        |  FROM t GROUP BY 1
        |)
        |SELECT user_id, n_days, n_turning,
        |  CASE WHEN n_days >= 3
        |    THEN CAST(3 * n_turning - 2 * (n_days - 2) AS DOUBLE) / 3.0
        |      * sqrt(90.0 / CAST(16 * n_days - 29 AS DOUBLE))
        |  END AS tp_z
        |FROM a ORDER BY user_id""".stripMargin),
    Query("q_wilcoxon_signed", (s, dir) =>
      Stats.wilcoxonSigned(Tables.events(s, dir), 0L).orderBy("user_id"),
      // tie blocks reduce per (key, |d|); doubled average rank
      // 2·cum(t)−t+1, doubled mean n(n+1)/2 and 48σ² are exact longs;
      // z = (W2−m2)·√(12/S) one IEEE chain, UNROUNDED
      s"""${dailyReturns("        ", "r0")}
        |), r AS (
        |  SELECT user_id, day, CAST(floor(ret * 1000000) AS BIGINT) AS mk FROM r0
        |), b AS (
        |  SELECT day, mk AS mb FROM r WHERE user_id = 0
        |), j AS (
        |  SELECT r.user_id, r.mk - b.mb AS d FROM r JOIN b USING (day) WHERE r.user_id != 0
        |), jd AS (
        |  SELECT user_id, d, abs(d) AS ad FROM j WHERE d != 0
        |), blocks AS (
        |  SELECT user_id, ad, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM jd GROUP BY 1, 2
        |), rb AS (
        |  SELECT user_id, t, tp,
        |    CAST(2 * sum(t) OVER (PARTITION BY user_id ORDER BY ad ROWS UNBOUNDED PRECEDING)
        |      - t + 1 AS BIGINT) AS dr
        |  FROM blocks
        |), a AS (
        |  SELECT user_id, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(tp * dr) AS BIGINT) AS w2,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS tie3
        |  FROM rb GROUP BY 1
        |)
        |SELECT user_id, n_days, w2 / 2.0 AS w_plus,
        |  CASE WHEN 2 * n_days * (n_days + 1) * (2 * n_days + 1) - tie3 > 0
        |    THEN CAST(w2 - (n_days * (n_days + 1)) // 2 AS DOUBLE)
        |      * sqrt(12.0 / CAST(2 * n_days * (n_days + 1) * (2 * n_days + 1) - tie3 AS DOUBLE))
        |  END AS wilcoxon_z
        |FROM a ORDER BY user_id""".stripMargin),
    Query("q_perm_entropy", (s, dir) =>
      Stats.permutationEntropy(Tables.events(s, dir)).orderBy("user_id"),
      // ordinal pattern ids are exact integer arithmetic over two lags
      // of the micro close (lexicographic (value, idx) ranks); counts
      // exact longs on a <=6-row grid; entropy a bounded 6-term sum, 6dp
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), x AS (
        |  SELECT user_id, day,
        |    CAST(floor(close * 1000000) AS BIGINT) AS x2,
        |    lag(CAST(floor(close * 1000000) AS BIGINT), 2) OVER w AS x0,
        |    lag(CAST(floor(close * 1000000) AS BIGINT), 1) OVER w AS x1
        |  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)
        |  QUALIFY x0 IS NOT NULL
        |), p AS (
        |  SELECT user_id,
        |    (CASE WHEN x1 < x0 THEN 1 ELSE 0 END + CASE WHEN x2 < x0 THEN 1 ELSE 0 END) * 9
        |    + (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3
        |    + (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS pid
        |  FROM x
        |), c AS (
        |  SELECT user_id, pid, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
        |), n AS (
        |  SELECT user_id, pid, c, sum(c) OVER (PARTITION BY user_id) AS n_tr FROM c
        |)
        |SELECT user_id, CAST(max(n_tr) AS BIGINT) AS n_triples,
        |  CAST(count(*) AS BIGINT) AS n_patterns,
        |  round(-sum((CAST(c AS DOUBLE) / CAST(n_tr AS DOUBLE))
        |    * ln(CAST(c AS DOUBLE) / CAST(n_tr AS DOUBLE))) / ln(6), 6) AS perm_entropy
        |FROM n GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_changepoint", (s, dir) =>
      Stats.changepoint(Tables.events(s, dir)).orderBy("user_id"),
      // D_t = n·P_t − t·T is an exact long so argmax + earliest-day
      // tie-break are deterministic; the magnitude is one IEEE
      // division of exact integers, UNROUNDED
      s"""WITH dc AS (
        ${dailyClose("        ")}
        |), w AS (
        |  SELECT user_id, day, CAST(floor(close * 1000000) AS BIGINT) AS qc FROM dc
        |), s AS (
        |  SELECT user_id, day,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rn,
        |    CAST(sum(qc)   OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |    CAST(sum(qc)   OVER (PARTITION BY user_id) AS BIGINT) AS tot
        |  FROM w
        |), d AS (
        |  SELECT user_id, day, n,
        |    abs(CAST(n AS HUGEINT) * CAST(pre AS HUGEINT)
        |      - CAST(rn AS HUGEINT) * CAST(tot AS HUGEINT)) AS abs_d
        |  FROM s WHERE rn < n
        |), r AS (
        |  SELECT user_id, day, n, abs_d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY abs_d DESC, day) AS rk
        |  FROM d
        |)
        |SELECT user_id, n AS n_days, strftime(day, '%Y-%m-%d') AS cp_day,
        |  CAST(abs_d AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS cusum_stat
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin)
  )
}
