package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

/** The declared queries of deterministic sampling and mixture
  * rebalancing: those whose closures call
  * [[graft.operators.Sampling]]. Each record keeps its closure beside
  * the DuckDB oracle that must reproduce its rows.
  */
object SamplingQueries {

  val all: Seq[Query] = Seq(
    Query("q_hash_sample", (s, dir) =>
      Sampling.hashSample(Tables.events(s, dir), "event_id", 10)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |FROM events
        |WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
        |ORDER BY event_id""".stripMargin),
    Query("q_dataset_split", (s, dir) =>
      Sampling.datasetSplit(Tables.events(s, dir), "event_id")
        .groupBy("split", "event_type").agg(count(lit(1)).as("n"))
        .orderBy("split", "event_type"),
      """WITH s AS (
        |  SELECT event_type,
        |    CASE
        |      WHEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
        |      WHEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
        |      ELSE 'test'
        |    END AS split
        |  FROM events
        |)
        |SELECT split, event_type, count(*) AS n
        |FROM s GROUP BY split, event_type ORDER BY split, event_type""".stripMargin),
    Query("q_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(Tables.events(s, dir), "event_type", "event_id", 50)
        .select(col("event_type"), col("event_id"))
        .orderBy("event_type", "event_id"),
      """SELECT event_type, event_id
        |FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC, event_id ASC) AS rn
        |  FROM events
        |)
        |WHERE rn <= 50
        |ORDER BY event_type, event_id""".stripMargin),
    // downweight four sources to a target mixture; the rest pass through
    Query("q_domain_mix", (s, dir) =>
      Sampling.domainMix(Tables.documents(s, dir),
        Map("src0" -> 10, "src1" -> 25, "src2" -> 50, "src3" -> 75))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      """SELECT doc_id, source
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
        |  CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 25 WHEN 'src2' THEN 50 WHEN 'src3' THEN 75 ELSE 100 END
        |ORDER BY doc_id""".stripMargin),
    // cap every source at an 800-token contribution, exact running-
    // sum variant (prefix-closed in the md5 hash order)
    Query("q_token_budget_sample", (s, dir) =>
      Sampling.tokenBudgetSample(Tables.documents(s, dir), 800)
        .orderBy("source", "cum_tok"),
      """WITH d AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |  FROM d
        |)
        |SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM c WHERE cum_tok <= 800
        |ORDER BY source, cum_tok""".stripMargin),
    // same budget, rate-based variant: the zero-sort 100 TB path —
    // hits the budget in expectation via a per-row 32-bit threshold
    Query("q_token_budget_rate", (s, dir) =>
      Sampling.tokenBudgetSampleRate(Tables.documents(s, dir), 800)
        .orderBy("doc_id"),
      """WITH d AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents
        |), t AS (
        |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot_tok FROM d GROUP BY source
        |)
        |SELECT d.doc_id, d.source, d.n_tok
        |FROM d JOIN t USING (source)
        |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) <
        |  least(800.0 / CAST(t.tot_tok AS DOUBLE), 1.0) * 4294967296.0
        |ORDER BY d.doc_id""".stripMargin),
    // 50 docs drawn with probability ~ token count (integer
    // Efraimidis–Spirakis race, internally clamped at maxWeight) —
    // md5-derived, so the oracle mirrors the race keys bit-for-bit
    Query("q_weighted_sample", (s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
        size(split(col("text"), " ")), k = 50)
        .orderBy(col("race").desc, col("doc_id").asc),
      """WITH d AS (
        |  SELECT doc_id,
        |    least(greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1), 1000) AS w
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, w,
        |    list_max(list_transform(range(w), j ->
        |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT))) AS race
        |  FROM d
        |)
        |SELECT doc_id, w, race FROM r
        |ORDER BY race DESC, doc_id ASC LIMIT 50""".stripMargin),
    // temperature-rebalanced mixture (alpha=1/2): integer cross-
    // multiplied keep rule + surfaced per-source saturation audit
    Query("q_temperature_mix", (s, dir) =>
      Sampling.temperatureMix(Tables.documents(s, dir), targetDocs = 200)
        .orderBy("doc_id"),
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY source
        |), s AS (
        |  SELECT c.*, (SELECT CAST(sum(w) AS BIGINT) FROM c) AS sum_w FROM c
        |), r AS (
        |  SELECT s.*,
        |    CAST(CAST(200 AS HUGEINT) * w // sum_w AS BIGINT) AS target_n
        |  FROM s
        |)
        |SELECT d.doc_id, d.source, r.n_src, r.w, r.target_n,
        |  r.target_n >= r.n_src AS saturated
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
        |    * r.sum_w * r.n_src
        |  < CAST(200 AS HUGEINT) * r.w * 4294967296
        |ORDER BY d.doc_id""".stripMargin),
    // rational alpha = 3/10 (the mC4 exponent): w = floor(n^0.3) via
    // float seed + exact integer-root correction — no float pow in
    // the result path, so both engines compute the identical w
    Query("q_temperature_mix_alpha", (s, dir) =>
      Sampling.temperatureMixAlpha(Tables.documents(s, dir), targetDocs = 200)
        .orderBy("doc_id"),
      // w = floor(n^(3/10)) characterized by w^10 <= n^3 < (w+1)^10:
      // the float pow only SEEDS a +/-2 candidate window, the exact
      // HUGEINT comparison picks w — identical on both engines even
      // when their pow differs in the last ulp
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
        |    CAST(floor(pow(count(*), 0.3)) AS BIGINT) AS w0
        |  FROM documents GROUP BY source
        |), wv AS (
        |  SELECT source, n_src, max(cand) AS w
        |  FROM (
        |    SELECT c.source, c.n_src, u.cand
        |    FROM c, unnest(generate_series(greatest(c.w0 - 2, 1), c.w0 + 2)) AS u(cand)
        |    WHERE CAST(u.cand AS HUGEINT) * u.cand * u.cand * u.cand * u.cand
        |          * u.cand * u.cand * u.cand * u.cand * u.cand
        |      <= CAST(c.n_src AS HUGEINT) * c.n_src * c.n_src
        |  ) GROUP BY source, n_src
        |), s AS (
        |  SELECT wv.*, (SELECT CAST(sum(w) AS BIGINT) FROM wv) AS sum_w FROM wv
        |), r AS (
        |  SELECT s.*, CAST(CAST(200 AS HUGEINT) * w // sum_w AS BIGINT) AS target_n FROM s
        |)
        |SELECT d.doc_id, d.source, r.n_src, r.w, r.target_n,
        |  r.target_n >= r.n_src AS saturated
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
        |    * r.sum_w * r.n_src
        |  < CAST(200 AS HUGEINT) * r.w * 4294967296
        |ORDER BY d.doc_id""".stripMargin),
    Query("q_k_anonymity", (s, dir) =>
      Sampling.kAnonymity(Tables.documents(s, dir))
        .orderBy("lang", "source", "len_bucket"),
      """WITH g AS (
        |  SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
        |    count(*) AS class_size
        |  FROM documents GROUP BY 1, 2, 3
        |), t AS (SELECT sum(class_size) AS total FROM g)
        |SELECT lang, source, len_bucket, CAST(class_size AS BIGINT) AS class_size,
        |  class_size < 5 AS at_risk,
        |  CAST(class_size AS DOUBLE) / CAST(total AS DOUBLE) AS corpus_share
        |FROM g, t
        |ORDER BY lang, source, len_bucket""".stripMargin),
    Query("q_effective_sample_size", (s, dir) =>
      Sampling.effectiveSampleSize(Tables.documents(s, dir)).orderBy("source"),
      // ESS = (Σn·qw)²/Σn·qw² over floor-quantized micro weights —
      // exact integers through splitDouble, one IEEE division
      """WITH cell AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_cell
        |  FROM documents GROUP BY 1, 2
        |), s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM documents GROUP BY 1),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
        |w AS (
        |  SELECT cell.source, n_cell,
        |    CAST(floor(CAST(n_lang * n_source AS DOUBLE) / CAST(n_total * n_cell AS DOUBLE)
        |      * 1000000) AS BIGINT) AS qw
        |  FROM cell JOIN s USING (source) JOIN l USING (lang), t
        |), a AS (
        |  SELECT source, CAST(sum(n_cell) AS BIGINT) AS n_docs,
        |    sum(CAST(n_cell AS HUGEINT) * qw) AS s1,
        |    sum(CAST(n_cell AS HUGEINT) * qw * qw) AS s2
        |  FROM w GROUP BY 1
        |), d AS (
        |  SELECT source, n_docs,
        |    CAST((s1 * s1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST((s1 * s1) % 9007199254740992 AS DOUBLE) AS s1sq,
        |    CAST(s2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(s2 % 9007199254740992 AS DOUBLE) AS s2d
        |  FROM a
        |)
        |SELECT source, n_docs, s1sq / s2d AS ess,
        |  s1sq / s2d / CAST(n_docs AS DOUBLE) AS ess_ratio
        |FROM d ORDER BY source""".stripMargin),
    Query("q_importance_weights", (s, dir) =>
      Sampling.importanceWeights(Tables.documents(s, dir)).orderBy("source", "lang"),
      // w = (c_lang·n_source)/(n·c_cell): cross-multiplied exact longs,
      // one IEEE division — never a ratio of rounded shares
      """WITH cell AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_cell
        |  FROM documents GROUP BY 1, 2
        |), s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM documents GROUP BY 1),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        |SELECT cell.source, cell.lang, n_cell,
        |  CAST(n_lang * n_source AS DOUBLE) / CAST(n_total * n_cell AS DOUBLE) AS weight,
        |  CAST(n_lang * n_source AS DOUBLE) / CAST(n_total * n_cell AS DOUBLE) > 10.0 AS clipped
        |FROM cell JOIN s USING (source) JOIN l USING (lang), t
        |ORDER BY source, lang""".stripMargin)
  )
}
