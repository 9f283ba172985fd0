package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.{margined, seedCents}

/** The declared queries of embedding retrieval, quantization and
  * product quantizers: those whose closures call
  * [[graft.operators.Embedding]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object EmbeddingQueries {

  val all: Seq[Query] = Seq(
    Query("q_pq_distortion", (s, dir) =>
      Embedding.pqDistortion(Tables.embeddings(s, dir), 8, 16).orderBy("j"),
      {
        val terms = (1 to 8)
          .map(i => s"(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
           ${pqCodebook("           ")}
           |), d AS (
           |  SELECT s.vec_id, js.j, cb.code, $terms AS dist
           |  FROM e s CROSS JOIN js JOIN cb ON cb.j = js.j
           |), codes AS (
           |  SELECT vec_id, j, round(dist, 6) AS dist FROM (
           |    SELECT vec_id, j, code, dist,
           |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
           |    FROM d
           |  ) WHERE rn = 1
           |), cu AS (
           |  SELECT j, CAST(round(dist * 1000000, 0) AS BIGINT) AS du FROM codes
           |), pj AS (
           |  SELECT j, count(*) AS n_vecs, sum(du) AS su, max(du) AS mxu FROM cu GROUP BY 1
           |), tot AS (SELECT sum(su) AS stot FROM pj)
           |SELECT j, CAST(n_vecs AS BIGINT) AS n_vecs,
           |  CAST(su AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000 AS mean_sq_dist,
           |  CAST(mxu AS DOUBLE) / 1000000 AS max_sq_dist,
           |  CASE WHEN stot > 0 THEN CAST(su AS DOUBLE) / CAST(stot AS DOUBLE) END AS distortion_share
           |FROM pj, tot
           |ORDER BY j""".stripMargin
      }),
    Query("q_rag_pipeline", (s, dir) =>
      Embedding.ragRetrieve(Tables.documents(s, dir), "fast spark query join merge")
        .orderBy("rnk"),
      """WITH chunks AS (
        |  SELECT doc_id, off // 80 AS chunk_id, substr(text, CAST(off AS INT) + 1, 100) AS chunk
        |  FROM (SELECT doc_id, text, unnest(generate_series(0, len(text) - 1, 80)) AS off FROM documents)
        |), emb AS (
        |  SELECT doc_id, chunk_id,
        |    list_transform(generate_series(0, 15), i ->
        |      coalesce(list_sum(list_transform(string_split(lower(chunk), ' '),
        |        t -> CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 = i
        |             THEN 1.0 - 2 * (CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2) ELSE 0.0 END)), 0.0)) AS v
        |  FROM chunks
        |), q AS (
        |  SELECT list_transform(generate_series(0, 15), i ->
        |      coalesce(list_sum(list_transform(string_split('fast spark query join merge', ' '),
        |        t -> CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 = i
        |             THEN 1.0 - 2 * (CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2) ELSE 0.0 END)), 0.0)) AS qv
        |), scored AS (
        |  SELECT doc_id, chunk_id,
        |    list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        |  FROM emb e CROSS JOIN q
        |  WHERE sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) != 0
        |)
        |SELECT doc_id, chunk_id, cos,
        |  row_number() OVER (ORDER BY cos DESC, doc_id, chunk_id) AS rnk
        |FROM (SELECT * FROM scored ORDER BY cos DESC, doc_id, chunk_id LIMIT 5)
        |ORDER BY rnk""".stripMargin),
    Query("q_rag_batch", (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "gain up good value"), (2L, "slow error bad join"), (3L, "spark table scan"))
        .toDF("qid", "query")
      Embedding.ragRetrieveBatch(Tables.documents(s, dir), queries, k = 3)
        .orderBy("qid", "rnk")
    },
      """WITH chunks AS (
        |  SELECT doc_id, off // 80 AS chunk_id, substr(text, CAST(off AS INT) + 1, 100) AS chunk
        |  FROM (SELECT doc_id, text, unnest(generate_series(0, len(text) - 1, 80)) AS off FROM documents)
        |), emb AS (
        |  SELECT doc_id, chunk_id,
        |    list_transform(generate_series(0, 15), i ->
        |      coalesce(list_sum(list_transform(string_split(lower(chunk), ' '),
        |        t -> CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 = i
        |             THEN 1.0 - 2 * (CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2) ELSE 0.0 END)), 0.0)) AS v
        |  FROM chunks
        |), q AS (
        |  SELECT CAST(qid AS BIGINT) AS qid,
        |    list_transform(generate_series(0, 15), i ->
        |      coalesce(list_sum(list_transform(string_split(lower(query), ' '),
        |        t -> CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 = i
        |             THEN 1.0 - 2 * (CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2) ELSE 0.0 END)), 0.0)) AS qv
        |  FROM (VALUES (1, 'gain up good value'), (2, 'slow error bad join'), (3, 'spark table scan')) AS vq(qid, query)
        |), scored AS (
        |  SELECT q.qid, e.doc_id, e.chunk_id,
        |    list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        |  FROM emb e CROSS JOIN q
        |  WHERE sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) != 0
        |)
        |SELECT qid, doc_id, chunk_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id, chunk_id) AS rnk
        |FROM scored
        |QUALIFY rnk <= 3
        |ORDER BY qid, rnk""".stripMargin),
    Query("q_pq_codes", (s, dir) =>
      Embedding.pqCodes(Tables.embeddings(s, dir), m = 8, nc = 16)
        .orderBy("vec_id", "j"),
      // the squared-distance chain is the same explicit left-associated
      // 8-term sum the Spark side evaluates — no HOF fold on either
      // engine whose reduction order could differ
      {
        val terms = (1 to 8)
          .map(i => s"(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
           ${pqCodebook("           ")}
           |), d AS (
           |  SELECT s.vec_id, js.j, cb.code, $terms AS dist
           |  FROM e s CROSS JOIN js JOIN cb ON cb.j = js.j
           |)
           |SELECT vec_id, j, code, round(dist, 6) AS dist FROM (
           |  SELECT vec_id, j, code, dist,
           |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
           |  FROM d
           |) WHERE rn = 1
           |ORDER BY vec_id, j""".stripMargin
      }),
    Query("q_random_projection", (s, dir) =>
      Embedding.randomProject(Tables.embeddings(s, dir), 8, 64)
        .orderBy("vec_id", "j"),
      """WITH dirs AS (
        |  SELECT j, list_transform(generate_series(0, 63), i ->
        |    CASE WHEN CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) AS INT) % 2 = 0
        |         THEN 1.0 ELSE -1.0 END) AS d
        |  FROM (SELECT unnest(generate_series(0, 7)) AS j)
        |)
        |SELECT e.vec_id, dirs.j,
        |  round(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), dirs.d), 6) + 0.0 AS p
        |FROM embeddings e CROSS JOIN dirs
        |ORDER BY vec_id, j""".stripMargin),
    Query("q_pq_search", (s, dir) =>
      Embedding.pqSearch(Tables.embeddings(s, dir), Seq(0L, 1L, 2L), 5, 8, 16)
        .orderBy("qid", "rnk"),
      // codes from the q_pq_codes chain; the per-query LUT uses the
      // same left-associated squared-diff chain, ADC sums the m=8
      // looked-up cells per (query, vector) and ranks ascending
      {
        val dterms = (1 to 8)
          .map(i => s"(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        val qterms = (1 to 8)
          .map(i => s"(q.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(q.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
           ${pqCodebook("           ")}
           |), d AS (
           |  SELECT s.vec_id, js.j, cb.code, $dterms AS dist
           |  FROM e s CROSS JOIN js JOIN cb ON cb.j = js.j
           |), codes AS (
           |  SELECT vec_id, j, code FROM (
           |    SELECT vec_id, j, code,
           |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
           |    FROM d
           |  ) WHERE rn = 1
           |), lut AS (
           |  SELECT q.vec_id AS qid, js.j, cb.code, $qterms AS d
           |  FROM e q CROSS JOIN js JOIN cb ON cb.j = js.j
           |  WHERE q.vec_id IN (0, 1, 2)
           |), adc AS (
           |  SELECT lut.qid, codes.vec_id, round(sum(lut.d), 6) AS adc_dist
           |  FROM codes JOIN lut ON lut.j = codes.j AND lut.code = codes.code
           |  GROUP BY 1, 2
           |)
           |SELECT qid, vec_id, adc_dist,
           |  row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC) AS rnk
           |FROM adc QUALIFY rnk <= 5
           |ORDER BY qid, rnk""".stripMargin
      }),
    // IVF-PQ composition: coarse probe bounds the candidate set,
    // ADC bounds per-candidate cost — the FAISS IndexIVFPQ shape
    Query("q_ivfpq_search", (s, dir) =>
      Embedding.ivfPqSearch(Tables.embeddings(s, dir), Seq(0L, 1L, 2L), 5, 16, 4, 8, 16)
        .orderBy("qid", "rnk"),
      // the q_ann_ivf coarse probe composed with the q_pq_search ADC
      {
        val dterms = (1 to 8)
          .map(i => s"(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(s.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        val qterms = (1 to 8)
          .map(i => s"(q.v[js.j*8+$i]-cb.cv[js.j*8+$i])*(q.v[js.j*8+$i]-cb.cv[js.j*8+$i])")
          .mkString(" + ")
        s"""${seedCents("          ")}
           |), cd AS (
           |  SELECT e.vec_id, cents.cell,
           |    list_dot_product(
           |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i]),
           |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i])) AS d2
           |  FROM e CROSS JOIN cents
           |), assigned AS (
           |  SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
           |  FROM cd QUALIFY rn = 1
           |), qc AS (
           |  SELECT vec_id AS qid, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS prb
           |  FROM cd WHERE vec_id IN (0, 1, 2) QUALIFY prb <= 4
           ${pqCodebook("           ")}
           |), d AS (
           |  SELECT s.vec_id, js.j, cb.code, $dterms AS dist
           |  FROM e s CROSS JOIN js JOIN cb ON cb.j = js.j
           |), codes AS (
           |  SELECT vec_id, j, code FROM (
           |    SELECT vec_id, j, code,
           |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
           |    FROM d
           |  ) WHERE rn = 1
           |), lut AS (
           |  SELECT q.vec_id AS qid, js.j, cb.code, $qterms AS d
           |  FROM e q CROSS JOIN js JOIN cb ON cb.j = js.j
           |  WHERE q.vec_id IN (0, 1, 2)
           |), adc AS (
           |  SELECT qc.qid, a.vec_id, round(sum(lut.d), 6) AS adc_dist
           |  FROM qc
           |  JOIN assigned a ON a.cell = qc.cell AND a.vec_id != qc.qid
           |  JOIN codes ON codes.vec_id = a.vec_id
           |  JOIN lut ON lut.qid = qc.qid AND lut.j = codes.j AND lut.code = codes.code
           |  GROUP BY 1, 2
           |)
           |SELECT qid, vec_id, adc_dist,
           |  row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC) AS rnk
           |FROM adc QUALIFY rnk <= 5
           |ORDER BY qid, rnk""".stripMargin
      })
  )

  /** `js` sub-vector indexes, then `cb`: the 16-code codebook per sub-vector. */
  private def pqCodebook(margin: String): String = margined(margin, Seq(
    "), js AS (SELECT unnest(generate_series(0, 7)) AS j),",
    "cb AS (",
    "  SELECT js.j, c.vec_id AS code, c.v AS cv FROM e c CROSS JOIN js WHERE c.vec_id < 16"))
}
