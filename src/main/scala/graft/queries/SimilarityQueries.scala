package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.{SeedCents, margined, seedCents}

/** The declared queries of vector similarity search, clustering and
  * kNN-graph analytics: those whose closures call
  * [[graft.operators.Similarity]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("q_common_neighbors", (s, dir) =>
      Similarity.commonNeighbors(Tables.embeddings(s, dir)).orderBy("a", "b"),
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges
        |  QUALIFY rnk <= 5
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM top GROUP BY 1
        |), ok AS (
        |  SELECT dst FROM top GROUP BY dst HAVING count(*) <= 256
        |), capped AS (
        |  SELECT t.src, t.dst FROM top t JOIN ok USING (dst)
        |), cn AS (
        |  SELECT e1.src AS a, e2.src AS b, count(*) AS common
        |  FROM capped e1 JOIN capped e2 ON e1.dst = e2.dst AND e1.src < e2.src
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT cn.a, cn.b, CAST(cn.common AS BIGINT) AS common,
        |  CAST(da.deg AS BIGINT) AS da, CAST(db.deg AS BIGINT) AS db,
        |  CAST(cn.common AS DOUBLE)
        |    / CAST(da.deg + db.deg - cn.common AS DOUBLE) AS jaccard
        |FROM cn JOIN deg da ON da.src = cn.a JOIN deg db ON db.src = cn.b
        |ORDER BY a, b""".stripMargin),
    Query("q_resource_alloc", (s, dir) =>
      Similarity.resourceAllocation(Tables.embeddings(s, dir)).orderBy("a", "b"),
      // wedge-center contributions are exact floor divisions 1e12//deg;
      // the pair sum is an order-free long, one IEEE division surfaced
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, pairs AS (
        ${cellPairs("        ")}
        |), edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |    FROM pairs
        |  ) WHERE rnk <= 5
        |), mut AS (
        |  SELECT a.src, a.dst FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
        |  WHERE a.src < a.dst
        |), nb AS (
        |  SELECT src AS node, dst AS nbr FROM mut UNION ALL SELECT dst, src FROM mut
        |), dg AS (SELECT node, count(*) AS deg FROM nb GROUP BY 1
        |), w AS (
        |  SELECT x.nbr AS a, y.nbr AS b, d.deg
        |  FROM nb x JOIN nb y ON x.node = y.node AND x.nbr < y.nbr
        |  JOIN dg d ON d.node = x.node
        |), ra AS (
        |  SELECT a, b, count(*) AS n_common, sum(1000000000000 // deg) AS ra_micro
        |  FROM w GROUP BY 1, 2
        |)
        |SELECT a, b, CAST(n_common AS BIGINT) AS n_common, CAST(ra_micro AS BIGINT) AS ra_micro,
        |  CAST(ra_micro AS DOUBLE) / 1000000000000.0 AS ra_score
        |FROM ra WHERE n_common >= 2 ORDER BY a, b""".stripMargin),
    Query("q_kcore", (s, dir) =>
      Similarity.kCore(Tables.embeddings(s, dir)).orderBy("node"),
      // synchronous peel, 8 unrolled rounds (spec asserts convergence
      // well inside); membership + degrees all-integer
      {
        val head =
          s"""WITH e AS (
            |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
            ${celledCtes("            ")}, pairs AS (
            ${cellPairs("            ")}
            |), edges AS (
            |  SELECT src, dst FROM (
            |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
            |    FROM pairs
            |  ) WHERE rnk <= 5
            |), mut AS MATERIALIZED (
            |  SELECT a.src, a.dst FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
            |  WHERE a.src < a.dst
            |), e0 AS MATERIALIZED (SELECT src, dst FROM mut)""".stripMargin
        // every CTE is MATERIALIZED: each round references its
        // predecessor twice, and inlining would expand the quadratic
        // edge head 2^rounds times (measured: "too many open files")
        val rounds = (1 to 8).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT src AS node FROM e${i - 1} UNION ALL SELECT dst FROM e${i - 1}
             |  ) GROUP BY 1 HAVING count(*) >= 2
             |), e$i AS MATERIALIZED (
             |  SELECT m.src, m.dst FROM mut m
             |  JOIN d$i a ON a.node = m.src JOIN d$i b ON b.node = m.dst
             |)""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$rounds
           |SELECT emb.vec_id AS node, d8.deg IS NOT NULL AS in_core,
           |  CAST(d8.deg AS BIGINT) AS core_degree
           |FROM embeddings emb LEFT JOIN d8 ON d8.node = emb.vec_id
           |ORDER BY node""".stripMargin
      }),
    Query("q_knn_classify", (s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir)).orderBy("qid"),
      s"""WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ", Seq("label"))}, q AS (
        |  SELECT vec_id AS qid, label AS q_label, v AS qv, nn AS qn, cell
        |  FROM n WHERE vec_id % 20 = 0
        |), s AS (
        |  SELECT q.qid, q.q_label, c.vec_id, c.label,
        |    list_dot_product(q.qv, c.v) / (q.qn * c.nn) AS cos
        |  FROM n c JOIN q ON q.cell = c.cell AND q.qn * c.nn != 0
        |  WHERE c.vec_id % 20 != 0
        |), t AS (
        |  SELECT qid, q_label, label,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM s QUALIFY rnk <= 5
        |), v AS (
        |  SELECT qid, q_label, label, count(*) AS votes FROM t GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT qid, q_label, label, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS pr
        |  FROM v QUALIFY pr = 1
        |)
        |SELECT qid, q_label, label AS predicted_label, CAST(votes AS BIGINT) AS votes,
        |  label = q_label AS correct
        |FROM w
        |ORDER BY qid""".stripMargin),
    Query("q_assortativity", (s, dir) =>
      Similarity.degreeAssortativity(Tables.embeddings(s, dir), 5),
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges
        |  QUALIFY rnk <= 5
        |), deg AS (
        |  SELECT src, count(*) AS deg FROM top GROUP BY 1
        |), j AS (
        |  SELECT t.src, t.dst, a.deg AS dx, b.deg AS dy
        |  FROM top t JOIN deg a ON a.src = t.src JOIN deg b ON b.src = t.dst
        |), m AS (
        |  SELECT count(*) AS n_edges, sum(dx) AS sx, sum(dy) AS sy,
        |    sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
        |  FROM j
        |)
        |SELECT CAST(n_edges AS BIGINT) AS n_edges,
        |  CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |        AND (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS assortativity
        |FROM m""".stripMargin),
    Query("q_hits", (s, dir) =>
      Similarity.hitsKnn(Tables.embeddings(s, dir), 5, 3).orderBy("node"),
      {
        val edgeHead =
          s"""WITH e AS (
            |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
            ${celledCtes("            ")}, pairs AS (
            ${cellPairs("            ")}
            |), edges AS (
            |  SELECT src, dst FROM (
            |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
            |    FROM pairs
            |  ) WHERE rnk <= 5
            |), nodes AS (SELECT vec_id AS node FROM embeddings),
            |p AS (SELECT 1000000000000 // count(*) AS s0 FROM nodes),
            |h0 AS (SELECT node, (SELECT s0 FROM p) AS h FROM nodes)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""ar$i AS (
             |  SELECT e2.dst AS node, sum(h.h) AS a FROM edges e2
             |  JOIN h${i - 1} h ON h.node = e2.src GROUP BY 1
             |), at$i AS (SELECT sum(a) AS t FROM ar$i),
             |a$i AS (
             |  SELECT nd.node,
             |    CAST(coalesce(x.a, 0) AS HUGEINT) * 1000000000000 // (SELECT t FROM at$i) AS a
             |  FROM nodes nd LEFT JOIN ar$i x ON nd.node = x.node
             |), hr$i AS (
             |  SELECT e2.src AS node, sum(a.a) AS h FROM edges e2
             |  JOIN a$i a ON a.node = e2.dst GROUP BY 1
             |), ht$i AS (SELECT sum(h) AS t FROM hr$i),
             |h$i AS (
             |  SELECT nd.node,
             |    CAST(coalesce(x.h, 0) AS HUGEINT) * 1000000000000 // (SELECT t FROM ht$i) AS h
             |  FROM nodes nd LEFT JOIN hr$i x ON nd.node = x.node
             |)""".stripMargin
        }.mkString(",\n")
        s"""$edgeHead,
           |$rounds
           |SELECT h3.node, CAST(h3.h AS BIGINT) AS hub_units, CAST(a3.a AS BIGINT) AS auth_units,
           |  CAST(h3.h AS DOUBLE) / 1000000000000 AS hub,
           |  CAST(a3.a AS DOUBLE) / 1000000000000 AS authority
           |FROM h3 JOIN a3 USING (node)
           |ORDER BY node""".stripMargin
      }),
    Query("q_degree_hist", (s, dir) =>
      Similarity.degreeHist(Tables.embeddings(s, dir), 5).orderBy("degree"),
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, pairs AS (
        ${cellPairs("        ")}
        |), edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |    FROM pairs
        |  ) WHERE rnk <= 5
        |), mut AS (
        |  SELECT a.src, a.dst FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
        |  WHERE a.src < a.dst
        |), ends AS (
        |  SELECT src AS node FROM mut UNION ALL SELECT dst FROM mut
        |), dg AS (SELECT node, count(*) AS degree FROM ends GROUP BY 1
        |), f AS (
        |  SELECT nd.vec_id AS node, coalesce(dg.degree, 0) AS degree
        |  FROM embeddings nd LEFT JOIN dg ON dg.node = nd.vec_id
        |), hist AS (SELECT degree, count(*) AS n_nodes FROM f GROUP BY 1
        |), t AS (SELECT sum(n_nodes) AS tt FROM hist)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_nodes AS DOUBLE) / CAST(tt AS DOUBLE) AS share
        |FROM hist, t
        |ORDER BY degree""".stripMargin),
    Query("q_label_prop", (s, dir) =>
      Similarity.labelPropagation(Tables.embeddings(s, dir), 5, 3).orderBy("node"),
      {
        val head =
          s"""WITH e AS (
            |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
            ${celledCtes("            ")}, pairs AS (
            ${cellPairs("            ")}
            |), edges AS (
            |  SELECT src, dst FROM (
            |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
            |    FROM pairs
            |  ) WHERE rnk <= 5
            |), mut AS (
            |  SELECT a.src, a.dst FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
            |  WHERE a.src < a.dst
            |), ws AS (
            |  SELECT src AS node, dst AS nbr FROM mut
            |  UNION ALL SELECT dst, src FROM mut
            |  UNION ALL SELECT vec_id, vec_id FROM embeddings
            |), l0 AS (SELECT vec_id AS node, vec_id AS community FROM embeddings)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""v$i AS (
             |  SELECT w.node, l.community, count(*) AS cnt
             |  FROM ws w JOIN l${i - 1} l ON l.node = w.nbr GROUP BY 1, 2
             |), l$i AS (
             |  SELECT node, community FROM (
             |    SELECT node, community,
             |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, community ASC) AS rr
             |    FROM v$i
             |  ) WHERE rr = 1
             |)""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$rounds
           |SELECT node, community FROM l3
           |ORDER BY node""".stripMargin
      }),
    Query("q_mmr_rerank", (s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir), 0L, 20, 5).orderBy("sel_rank"),
      {
        val head =
          s"""${normed("            ")}
            |), q AS (SELECT v AS qv, nn AS qnn FROM n WHERE vec_id = 0
            |), sc AS (
            |  SELECT n.vec_id, list_dot_product(q.qv, n.v) / (q.qnn * n.nn) AS qsim
            |  FROM n, q WHERE n.vec_id != 0 AND q.qnn * n.nn != 0
            |), pool AS (
            |  SELECT vec_id, qsim FROM (
            |    SELECT *, row_number() OVER (ORDER BY qsim DESC, vec_id ASC) AS rnk FROM sc
            |  ) WHERE rnk <= 20
            |), pv AS (SELECT n.vec_id, n.v, n.nn, p.qsim FROM n JOIN pool p ON p.vec_id = n.vec_id
            |), sims AS (
            |  SELECT a.vec_id AS pa, b.vec_id AS pb,
            |    list_dot_product(a.v, b.v) / (a.nn * b.nn) AS sim
            |  FROM pv a JOIN pv b ON a.vec_id != b.vec_id AND a.nn * b.nn != 0
            |), sel1 AS (
            |  SELECT vec_id, qsim, qsim AS mmr_score, 1 AS sel_rank
            |  FROM pool ORDER BY qsim DESC, vec_id LIMIT 1
            |)""".stripMargin
        val rounds = (2 to 5).map { r =>
          s"""p$r AS (
             |  SELECT p.vec_id, p.qsim,
             |    0.7::DOUBLE * p.qsim - (1::DOUBLE - 0.7::DOUBLE) * m.msim AS mmr_score, $r AS sel_rank
             |  FROM pool p
             |  JOIN (SELECT pa, max(sim) AS msim FROM sims
             |        WHERE pb IN (SELECT vec_id FROM sel${r - 1}) GROUP BY pa) m ON m.pa = p.vec_id
             |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
             |  ORDER BY mmr_score DESC, p.vec_id LIMIT 1
             |), sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$rounds
           |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, qsim, mmr_score
           |FROM sel5
           |ORDER BY sel_rank""".stripMargin
      }),
    Query("q_intrinsic_dim", (s, dir) =>
      Similarity.intrinsicDim(Tables.embeddings(s, dir)),
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, d AS (
        |  SELECT a.vec_id AS p, b.vec_id AS q,
        |    a.nn * a.nn + b.nn * b.nn
        |      - 2.0 * (list_dot_product(a.v, b.v) / (a.nn * b.nn)) * a.nn * b.nn AS d2
        |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id != b.vec_id
        |  WHERE a.nn * b.nn != 0
        |), r AS (
        |  SELECT p, q, d2,
        |    row_number() OVER (PARTITION BY p ORDER BY d2 ASC, q ASC) AS rn
        |  FROM d QUALIFY rn <= 2
        |), byp AS (
        |  SELECT p, max(CASE WHEN rn = 1 THEN d2 END) AS d1,
        |    max(CASE WHEN rn = 2 THEN d2 END) AS d2b
        |  FROM r GROUP BY p
        |), used AS (
        |  SELECT CAST(floor(ln(sqrt(d2b / d1)) * 1000000) AS BIGINT) AS mln
        |  FROM byp WHERE d1 > 0 AND d2b IS NOT NULL
        |), agg AS (SELECT count(*) AS n_used, sum(mln) AS s FROM used)
        |SELECT (SELECT count(*) FROM embeddings) AS n_vectors, n_used,
        |  round(CASE WHEN s > 0
        |    THEN CAST(n_used AS DOUBLE) * 1000000.0 / CAST(s AS DOUBLE) END, 6) AS id_twonn
        |FROM agg""".stripMargin),
    Query("q_ann_bruteforce", (s, dir) =>
      Similarity
        .bruteForceTopK(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("qid", "rnk"),
      s"""${normed("        ")}
        |), scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CASE WHEN q.nn * e.nn != 0 THEN list_dot_product(q.v, e.v) / (q.nn * e.nn) END AS cos
        |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id != q.vec_id
        |)
        |SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),
    // semi-hard negative mining: per anchor, hardest k non-duplicate
    // vectors inside the [floor, dup) similarity band
    Query("q_hard_negatives", (s, dir) =>
      Similarity
        .hardNegatives(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("anchor_id", "rnk"),
      // the band predicate applies BEFORE the per-anchor top-k on both
      // engines; scores are the same sequential dots as q_ann_bruteforce
      s"""${normed("        ")}
        |), scored AS (
        |  SELECT q.vec_id AS anchor_id, e.vec_id AS negative_id,
        |    CASE WHEN q.nn * e.nn != 0 THEN list_dot_product(q.v, e.v) / (q.nn * e.nn) END AS cos
        |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id != q.vec_id
        |), banded AS (
        |  SELECT anchor_id, negative_id, cos,
        |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, negative_id ASC) AS BIGINT) AS rnk
        |  FROM scored
        |  WHERE cos < 0.95 AND cos >= 0.3
        |)
        |SELECT anchor_id, negative_id, cos, rnk
        |FROM banded
        |WHERE rnk <= 5
        |ORDER BY anchor_id, rnk""".stripMargin),
    // same queries/k over int8-quantized vectors: all-integer dots
    // and norms (scales cancel in the cosine), 4x less memory at
    // scale — scores are exact integer math + one IEEE sqrt
    Query("q_ann_int8", (s, dir) =>
      Similarity
        .int8BruteForceTopK(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("qid", "rnk"),
      // quantized levels live in DOUBLE lists on both sides: every
      // value is integral and < 2^53, so dots/norms are exact and the
      // score is deterministic integer math + one IEEE sqrt
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), sc AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
        |  FROM e
        |), z AS (
        |  SELECT vec_id, list_transform(v, x -> floor(x / s + 0.5)) AS qv
        |  FROM sc WHERE s != 0
        |), n AS (
        |  SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS qn FROM z
        |), scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    list_dot_product(q.qv, e.qv) / (q.qn * e.qn) AS qcos
        |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id != q.vec_id
        |  WHERE q.qn * e.qn != 0
        |)
        |SELECT qid, vec_id, qcos,
        |  row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id ASC) AS rnk
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),
    Query("q_embed_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 0.45).orderBy("va", "vb"),
      s"""${normed("        ")}
        |)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |  list_dot_product(a.v, b.v) / (a.nn * b.nn) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE a.nn * b.nn != 0
        |  AND list_dot_product(a.v, b.v) / (a.nn * b.nn) >= 0.45
        |ORDER BY va, vb""".stripMargin),
    // SemDeDup shape: exact cosine only within IVF cells. Seed
    // quantizer for the same reason as q_ann_ivf (deterministic,
    // cross-engine hashable); same threshold as q_embed_neardup so
    // the within-cell pairs are a direct subset of the exact sweep
    Query("q_semantic_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
      Similarity.ivfNearDupPairs(emb, 0.45, cents).orderBy("va", "vb")
    },
      // mirrors ivfNearDupPairs: rank-seeded quantizer + d2 argmin
      // assignment (the q_ann_ivf pattern), then the q_embed_neardup
      // cosine restricted to same-cell pairs
      s"""${seedCells("        ")}
        |), n AS (
        |  SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nn FROM assigned
        |)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |  list_dot_product(a.v, b.v) / (a.nn * b.nn) AS cos
        |FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE a.nn * b.nn != 0
        |  AND list_dot_product(a.v, b.v) / (a.nn * b.nn) >= 0.45
        |ORDER BY va, vb""".stripMargin),
    // the TRAINED-quantizer semantic dedup on the gate: Lloyd
    // centroids are float means (run-nondeterministic), so the
    // within-cell PAIR SET cannot be hash-matched — but three
    // invariants hold for ANY centroid outcome and are what the
    // operator promises: (1) within-cell pairs ⊆ the exact sweep
    // (a within-cell pair at/above threshold IS an exact pair);
    // (2) scores bit-equal to the exact sweep (same block kernel);
    // (3) candidate volume at most half the full pair space (the
    // reason the operator exists; 16 trained cells on this corpus
    // leave a wide margin — the spec pins the tighter 4x bound).
    // Emitted as oracle-asserted literal-TRUE booleans next to the
    // engine-deterministic exact-pair count — the checked-twin
    // pattern (q_ann_ivf_trained) applied to the dedup shape, and
    // the query drives train → codegen'd assign → dense blocking →
    // in-cell sweep end-to-end on the driver gate.
    Query("q_semantic_dedup_trained", (s, dir) => {
      val emb    = Tables.embeddings(s, dir)
      val cents  = Similarity.ivfTrain(emb, nlist = 16, iters = 3)
      val within = Similarity.ivfNearDupPairs(emb, 0.45, cents)
      val exact  = Similarity.cosineNearDupPairs(emb, 0.45)
      val stats = within
        .join(exact.select(col("va"), col("vb"), col("cos").as("cos_x")), Seq("va", "vb"), "left")
        .agg(
          coalesce(sum(when(col("cos_x").isNull, 1L).otherwise(0L)), lit(0L)).as("n_missing"),
          coalesce(sum(when(col("cos_x") =!= col("cos"), 1L).otherwise(0L)), lit(0L)).as("n_diff"))
      val occ = Similarity
        .assignCells(emb.select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")), cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("c"))
        .agg(
          coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).as("cand2"),
          coalesce(sum(col("c")), lit(0L)).as("n"))
      val nExact = exact.agg(count(lit(1)).as("n_exact_pairs"))
      stats.crossJoin(occ).crossJoin(nExact).select(
        col("n_exact_pairs"),
        (col("n_missing") === 0L).as("subset_ok"),
        (col("n_diff") === 0L).as("scores_equal"),
        (col("cand2") * 2 <= col("n") * (col("n") - 1)).as("volume_bounded"))
    },
      // the trained-dedup gate: the three invariants are TRUE for any
      // Lloyd outcome (see the query comment); the one engine-
      // deterministic number is the exact sweep's pair count
      s"""${normed("        ")}
        |), p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.nn * b.nn != 0
        |    AND list_dot_product(a.v, b.v) / (a.nn * b.nn) >= 0.45
        |)
        |SELECT count(*) AS n_exact_pairs, TRUE AS subset_ok,
        |  TRUE AS scores_equal, TRUE AS volume_bounded
        |FROM p""".stripMargin),
    Query("q_ann_lsh_buckets", (s, dir) =>
      Similarity.lshBuckets(Tables.embeddings(s, dir)).orderBy("vec_id"),
      """WITH dirs AS (
        |  SELECT p, list_transform(generate_series(0, 63), i ->
        |    CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) AS INT) % 2 = 0
        |         THEN 1.0 ELSE -1.0 END) AS d
        |  FROM (SELECT unnest(generate_series(0, 7)) AS p)
        |), proj AS (
        |  SELECT e.vec_id, dirs.p,
        |    list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), dirs.d) AS pr
        |  FROM embeddings e CROSS JOIN dirs
        |)
        |SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    Query("q_knn_graph", (s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5)
        .orderBy("src", "rnk"),
      // edge scores are the same sequential dots as q_ann_bruteforce;
      // the mutual flag is a pure self-join of the ranked edge set
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges
        |  QUALIFY rnk <= 5
        |)
        |SELECT t.src, t.dst, t.cos, t.rnk, (m.src IS NOT NULL) AS mutual
        |FROM top t LEFT JOIN top m ON t.src = m.dst AND t.dst = m.src
        |ORDER BY t.src, t.rnk""".stripMargin),
    // IVF search end-to-end on the driver gate: codegen'd cell
    // assignment + nprobe probing + exact in-cell cosine rank. The
    // quantizer is the deterministic SEED (first nlist vectors by
    // vec_id, zero Lloyd iterations): iterated centroids are float
    // MEANS, whose partial-sum order differs between engines, so
    // they cannot be hash-matched bit-exactly — the Lloyd-trained
    // path keeps its spec coverage (full-probe == brute force,
    // codegen/HOF bit-identity) in DedupSimilaritySpec instead.
    Query("q_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
      Similarity.ivfSearch(emb, cents, Seq(0L, 1L, 2L, 3L, 4L), 5, nprobe = 4)
        .orderBy("qid", "rnk")
    },
      // mirrors ivfSearch exactly: seed quantizer = first 16 vectors
      // BY RANK (row_number over vec_id, cell = rank - 1 — the same
      // orderBy/limit + positional-id semantics as ivfTrain, so the
      // mirror holds even if vec_ids stop being contiguous from 0),
      // bit-identical float->double casts in both engines, d2 as a
      // self-dot-product of the difference list (the same sequential
      // multiply-accumulate list_dot_product is proven to share with
      // Spark's fold in q_ann_bruteforce), argmin and probe ranked
      // (d2 ASC, cell ASC), cosine rank (cos DESC, vec_id ASC)
      s"""${seedCells("        ")}
        |), n AS (
        |  SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nn FROM assigned
        |), qc AS (
        |  SELECT vec_id AS qid, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS prb
        |  FROM d WHERE vec_id IN (0, 1, 2, 3, 4) QUALIFY prb <= 4
        |), scored AS (
        |  SELECT qc.qid, n.vec_id,
        |    CASE WHEN qn.nn * n.nn != 0
        |         THEN list_dot_product(qn.v, n.v) / (qn.nn * n.nn) END AS cos
        |  FROM qc
        |  JOIN n ON n.cell = qc.cell
        |  JOIN n qn ON qn.vec_id = qc.qid
        |  WHERE n.vec_id != qc.qid
        |)
        |SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),
    Query("q_kmeans_step", (s, dir) =>
      Similarity.kmeansStep(Tables.embeddings(s, dir)).orderBy("cell", "dim"),
      // micro-quantized per-cell sums are exact; the new mean is one
      // int/int IEEE division and drift one subtraction — no
      // cross-dimension float sums (the (cell,dim) grid IS the output)
      s"""${seedCells("        ")}
        |), x0 AS (
        |  SELECT cell, unnest(list_zip(v, generate_series(1, len(v)))) AS z FROM assigned
        |), x AS (
        |  SELECT cell, z[2] - 1 AS dim, CAST(floor(z[1] * 1000000) AS BIGINT) AS qu FROM x0
        |), g AS (
        |  SELECT cell, dim, CAST(count(*) AS BIGINT) AS n_cell, CAST(sum(qu) AS BIGINT) AS s
        |  FROM x GROUP BY 1, 2
        |), o0 AS (
        |  SELECT cell, unnest(list_zip(c, generate_series(1, len(c)))) AS z FROM cents
        |), o AS (
        |  SELECT cell, z[2] - 1 AS dim, z[1] AS mean_old FROM o0
        |)
        |SELECT CAST(g.cell AS INT) AS cell, CAST(g.dim AS INT) AS dim, n_cell,
        |  CAST(s AS DOUBLE) / (CAST(n_cell AS DOUBLE) * 1000000.0) AS mean_new,
        |  o.mean_old,
        |  CAST(s AS DOUBLE) / (CAST(n_cell AS DOUBLE) * 1000000.0) - o.mean_old AS delta
        |FROM g JOIN o ON o.cell = g.cell AND o.dim = g.dim
        |ORDER BY cell, dim""".stripMargin),
    Query("q_ivf_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
      Similarity.ivfRecall(emb, cents, Seq(0L, 1L, 2L, 3L, 4L), 5, nprobe = 4)
        .orderBy("qid")
    },
      // recall@k audit: the IVF chain and the brute-force chain above,
      // joined — hits are exact integers, recall one rounded division
      s"""${seedCells("        ")}
        |), n AS (
        |  SELECT vec_id, cell, v, sqrt(list_dot_product(v, v)) AS nn FROM assigned
        |), qc AS (
        |  SELECT vec_id AS qid, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS prb
        |  FROM d WHERE vec_id IN (0, 1, 2, 3, 4) QUALIFY prb <= 4
        |), iscored AS (
        |  SELECT qc.qid, n.vec_id,
        |    CASE WHEN qn.nn * n.nn != 0
        |         THEN list_dot_product(qn.v, n.v) / (qn.nn * n.nn) END AS cos
        |  FROM qc
        |  JOIN n ON n.cell = qc.cell
        |  JOIN n qn ON qn.vec_id = qc.qid
        |  WHERE n.vec_id != qc.qid
        |), ivf AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM iscored QUALIFY rnk <= 5
        |), bscored AS (
        |  SELECT q.vec_id AS qid, x.vec_id,
        |    CASE WHEN q.nn * x.nn != 0 THEN list_dot_product(q.v, x.v) / (q.nn * x.nn) END AS cos
        |  FROM n q JOIN n x ON q.vec_id IN (0, 1, 2, 3, 4) AND x.vec_id != q.vec_id
        |), bf AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM bscored QUALIFY rnk <= 5
        |)
        |SELECT bf.qid, count(ivf.vec_id) AS hits, CAST(5 AS BIGINT) AS k,
        |  round(count(ivf.vec_id) / CAST(5 AS DOUBLE), 6) AS recall
        |FROM bf LEFT JOIN ivf ON ivf.qid = bf.qid AND ivf.vec_id = bf.vec_id
        |GROUP BY bf.qid
        |ORDER BY bf.qid""".stripMargin),
    Query("q_cluster_silhouette", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
      Similarity.clusterSilhouette(emb, cents).orderBy("cell")
    },
      // simplified silhouette: same seed cells + d2 chain as q_ann_ivf;
      // per-row s quantizes once to DECIMAL(18,6), cell means are exact
      // decimal sums + one IEEE division
      s"""${seedCents("        ")}
        |), d AS (
        |  SELECT e.vec_id, cents.cell,
        |    list_dot_product(
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i]),
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i])) AS d2
        |  FROM e CROSS JOIN cents
        |), r AS (
        |  SELECT vec_id, cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        |  FROM d
        |), g AS (
        |  SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN cell END) AS cell,
        |    max(CASE WHEN rn = 1 THEN d2 END) AS a2,
        |    min(CASE WHEN rn > 1 THEN d2 END) AS b2
        |  FROM r GROUP BY vec_id
        |), s AS (
        |  SELECT cell,
        |    CAST(CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
        |      THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
        |      ELSE 0.0 END AS DECIMAL(18,6)) AS s6
        |  FROM g
        |)
        |SELECT cell, count(*) AS n,
        |  round(CAST(sum(s6) AS DOUBLE) / count(*), 6) AS mean_silhouette
        |FROM s GROUP BY cell
        |ORDER BY cell""".stripMargin),
    Query("q_bfs_layers", (s, dir) =>
      Similarity.bfsLayers(Tables.embeddings(s, dir), Seq(0L, 1L, 2L), 5, 3)
        .orderBy("vec_id"),
      // BFS min-depth over the directed top-k edges: reachable-in-i
      // layers unioned, min(depth) per node — path fan-out is bounded
      // by |seeds| * k^depth
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges
        |  QUALIFY rnk <= 5
        |), seeds AS (
        |  SELECT unnest([0, 1, 2]) AS vec_id
        |), r1 AS (
        |  SELECT DISTINCT t.dst AS vec_id FROM seeds s JOIN top t ON t.src = s.vec_id
        |), r2 AS (
        |  SELECT DISTINCT t.dst AS vec_id FROM r1 JOIN top t ON t.src = r1.vec_id
        |), r3 AS (
        |  SELECT DISTINCT t.dst AS vec_id FROM r2 JOIN top t ON t.src = r2.vec_id
        |), u AS (
        |  SELECT vec_id, CAST(0 AS BIGINT) AS depth FROM seeds
        |  UNION ALL SELECT vec_id, 1 FROM r1
        |  UNION ALL SELECT vec_id, 2 FROM r2
        |  UNION ALL SELECT vec_id, 3 FROM r3
        |)
        |SELECT vec_id, min(depth) AS depth FROM u
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin),
    Query("q_cluster_purity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
      Similarity.clusterPurity(emb, cents).orderBy("cell")
    },
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), cents AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
        |  FROM e QUALIFY cell < 16
        |), d AS (
        |  SELECT e.vec_id, e.label, cents.cell,
        |    list_dot_product(
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i]),
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i])) AS d2
        |  FROM e CROSS JOIN cents
        |), assigned AS (
        |  SELECT vec_id, label, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        |  FROM d QUALIFY rn = 1
        |), counts AS (
        |  SELECT cell, label, count(*) AS cnt FROM assigned GROUP BY 1, 2
        |), j AS (
        |  SELECT cell, label, cnt,
        |    row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label ASC) AS rn,
        |    CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS n
        |  FROM counts
        |)
        |SELECT CAST(cell AS BIGINT) AS cell, n, label AS majority_label, cnt AS n_majority,
        |  CAST(cnt AS DOUBLE) / n AS purity
        |FROM j WHERE rn = 1
        |ORDER BY cell""".stripMargin),
    Query("q_retrieval_precision", (s, dir) =>
      Similarity.retrievalPrecision(Tables.embeddings(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .orderBy("qid"),
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nn FROM e
        |), scored AS (
        |  SELECT q.vec_id AS qid, q.label AS q_label, x.vec_id, x.label,
        |    CASE WHEN q.nn * x.nn != 0 THEN list_dot_product(q.v, x.v) / (q.nn * x.nn) END AS cos
        |  FROM n q JOIN n x ON q.vec_id IN (0, 1, 2, 3, 4) AND x.vec_id != q.vec_id
        |), topk AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM scored QUALIFY rnk <= 5
        |)
        |SELECT qid, q_label,
        |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k,
        |  sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) / CAST(5 AS DOUBLE) AS precision
        |FROM topk GROUP BY qid, q_label
        |ORDER BY qid""".stripMargin),
    Query("q_feature_corr", (s, dir) =>
      Similarity.featureLabelCorr(Tables.embeddings(s, dir)).orderBy("dim"),
      """WITH e AS (
        |  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), idx AS (SELECT unnest(generate_series(1, 64)) AS i
        |), x AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(v[i] * 1000000) AS DECIMAL(18,0)) AS mx,
        |    CAST(label AS DECIMAL(18,0)) AS my
        |  FROM e CROSS JOIN idx
        |), m AS (
        |  SELECT dim, count(*) AS n, sum(mx) AS sx, sum(my) AS sy,
        |    sum(mx * my) AS sxy, sum(mx * mx) AS sxx, sum(my * my) AS syy
        |  FROM x GROUP BY dim
        |)
        |SELECT dim, n,
        |  round(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |              AND (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS corr
        |FROM m
        |ORDER BY dim""".stripMargin),
    // the TRAINED IVF path on the gate: Lloyd centroids are float
    // MEANS (partial-sum order differs across engines and runs), so
    // the trained quantizer itself can never hash-match — but with
    // nprobe == nlist the search output is EXACTLY brute force no
    // matter where the centroids landed (the quantizer only
    // partitions the candidate space, and a full probe visits all of
    // it). So the query runs train -> codegen'd assign -> full probe
    // -> exact rank, which hash-matches the brute-force oracle and
    // drives the trained pipeline end-to-end; the half-probe recall
    // rides as a margin-safe boolean the oracle asserts TRUE — the
    // checked-twin pattern applied to training. The gate bound is
    // deliberately WEAK (>= 1 hit of 5): Lloyd training is run-
    // nondeterministic (float partial-sum order), so the oracle flag
    // only guards total per-qid collapse with >= 2 hits of margin
    // under the >= 3 the spec pins on the fixture — the tight bound
    // lives in CI where a flake is a rerun, not a red driver gate
    Query("q_ann_ivf_trained", (s, dir) => {
      val emb   = Tables.embeddings(s, dir)
      val cents = Similarity.ivfTrain(emb, nlist = 16, iters = 3)
      val qids  = Seq(0L, 1L, 2L, 3L, 4L)
      val full  = Similarity.ivfSearch(emb, cents, qids, 5, nprobe = 16)
      val half  = Similarity.ivfSearch(emb, cents, qids, 5, nprobe = 8)
      val hits = full.select(col("qid"), col("vec_id"))
        .join(half.select(col("qid").as("hq"), col("vec_id").as("hv")),
          col("qid") === col("hq") && col("vec_id") === col("hv"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
        .select(col("qid").as("hq2"), col("hits"))
      full.join(hits, col("qid") === col("hq2"), "left")
        .select(col("qid"), col("vec_id"), col("cos"), col("rnk"),
          (coalesce(col("hits"), lit(0L)) >= 1L).as("half_recall_ok"))
        .orderBy("qid", "rnk")
    },
      // the trained-path gate: full-probe trained IVF == brute force
      // exactly (the quantizer only partitions candidates), so the
      // oracle is the brute-force ranking + a literal-TRUE recall flag
      s"""${normed("        ")}
        |), scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CASE WHEN q.nn * e.nn != 0 THEN list_dot_product(q.v, e.v) / (q.nn * e.nn) END AS cos
        |  FROM n q JOIN n e ON q.vec_id IN (0, 1, 2, 3, 4) AND e.vec_id != q.vec_id
        |)
        |SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk,
        |  TRUE AS half_recall_ok
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY qid, rnk""".stripMargin),
    Query("q_pagerank", (s, dir) =>
      Similarity.pageRankKnn(Tables.embeddings(s, dir), 5, 5)
        .orderBy("node"),
      // all-integer power iteration unrolled 5x: contributions are
      // exact integral divisions, damping is (85*s) // 100, teleport
      // ((scale // n) * 15) // 100 — bit-identical to the Spark loop
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, pairs AS (
        ${cellPairs("        ")}
        |), edges AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |    FROM pairs
        |  ) WHERE rnk <= 5
        |), deg AS (
        |  SELECT src, count(*) AS od FROM edges GROUP BY src
        |), nodes AS (SELECT vec_id AS node FROM embeddings),
        |params AS (
        |  SELECT 1000000000000 // count(*) AS r0,
        |    (1000000000000 // count(*)) * 15 // 100 AS tele
        |  FROM nodes
        |), it0 AS (
        |  SELECT node, (SELECT r0 FROM params) AS r FROM nodes
        |), it1 AS (
        |  SELECT nd.node, (SELECT tele FROM params) + coalesce(x.s, 0) * 85 // 100 AS r
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e2.dst AS node, sum(r.r // d.od) AS s
        |    FROM edges e2 JOIN deg d ON e2.src = d.src JOIN it0 r ON r.node = e2.src
        |    GROUP BY e2.dst) x ON nd.node = x.node
        |), it2 AS (
        |  SELECT nd.node, (SELECT tele FROM params) + coalesce(x.s, 0) * 85 // 100 AS r
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e2.dst AS node, sum(r.r // d.od) AS s
        |    FROM edges e2 JOIN deg d ON e2.src = d.src JOIN it1 r ON r.node = e2.src
        |    GROUP BY e2.dst) x ON nd.node = x.node
        |), it3 AS (
        |  SELECT nd.node, (SELECT tele FROM params) + coalesce(x.s, 0) * 85 // 100 AS r
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e2.dst AS node, sum(r.r // d.od) AS s
        |    FROM edges e2 JOIN deg d ON e2.src = d.src JOIN it2 r ON r.node = e2.src
        |    GROUP BY e2.dst) x ON nd.node = x.node
        |), it4 AS (
        |  SELECT nd.node, (SELECT tele FROM params) + coalesce(x.s, 0) * 85 // 100 AS r
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e2.dst AS node, sum(r.r // d.od) AS s
        |    FROM edges e2 JOIN deg d ON e2.src = d.src JOIN it3 r ON r.node = e2.src
        |    GROUP BY e2.dst) x ON nd.node = x.node
        |), it5 AS (
        |  SELECT nd.node, (SELECT tele FROM params) + coalesce(x.s, 0) * 85 // 100 AS r
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e2.dst AS node, sum(r.r // d.od) AS s
        |    FROM edges e2 JOIN deg d ON e2.src = d.src JOIN it4 r ON r.node = e2.src
        |    GROUP BY e2.dst) x ON nd.node = x.node
        |)
        |SELECT node, CAST(r AS BIGINT) AS rank_units, CAST(r AS DOUBLE) / 1000000000000 AS pr
        |FROM it5 ORDER BY node""".stripMargin),
    Query("q_triangle_count", (s, dir) =>
      Similarity.triangleStats(Tables.embeddings(s, dir)).orderBy("vec_id"),
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges QUALIFY rnk <= 5
        |), mu AS (
        |  SELECT t.src AS a, t.dst AS b FROM top t
        |  JOIN top m ON t.src = m.dst AND t.dst = m.src
        |  WHERE t.src < t.dst
        |), tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c FROM mu e1
        |  JOIN mu e2 ON e2.a = e1.b
        |  JOIN mu e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tn AS (
        |  SELECT node, count(*) AS n_triangles
        |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1
        |), deg AS (
        |  SELECT node, count(*) AS degree
        |  FROM (SELECT a AS node FROM mu UNION ALL SELECT b AS node FROM mu) GROUP BY 1
        |)
        |SELECT deg.node AS vec_id, deg.degree,
        |  CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  round(CASE WHEN deg.degree >= 2
        |    THEN 2.0 * coalesce(tn.n_triangles, 0) / (deg.degree * (deg.degree - 1)) END, 6)
        |    AS clustering_coef
        |FROM deg LEFT JOIN tn ON deg.node = tn.node ORDER BY vec_id""".stripMargin),
    Query("q_embed_norms", (s, dir) =>
      Similarity.embedNorms(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
        |                          list_transform(embedding, x -> x::DOUBLE))) AS nrm
        |  FROM embeddings
        |), q AS (
        |  SELECT label, nrm, CAST(nrm AS DECIMAL(18,6)) AS qn FROM n
        |), m AS (
        |  SELECT label, count(*) AS n,
        |    CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |    sum(qn) AS s1, sum(qn * qn) AS s2,
        |    round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
        |  FROM q GROUP BY label
        |)
        |SELECT label, n AS n_vecs, n_zero,
        |  round(CAST(s1 AS DOUBLE) / n, 6) AS mean_norm,
        |  round(CASE WHEN n > 1 THEN sqrt(
        |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) END, 6)
        |    AS std_norm,
        |  min_norm, max_norm
        |FROM m ORDER BY label""".stripMargin),
    Query("q_knn_outliers", (s, dir) =>
      Similarity.knnOutliers(Tables.embeddings(s, dir)).orderBy("vec_id"),
      // score = cos at rnk=k over the brute-force graph; threshold is
      // the exact interpolating percentile; the flag compares
      // bit-identical unrounded doubles
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        ${celledCtes("        ")}, edges AS (
        ${cellPairs("        ")}
        |), top AS (
        |  SELECT src, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
        |  FROM edges
        |  QUALIFY rnk = 5
        |), sc AS (
        |  SELECT src AS vec_id, cos AS kth_cos FROM top
        |), th AS (SELECT quantile_cont(kth_cos, 0.05) AS thr FROM sc)
        |SELECT vec_id, kth_cos, round(thr, 6) AS thr,
        |  CAST(kth_cos < thr AS INT) AS is_outlier
        |FROM sc, th ORDER BY vec_id""".stripMargin),
    Query("q_isotropy", (s, dir) =>
      Similarity.isotropy(Tables.embeddings(s, dir)),
      // mean pairwise cos = (||S||^2 - n)/(n(n-1)) — one aggregate, no
      // pair sweep; exact integers through splitDouble, one division
      """WITH e AS (
        |  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), n0 AS (
        |  SELECT v, sqrt(list_dot_product(v, v)) AS nn FROM e
        |), c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(sum(CASE WHEN nn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM n0
        |), q0 AS (
        |  SELECT v, nn, unnest(generate_series(1, len(v))) AS dim FROM n0 WHERE nn != 0
        |), q AS (
        |  SELECT dim, CAST(floor(v[dim] / nn * 1000000) AS BIGINT) AS qx FROM q0
        |), d AS (
        |  SELECT dim, CAST(sum(qx) AS BIGINT) AS sd FROM q GROUP BY dim
        |), s AS (
        |  SELECT sum(CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT)) AS ss FROM d
        |)
        |SELECT n_vecs, n_zero,
        |  CASE WHEN n_vecs - n_zero > 1 THEN
        |    (CAST((ss - (n_vecs - n_zero)::HUGEINT * 1000000000000) // 9007199254740992 AS DOUBLE)
        |       * 9.007199254740992e15
        |     + CAST((ss - (n_vecs - n_zero)::HUGEINT * 1000000000000) % 9007199254740992 AS DOUBLE))
        |    / (CAST(n_vecs - n_zero AS DOUBLE) * CAST(n_vecs - n_zero - 1 AS DOUBLE) * 1e12)
        |  END AS mean_pairwise_cos
        |FROM c, s""".stripMargin),
    Query("q_dim_variance", (s, dir) =>
      Similarity.dimVariance(Tables.embeddings(s, dir)).orderBy("dim"),
      // per-dim exact 128-bit moments (welch recipe on the dim axis);
      // the dead flag compares the exact integer variance numerator
      """WITH e AS (
        |  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), q0 AS (
        |  SELECT v, unnest(generate_series(1, len(v))) AS i FROM e
        |), q AS (
        |  SELECT i - 1 AS dim, CAST(floor(v[i] * 1000000) AS BIGINT) AS qx FROM q0
        |), g AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(qx AS HUGEINT)) AS s1,
        |    sum(CAST(qx AS HUGEINT) * CAST(qx AS HUGEINT)) AS s2
        |  FROM q GROUP BY dim
        |), d AS (
        |  SELECT dim, n, s1, n * s2 - s1 * s1 AS vn FROM g
        |), f AS (
        |  SELECT dim, n,
        |    CASE WHEN s1 < 0
        |      THEN -(CAST(abs(s1) // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |        + CAST(abs(s1) % 9007199254740992 AS DOUBLE))
        |      ELSE CAST(s1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |        + CAST(s1 % 9007199254740992 AS DOUBLE) END AS s1d,
        |    CAST(vn // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(vn % 9007199254740992 AS DOUBLE) AS vnd,
        |    vn
        |  FROM d
        |)
        |SELECT dim, n,
        |  s1d / CAST(n AS DOUBLE) / 1e6 AS mean,
        |  vnd / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS variance,
        |  CAST(vnd < 0.000001::DOUBLE * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12 AS INT) AS is_dead
        |FROM f ORDER BY dim""".stripMargin),
    Query("q_top_pc", (s, dir) =>
      Similarity.topPrincipalComponent(Tables.embeddings(s, dir)).orderBy("dim"),
      """WITH x AS (SELECT list_transform(embedding, t -> t::DOUBLE) AS v FROM embeddings),
        |dd AS (SELECT len(v) AS d FROM x LIMIT 1),
        |v0 AS (SELECT list_transform(generate_series(1, d), i -> 1.0 / sqrt(CAST(d AS DOUBLE))) AS vv FROM dd),
        |w1 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v0.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v0) GROUP BY pos
        |),
        |v1 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w1)
        |),
        |w2 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v1.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v1) GROUP BY pos
        |),
        |v2 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w2)
        |),
        |w3 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v2.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v2) GROUP BY pos
        |),
        |v3 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w3)
        |),
        |sc AS (
        |  SELECT
        |    sum(CAST(list_dot_product(x.v, v3.vv) * list_dot_product(x.v, v3.vv) AS DECIMAL(18,6))) AS sp,
        |    sum(CAST(list_dot_product(x.v, x.v) AS DECIMAL(18,6))) AS sn
        |  FROM x, v3
        |),
        |o AS (
        |  SELECT CAST(unnest(generate_series(1, len(vv))) AS INT) AS dim,
        |    unnest(vv) AS loading
        |  FROM v3
        |)
        |SELECT dim, round(loading, 6) AS loading,
        |  round(CAST(sp AS DOUBLE) / CAST(sn AS DOUBLE), 6) AS explained_share
        |FROM o, sc ORDER BY dim""".stripMargin),
    Query("q_centroid_outliers", (s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir)).orderBy("label", "rnk"),
      """WITH e AS (
        |  SELECT vec_id, label,
        |    CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS pos,
        |    unnest(list_transform(embedding, t -> t::DOUBLE)) AS xi
        |  FROM embeddings
        |), c AS (
        |  SELECT label, pos,
        |    CAST(sum(CAST(xi AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ci
        |  FROM e GROUP BY 1, 2
        |), d AS (
        |  SELECT e.label, e.vec_id,
        |    sqrt(CAST(sum(CAST((xi - ci) * (xi - ci) AS DECIMAL(18,6))) AS DOUBLE)) AS dist
        |  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT label, vec_id, round(dist, 6) AS dist,
        |    row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rnk
        |  FROM d
        |)
        |SELECT label, vec_id, dist, rnk FROM r WHERE rnk <= 5
        |ORDER BY label, rnk""".stripMargin),
    Query("q_embed_drift", (s, dir) =>
      Similarity.embedDrift(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH cut AS (SELECT quantile_cont(vec_id, 0.5) AS cut FROM embeddings),
        |e AS (
        |  SELECT label, (vec_id <= cut) AS first_half,
        |    CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS pos,
        |    unnest(list_transform(embedding, t -> t::DOUBLE)) AS xi
        |  FROM embeddings, cut
        |), c AS (
        |  SELECT label, first_half, pos,
        |    CAST(sum(CAST(xi AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ci
        |  FROM e GROUP BY 1, 2, 3
        |), j AS (
        |  SELECT a.label, a.ci AS ca, b.ci AS cb
        |  FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
        |  WHERE a.first_half AND NOT b.first_half
        |), g AS (
        |  SELECT label,
        |    sum(CAST((ca - cb) * (ca - cb) AS DECIMAL(18,6))) AS d2,
        |    sum(CAST(ca * cb AS DECIMAL(18,6))) AS dot,
        |    sum(CAST(ca * ca AS DECIMAL(18,6))) AS na,
        |    sum(CAST(cb * cb AS DECIMAL(18,6))) AS nb
        |  FROM j GROUP BY 1
        |)
        |SELECT label, round(sqrt(CAST(d2 AS DOUBLE)), 6) AS l2_shift,
        |  round(CASE WHEN na > 0 AND nb > 0
        |    THEN CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END, 6)
        |    AS centroid_cos
        |FROM g ORDER BY label""".stripMargin),
    Query("q_pc_project", (s, dir) =>
      Similarity.pcProject(Tables.embeddings(s, dir)).orderBy("vec_id"),
      """WITH x AS (SELECT vec_id, list_transform(embedding, t -> t::DOUBLE) AS v FROM embeddings),
        |dd AS (SELECT len(v) AS d FROM x LIMIT 1),
        |v0 AS (SELECT list_transform(generate_series(1, d), i -> 1.0 / sqrt(CAST(d AS DOUBLE))) AS vv FROM dd),
        |w1 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v0.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v0) GROUP BY pos
        |),
        |v1 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w1)
        |),
        |w2 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v1.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v1) GROUP BY pos
        |),
        |v2 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w2)
        |),
        |w3 AS (
        |  SELECT pos, sum(CAST(dt * xi AS DECIMAL(18,6))) AS w FROM (
        |    SELECT list_dot_product(x.v, v2.vv) AS dt,
        |      unnest(generate_series(1, len(x.v))) AS pos, unnest(x.v) AS xi
        |    FROM x, v2) GROUP BY pos
        |),
        |v3 AS (
        |  SELECT list_transform(l, t -> t / sqrt(list_dot_product(l, l))) AS vv FROM (
        |    SELECT list(CAST(w AS DOUBLE) ORDER BY pos) AS l FROM w3)
        |),
        |vr AS (SELECT list_transform(vv, t -> round(t, 6)) AS vv FROM v3)
        |SELECT x.vec_id,
        |  round(list_dot_product(x.v, vr.vv), 6) AS projection,
        |  round(CASE WHEN list_dot_product(x.v, x.v) > 0
        |    THEN list_dot_product(x.v, vr.vv) * list_dot_product(x.v, vr.vv)
        |      / list_dot_product(x.v, x.v) END, 6) AS energy_share
        |FROM x, vr ORDER BY x.vec_id""".stripMargin),
    Query("q_class_balance", (s, dir) =>
      Similarity.classBalance(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH c AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
        |t AS (SELECT sum(n_vecs) AS t FROM c),
        |g AS (
        |  SELECT min(t.t) AS n_total,
        |    round(CAST(max(n_vecs) AS DOUBLE) / CAST(min(n_vecs) AS DOUBLE), 6) AS imbalance_ratio,
        |    round(exp(-sum((CAST(n_vecs AS DOUBLE) / CAST(t.t AS DOUBLE))
        |      * ln(CAST(n_vecs AS DOUBLE) / CAST(t.t AS DOUBLE)))), 6) AS effective_classes
        |  FROM c, t
        |)
        |SELECT label, n_vecs,
        |  round(CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
        |  imbalance_ratio, effective_classes
        |FROM c, g ORDER BY label""".stripMargin),
    Query("q_matryoshka", (s, dir) =>
      Similarity.matryoshkaAudit(Tables.embeddings(s, dir)).orderBy("label"),
      // prefix/full dots are index-order folds; shares quantize once
      // to DECIMAL(18,6) so per-label sums are exact; means 6dp
      """WITH b AS (
        |  SELECT label,
        |    list_dot_product(list_transform(embedding, x -> x::DOUBLE),
        |                     list_transform(embedding, x -> x::DOUBLE)) AS f,
        |    list_dot_product(list_transform(embedding[1:8], x -> x::DOUBLE),
        |                     list_transform(embedding[1:8], x -> x::DOUBLE)) AS p8,
        |    list_dot_product(list_transform(embedding[1:16], x -> x::DOUBLE),
        |                     list_transform(embedding[1:16], x -> x::DOUBLE)) AS p16,
        |    list_dot_product(list_transform(embedding[1:32], x -> x::DOUBLE),
        |                     list_transform(embedding[1:32], x -> x::DOUBLE)) AS p32
        |  FROM embeddings
        |), q AS (
        |  SELECT label, CASE WHEN f = 0 THEN 1 ELSE 0 END AS is_zero,
        |    CASE WHEN f != 0 THEN CAST(p8  / f AS DECIMAL(18,6)) END AS q8,
        |    CASE WHEN f != 0 THEN CAST(p16 / f AS DECIMAL(18,6)) END AS q16,
        |    CASE WHEN f != 0 THEN CAST(p32 / f AS DECIMAL(18,6)) END AS q32
        |  FROM b
        |)
        |SELECT label, count(*) AS n_vecs, CAST(sum(is_zero) AS BIGINT) AS n_zero,
        |  round(CAST(sum(q8)  AS DOUBLE) / CAST(count(q8)  AS DOUBLE), 6) AS mean_nf_8,
        |  round(CAST(sum(q16) AS DOUBLE) / CAST(count(q16) AS DOUBLE), 6) AS mean_nf_16,
        |  round(CAST(sum(q32) AS DOUBLE) / CAST(count(q32) AS DOUBLE), 6) AS mean_nf_32
        |FROM q GROUP BY label ORDER BY label""".stripMargin)
  )

  /** [[graft.queries.Preludes.seedCents]], then `d` and `assigned`: each
    * vector's nearest seed centroid, ties to the lowest cell. */
  private def seedCells(margin: String): String = margined(margin, SeedCents ++ Seq(
    "), d AS (",
    "  SELECT e.vec_id, e.v, cents.cell,",
    "    list_dot_product(",
    "      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i]),",
    "      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i])) AS d2",
    "  FROM e CROSS JOIN cents",
    "), assigned AS (",
    "  SELECT vec_id, v, cell,",
    "    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn",
    "  FROM d QUALIFY rn = 1"))

  /** `e` vectors as DOUBLE lists, then `n`: each with its L2 norm `nn`. */
  private def normed(margin: String): String = margined(margin, Seq(
    "WITH e AS (",
    "  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings",
    "), n AS (",
    "  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e"))

  /** The body of a CTE of directed same-cell cosine pairs over `n`
    * (zero-norm vectors dropped). */
  private def cellPairs(margin: String): String = margined(margin, Seq(
    "  SELECT a.vec_id AS src, b.vec_id AS dst,",
    "    list_dot_product(a.v, b.v) / (a.nn * b.nn) AS cos",
    "  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id != b.vec_id",
    "  WHERE a.nn * b.nn != 0"))

  /** The celled-quantizer oracle prelude, emitted ONCE and
    * interpolated into every graph-family oracle so the nlist/
    * ncoarse/fpc formulas and both argmin tie-breaks cannot
    * desynchronize between copies — they MUST mirror
    * [[graft.operators.Similarity.knnAssignCells]] (TWO-LEVEL:
    * coarse argmin over the first ncoarse = ceil(√nlist) vectors by
    * vec_id, then fine argmin over that coarse cell's first
    * fpc_c = ceil(nlist·|cell|/n) members — PROPORTIONAL fine
    * allocation; cell = ccell·(nlist+1) + fidx;
    * both levels tie to the lowest id, matching the codegen'd
    * IvfAssign/IvfAssignNested strict-< scans) exactly, and a celled
    * oracle with a drifted copy would cost a gate round. `margin`
    * matches the enclosing stripMargin literal; `cols` threads extra
    * per-vector columns (label for the classify oracle) through the
    * assignment CTEs.
    * CTEs are MATERIALIZED: DuckDB re-inlines referenced CTEs, and
    * inside iterative oracles the assignment cross-join explodes
    * combinatorially without it.
    */
  private def celledCtes(margin: String, cols: Seq[String] = Nil): String = {
    val ecols = cols.map(c => s"e.$c, ").mkString
    val vcols = cols.map(c => s"vc.$c, ").mkString
    val bcols = cols.map(c => s"$c, ").mkString
    margined(margin, Seq(
      "), nl AS (",
      "  SELECT nlist, ntot,",
      "    CAST(ceil(sqrt(CAST(nlist AS DOUBLE))) AS BIGINT) AS ncoarse",
      "  FROM (SELECT CASE WHEN count(*) <= 512 THEN 1",
      "    ELSE greatest(16, (count(*) + 255) // 256) END AS nlist,",
      "    count(*) AS ntot FROM e)",
      "), coarse AS (",
      "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ccell, v AS cc",
      "  FROM e QUALIFY ccell < (SELECT ncoarse FROM nl)",
      "), cd AS MATERIALIZED (",
      s"  SELECT e.vec_id, ${ecols}e.v, coarse.ccell,",
      "    list_dot_product(",
      "      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - coarse.cc[i]),",
      "      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - coarse.cc[i])) AS d2",
      "  FROM e CROSS JOIN coarse",
      "), vc AS MATERIALIZED (",
      s"  SELECT vec_id, ${bcols}v, ccell,",
      "    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, ccell ASC) AS rn",
      "  FROM cd QUALIFY rn = 1",
      "), fcents AS MATERIALIZED (",
      "  SELECT ccell, row_number() OVER (PARTITION BY ccell ORDER BY vec_id) - 1 AS fidx,",
      "    count(*) OVER (PARTITION BY ccell) AS ccnt, v AS fc",
      "  FROM vc QUALIFY fidx < ((SELECT nlist FROM nl) * ccnt + (SELECT ntot FROM nl) - 1)",
      "    // (SELECT ntot FROM nl)",
      "), fd AS MATERIALIZED (",
      s"  SELECT vc.vec_id, ${vcols}vc.v, vc.ccell, f.fidx,",
      "    list_dot_product(",
      "      list_transform(generate_series(1, len(vc.v)), i -> vc.v[i] - f.fc[i]),",
      "      list_transform(generate_series(1, len(vc.v)), i -> vc.v[i] - f.fc[i])) AS d2",
      "  FROM vc JOIN fcents f ON vc.ccell = f.ccell",
      "), acell AS MATERIALIZED (",
      s"  SELECT vec_id, ${bcols}v, ccell * ((SELECT nlist FROM nl) + 1) + fidx AS cell,",
      "    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, fidx ASC) AS rn",
      "  FROM fd QUALIFY rn = 1",
      "), n AS MATERIALIZED (",
      s"  SELECT vec_id, ${bcols}cell, v, sqrt(list_dot_product(v, v)) AS nn FROM acell",
      ")"))
  }
}
