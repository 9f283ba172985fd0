package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.margined

/** The declared queries of near-duplicate detection and corpus
  * deduplication: those whose closures call
  * [[graft.operators.Dedup]]. Each record keeps its closure beside
  * the DuckDB oracle that must reproduce its rows.
  */
object DedupQueries {

  // big-star emits the identical (doc_id, cluster_id) contract as
  // min-label propagation — one oracle, two implementations checked
  private val clustersOracle: String =
    s"""WITH RECURSIVE sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), edges AS (
        |  SELECT da AS a, db AS b FROM cand UNION SELECT db, da FROM cand
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b != r.a
        |)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q_dedup_sim_histogram", (s, dir) =>
      Dedup.dedupSimHistogram(Tables.documents(s, dir)).orderBy("bucket"),
      s"""WITH sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT c.da, c.db, count(*) AS i
        |  FROM cand c JOIN sh a ON a.doc_id = c.da JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |  GROUP BY c.da, c.db
        |), scored AS (
        |  SELECT c.da, c.db, coalesce(inter.i, 0) AS i, x.n AS na, y.n AS nb
        |  FROM cand c
        |  LEFT JOIN inter ON inter.da = c.da AND inter.db = c.db
        |  JOIN sz x ON c.da = x.doc_id JOIN sz y ON c.db = y.doc_id
        |), hst AS (
        |  SELECT (10 * i) // (na + nb - i) AS bucket, count(*) AS n_pairs
        |  FROM scored GROUP BY 1
        |), t AS (SELECT sum(n_pairs) AS tt FROM hst)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(n_pairs AS DOUBLE) / CAST(tt AS DOUBLE) AS share
        |FROM hst, t
        |ORDER BY bucket""".stripMargin),
    Query("q_dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("fp"),
      """SELECT md5(lower(text)) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(lower(text)) ORDER BY fp""".stripMargin),
    Query("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), 3, 0.8).orderBy("da", "db"),
      s"""WITH sh AS (
        ${shingles("        ")}
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT da, db, i::DOUBLE / (x.n + y.n - i) AS jaccard
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE i::DOUBLE / (x.n + y.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin),
    // the corpus-scale default for Jaccard dedup: LSH-banded
    // candidates + exact verification (deterministic — minhash is
    // md5-derived, so the oracle mirrors candidates AND scores)
    Query("q_ngram_jaccard_banded", (s, dir) =>
      Dedup.ngramJaccardPairsBanded(Tables.documents(s, dir), 3, 0.8).orderBy("da", "db"),
      // candidates CTE mirrors q_minhash_lsh (the fast signature
      // expression is spec'd bit-identical to this composed plan),
      // verification mirrors q_ngram_jaccard's exact intersection —
      // banding is md5-deterministic, so the whole banded result
      // hash-matches, pairs and scores both
      s"""WITH sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.da, c.db, count(*) AS i
        |  FROM cand c JOIN sh a ON a.doc_id = c.da JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        |  GROUP BY c.da, c.db
        |)
        |SELECT da, db, i::DOUBLE / (x.n + y.n - i) AS jaccard
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE i::DOUBLE / (x.n + y.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin),
    Query("q_minhash_lsh", (s, dir) =>
      Dedup.minhashLshCandidatesFast(Tables.documents(s, dir)).orderBy("da", "db"),
      s"""WITH sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandSigs("        ")}
        |)
        |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |ORDER BY da, db""".stripMargin),
    Query("q_simhash", (s, dir) =>
      Dedup.simhashFast(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |), h AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
        |  GROUP BY doc_id, b
        |)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q_curation_pipeline", (s, dir) =>
      Dedup.curationPipeline(Tables.documents(s, dir), 100, 20).orderBy("chunk_fp"),
      """WITH cleaned AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text
        |  FROM documents
        |), chunks AS (
        |  SELECT doc_id, off // 80 AS chunk_id, substr(text, CAST(off AS INT) + 1, 100) AS chunk
        |  FROM (SELECT doc_id, text, unnest(generate_series(0, len(text) - 1, 80)) AS off FROM cleaned)
        |)
        |SELECT md5(chunk) AS chunk_fp,
        |  min(doc_id * 1000 + chunk_id) // 1000 AS canonical_doc,
        |  min(doc_id * 1000 + chunk_id) % 1000 AS canonical_chunk,
        |  count(*) AS n_copies
        |FROM chunks GROUP BY md5(chunk) ORDER BY chunk_fp""".stripMargin),
    Query("q_simhash_neardup", (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), 4).orderBy("da", "db"),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |), h AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
        |), bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
        |  GROUP BY doc_id, b
        |), sh2 AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
        |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
        |ORDER BY da, db""".stripMargin),
    Query("q_simhash_wide", (s, dir) =>
      Dedup.simhashWide(Tables.documents(s, dir)).orderBy("doc_id"),
      // both 60-bit lanes from one md5: lane 0 = hex chars 1-15 (the
      // 60-bit simhash exactly), lane 1 = chars 16-30
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(t), 16, 15) AS BIGINT) AS h2
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
        |    sum(CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s2
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
        |  GROUP BY doc_id, b
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s1 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh_lo,
        |  CAST(sum(CASE WHEN s2 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh_hi
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q_simhash_wide_neardup", (s, dir) =>
      Dedup.simhashNearDupPairsWide(Tables.documents(s, dir)).orderBy("da", "db"),
      // the banded join is an exact candidate generator (pigeonhole),
      // so the oracle is the quadratic sweep over the same signature
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(t), 16, 15) AS BIGINT) AS h2
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
        |    sum(CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s2
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
        |  GROUP BY doc_id, b
        |), sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s1 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh_lo,
        |    CAST(sum(CASE WHEN s2 > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh_hi
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS dist
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 4
        |ORDER BY da, db""".stripMargin),
    Query("q_dedup_clusters", (s, dir) =>
      Dedup.clusters(Dedup.minhashLshCandidatesFast(Tables.documents(s, dir)))
        .orderBy("doc_id"), clustersOracle),
    // the adversarial-diameter fallback on the driver gate: identical
    // output contract to clusters(), same recursive-CTE oracle
    Query("q_dedup_clusters_bigstar", (s, dir) =>
      Dedup.clustersBigStar(Dedup.minhashLshCandidatesFast(Tables.documents(s, dir)))
        .orderBy("doc_id"), clustersOracle),
    Query("q_repeated_spans", (s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir)).orderBy("span_fp"),
      """WITH sp AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 0)),
        |      i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))) AS span
        |  FROM documents
        |)
        |SELECT md5(span) AS span_fp, min(span) AS span,
        |  count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM sp GROUP BY md5(span) HAVING count(*) >= 2
        |ORDER BY span_fp""".stripMargin),
    // span REMOVAL with doc reconstruction: tokens under corpus-
    // repeated spans struck everywhere but the first holder
    Query("q_strip_spans", (s, dir) =>
      Dedup.stripRepeatedSpans(Tables.documents(s, dir)).orderBy("doc_id"),
      // positions are 1-based here vs 0-based in Spark, but the KEPT
      // TOKEN SET is identical — only text/counters are emitted
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
        |), g AS (
        |  SELECT doc_id, i, md5(array_to_string(ts[i:i+2], ' ')) AS span_fp
        |  FROM t, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS u(i)
        |), reg AS (
        |  SELECT span_fp, min(doc_id) AS first_doc
        |  FROM g GROUP BY span_fp HAVING count(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT g.doc_id, list(DISTINCT g.i) AS starts
        |  FROM g JOIN reg USING (span_fp)
        |  WHERE g.doc_id != reg.first_doc
        |  GROUP BY g.doc_id
        |), kept AS (
        |  SELECT t.doc_id, t.ts,
        |    list_filter(generate_series(1, len(t.ts)),
        |      k -> len(list_filter(coalesce(c.starts, CAST([] AS BIGINT[])),
        |             s -> s <= k AND k <= s + 2)) = 0) AS ks
        |  FROM t LEFT JOIN cov c USING (doc_id)
        |)
        |SELECT doc_id,
        |  -- array_to_string of an EMPTY list is NULL in DuckDB;
        |  -- Spark's array_join gives '' — a fully-stripped doc must
        |  -- compare equal
        |  coalesce(array_to_string(list_transform(ks, k -> ts[k]), ' '), '') AS clean_text,
        |  CAST(len(ts) AS BIGINT) AS n_toks,
        |  CAST(len(ts) - len(ks) AS BIGINT) AS n_removed
        |FROM kept ORDER BY doc_id""".stripMargin),
    Query("q_cdc_chunks", (s, dir) =>
      Dedup.cdcChunks(Tables.documents(s, dir)).orderBy("source"),
      // gear-hash CDC: the rolling cut state is an exact-integer
      // struct fold (seeded from the first char — list_reduce has no
      // init), mirrored element-for-element
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    list_transform(generate_series(1, length(text)), i -> unicode(text[i])) AS codes
        |  FROM documents
        |), el AS (
        |  -- state rides a FLAT BIGINT list [h, pos, last, cut...]:
        |  -- DuckDB 1.0's list_reduce evaluates struct-field lambdas
        |  -- inconsistently (minimal repro: conditional list_append
        |  -- in one field sees a different iteration's state)
        |  SELECT doc_id, source, text,
        |    list_transform(codes, c -> [(CAST(c AS BIGINT) * 2654435761) % 4294967296, 1, 0]) AS els
        |  FROM d
        |), f AS (
        |  SELECT doc_id, source, text,
        |    list_reduce(els, (a, x) ->
        |      CASE WHEN (a[2] + 1 - a[3] >= 16) AND ((a[1]*2 + x[1]) % 4294967296) % 64 = 0
        |           THEN list_concat([0, a[2] + 1, a[2] + 1], list_concat(a[4:], [a[2] + 1]))
        |           ELSE list_concat([(a[1]*2 + x[1]) % 4294967296, a[2] + 1, a[3]], a[4:]) END) AS st
        |  FROM el
        |), bb AS (
        |  SELECT doc_id, source, text,
        |    list_prepend(0, st[4:]) AS starts,
        |    list_append(st[4:], CAST(length(text) AS BIGINT)) AS ends
        |  FROM f
        |), ch0 AS (
        |  SELECT doc_id, source, text,
        |    unnest(list_transform(generate_series(1, len(starts)),
        |      i -> {'s': starts[i], 'e': ends[i]})) AS se
        |  FROM bb
        |), ch AS (
        |  SELECT doc_id, source, CAST(se.e - se.s AS BIGINT) AS chunk_len,
        |    md5(substr(text, se.s + 1, se.e - se.s)) AS chunk_md5
        |  FROM ch0 WHERE se.e > se.s
        |)
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT chunk_md5) AS BIGINT) AS n_unique,
        |  CAST(count(*) - count(DISTINCT chunk_md5) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio,
        |  CAST(sum(chunk_len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chunk_len
        |FROM ch GROUP BY 1 ORDER BY source""".stripMargin),
    // asymmetric containment near-dup: subset/quote-inclusion pairs
    // Jaccard misses; stop-shingle df cap bounds the posting lists
    Query("q_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir)).orderBy("da", "db"),
      // integer overlap / min-size ratio — one IEEE division, exact on
      // both engines; sizes computed AFTER the df cap on both sides
      s"""WITH sh AS (
        ${shingles("        ")}
        |), f AS (
        |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 50
        |), k AS (
        |  SELECT sh.doc_id, sh.s FROM sh JOIN f USING (s)
        |), sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM k GROUP BY doc_id
        |), p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS overlap
        |  FROM k a JOIN k b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT p.da, p.db, p.overlap, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  CAST(p.overlap AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
        |FROM p JOIN sz sa ON p.da = sa.doc_id JOIN sz sb ON p.db = sb.doc_id
        |WHERE CAST(p.overlap AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.5
        |ORDER BY da, db""".stripMargin),
    // character-level fuzzy near-dup: prefix blocking + Levenshtein
    // confirm — sees single-char edits the token shingles miss
    Query("q_edit_neardup", (s, dir) =>
      Dedup.editNearDup(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      """WITH pre AS (
        |  SELECT doc_id, substring(text, 1, 32) AS blk, substring(text, 1, 200) AS head
        |  FROM documents
        |), ok AS (
        |  SELECT blk FROM pre GROUP BY blk HAVING count(*) <= 256
        |), p AS (
        |  SELECT pre.* FROM pre JOIN ok USING (blk)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(a.head, b.head) AS dist,
        |  greatest(length(a.head), length(b.head)) AS max_len
        |FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) * 5 <= greatest(length(a.head), length(b.head)) * 1
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("q_corpus_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropNearDuplicates(docs, Dedup.minhashLshCandidatesFast(docs))
        .select(col("doc_id"), md5(col("text")).as("text_fp"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), edges AS (
        |  SELECT da AS a, db AS b FROM cand UNION SELECT db, da FROM cand
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b != r.a
        |), labels AS (
        |  SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
        |)
        |SELECT doc_id, md5(text) AS text_fp
        |FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM labels WHERE cluster_id != node)
        |ORDER BY doc_id""".stripMargin),
    Query("q_dedup_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.keepBest(docs, Dedup.minhashLshCandidatesFast(docs),
        TextAnalysis.qualityScore(docs)).orderBy("cluster_id")
    },
      s"""WITH RECURSIVE sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), edges AS (
        |  SELECT da AS a, db AS b FROM cand UNION SELECT db, da FROM cand
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b != r.a
        |), labels AS (
        |  SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
        |), q AS (
        |  SELECT doc_id,
        |    least(len(text)::DOUBLE / 500.0, 1.0) * 0.4
        |      + (len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','and','of','el','la','y','de','le','les','et','des','der','die','und','von','de5','shi4','le5','zai4')))::DOUBLE
        |         / len(string_split(lower(text), ' '))::DOUBLE) * 0.3
        |      + (len(list_filter(string_split(lower(text), ' '), x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
        |         / len(string_split(lower(text), ' '))::DOUBLE) * 0.3 AS quality
        |  FROM documents
        |), lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, q.quality
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node JOIN q USING (doc_id)
        |)
        |SELECT cluster_id, doc_id AS keep_id, quality
        |FROM lab
        |QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1
        |ORDER BY cluster_id""".stripMargin),
    // eval set = docs 0-4 (13-grams in production; 3 on the short
    // synthetic texts so overlap genuinely splits the corpus)
    Query("q_decontaminate", (s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir), Seq(0L, 1L, 2L, 3L, 4L), 3)
        .orderBy("doc_id"),
      s"""WITH sh AS (
        ${shingles("        ")}
        |), ev AS (SELECT DISTINCT s FROM sh WHERE doc_id IN (0, 1, 2, 3, 4)
        |), hits AS (
        |  SELECT doc_id, count(*) AS n_overlap FROM sh JOIN ev USING (s)
        |  WHERE doc_id NOT IN (0, 1, 2, 3, 4) GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id NOT IN (0, 1, 2, 3, 4)
        |ORDER BY doc_id""".stripMargin),
    // sketch-path decontamination: exact overlap hash-matched, the
    // Bloom no-false-negative invariant as an oracle-asserted
    // literal-TRUE flag (checked-twin pattern)
    Query("q_bloom_decontaminate", (s, dir) =>
      Dedup.bloomDecontaminate(Tables.documents(s, dir), Seq("src0", "src1"))
        .orderBy("doc_id"),
      s"""WITH sh AS (
        ${shingles("        ")}
        |), src AS (SELECT doc_id, source FROM documents
        |), known AS (
        |  SELECT DISTINCT s FROM sh JOIN src USING (doc_id) WHERE source IN ('src0', 'src1')
        |), hits AS (
        |  SELECT sh.doc_id, count(*) AS n_overlap
        |  FROM sh JOIN src USING (doc_id) JOIN known USING (s)
        |  WHERE source NOT IN ('src0', 'src1') GROUP BY sh.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated,
        |  1 AS bloom_consistent
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.source NOT IN ('src0', 'src1')
        |ORDER BY doc_id""".stripMargin),
    Query("q_cluster_sizes", (s, dir) =>
      Dedup.clusterSizeProfile(Tables.documents(s, dir),
        Dedup.minhashLshCandidatesFast(Tables.documents(s, dir)))
        .orderBy("cluster_size"),
      // the q_dedup_clusters closure extended to the full corpus
      // (unpaired docs are singletons), then a size histogram
      s"""WITH RECURSIVE sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        ${bandCandidates("        ")}
        |), edges AS (
        |  SELECT da AS a, db AS b FROM cand UNION SELECT db, da FROM cand
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b != r.a
        |), comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
        |), full_l AS (
        |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |), sz AS (
        |  SELECT cid, count(*) AS sz FROM full_l GROUP BY cid
        |), tot AS (SELECT sum(sz) AS n_docs_total FROM sz)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  sz * count(*) AS n_docs,
        |  CAST(sz * count(*) AS DOUBLE) / CAST((SELECT n_docs_total FROM tot) AS DOUBLE) AS corpus_share
        |FROM sz GROUP BY sz ORDER BY cluster_size""".stripMargin),
    Query("q_jaccard_estimate", (s, dir) =>
      Dedup.jaccardEstimatePairs(Tables.documents(s, dir)).orderBy("da", "db"),
      // the minhash-signature CTE chain of q_dedup_clusters, joined
      // back to the exact shingle sets: estimate, exact jaccard, and
      // the absolute error are all unrounded single IEEE chains over
      // exact integers — bit-identical, no rounding needed
      s"""WITH sh AS (
        ${shingles("        ")}
        ${minhash("        ")}
        |), wide AS (
        |  SELECT doc_id, list(m ORDER BY j) AS mhl FROM mh GROUP BY doc_id
        ${bandCandidates("        ")}
        |), sets AS (
        |  SELECT doc_id, list(s ORDER BY s) AS arr, count(*) AS n_sh FROM sh GROUP BY doc_id
        |), f AS (
        |  SELECT cand.da, cand.db,
        |    (CASE WHEN wa.mhl[1] = wb.mhl[1] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[2] = wb.mhl[2] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[3] = wb.mhl[3] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[4] = wb.mhl[4] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[5] = wb.mhl[5] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[6] = wb.mhl[6] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[7] = wb.mhl[7] THEN 1 ELSE 0 END +
        |     CASE WHEN wa.mhl[8] = wb.mhl[8] THEN 1 ELSE 0 END) AS match_lanes,
        |    len(list_intersect(sa.arr, sb.arr)) AS inter, sa.n_sh AS na, sb.n_sh AS nb
        |  FROM cand
        |  JOIN wide wa ON wa.doc_id = cand.da
        |  JOIN wide wb ON wb.doc_id = cand.db
        |  JOIN sets sa ON sa.doc_id = cand.da
        |  JOIN sets sb ON sb.doc_id = cand.db
        |)
        |SELECT da, db, CAST(match_lanes AS BIGINT) AS match_lanes,
        |  CAST(match_lanes AS DOUBLE) / 8 AS est,
        |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard,
        |  abs(CAST(match_lanes AS DOUBLE) / 8 - CAST(inter AS DOUBLE) / (na + nb - inter)) AS abs_err
        |FROM f ORDER BY da, db""".stripMargin),
    // registry = docs 0-249, batch = the rest: the bloom shortcut +
    // exact confirm join must leave is_new EXACT (hash-matched)
    Query("q_incremental_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
        .orderBy("doc_id")
    },
      """WITH reg AS (
        |  SELECT DISTINCT md5(lower(text)) AS fp FROM documents WHERE doc_id < 250
        |), b AS (
        |  SELECT doc_id, md5(lower(text)) AS fp FROM documents WHERE doc_id >= 250
        |)
        |SELECT b.doc_id, b.fp, CASE WHEN reg.fp IS NULL THEN 1 ELSE 0 END AS is_new
        |FROM b LEFT JOIN reg ON b.fp = reg.fp
        |ORDER BY doc_id""".stripMargin),
    Query("q_source_overlap", (s, dir) =>
      Dedup.sourceOverlap(Tables.documents(s, dir)).orderBy("sa", "sb"),
      s"""WITH sh AS (
        ${shingles("        ")}
        |), ss AS (
        |  SELECT DISTINCT d.source, sh.s FROM sh JOIN documents d USING (doc_id)
        |), sz AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1)
        |SELECT a.source AS sa, b.source AS sb,
        |  za.n_sh AS n_a, zb.n_sh AS n_b, count(*) AS inter,
        |  CAST(count(*) AS DOUBLE) / CAST(za.n_sh + zb.n_sh - count(*) AS DOUBLE) AS jaccard,
        |  CAST(count(*) AS DOUBLE) / CAST(least(za.n_sh, zb.n_sh) AS DOUBLE) AS containment
        |FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        |JOIN sz za ON za.source = a.source
        |JOIN sz zb ON zb.source = b.source
        |GROUP BY a.source, b.source, za.n_sh, zb.n_sh
        |ORDER BY sa, sb""".stripMargin),
    Query("q_dup_rate_by_source", (s, dir) =>
      Dedup.dupRateBySource(Tables.documents(s, dir)).orderBy("source"),
      """WITH fps AS (
        |  SELECT doc_id, source, md5(lower(text)) AS fp FROM documents
        |), spread AS (
        |  SELECT fp, count(*) AS n_sources FROM (SELECT DISTINCT fp, source FROM fps)
        |  GROUP BY 1
        |)
        |SELECT source, count(*) AS n_docs,
        |  count(DISTINCT f.fp) AS n_unique,
        |  count(*) - count(DISTINCT f.fp) AS n_dup_within,
        |  CAST(sum(CASE WHEN s.n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_cross,
        |  round(CAST(count(*) - count(DISTINCT f.fp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS dup_rate
        |FROM fps f JOIN spread s ON f.fp = s.fp
        |GROUP BY source ORDER BY source""".stripMargin)
  )

  /** The body of the `sh` CTE: each document's distinct word trigrams `s`. */
  private def shingles(margin: String): String = margined(margin, Seq(
    "  SELECT DISTINCT doc_id,",
    "    unnest(list_transform(generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 0)),",
    "      i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))) AS s",
    "  FROM documents"))

  /** `hs` and `mh`: eight md5-seeded minhash values per document over `sh`. */
  private def minhash(margin: String): String = margined(margin, Seq(
    "), hs AS (",
    "  SELECT doc_id,",
    "    CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h1,",
    "    CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h2",
    "  FROM sh",
    "), mh AS (",
    "  SELECT doc_id, j, min((h1 + j * h2) % 4294967296) AS m",
    "  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js",
    "  GROUP BY doc_id, j"))

  /** `sig`: four two-row LSH band signatures per document over `mh`. */
  private def bandSigsLines: Seq[String] = Seq(
    "), sig AS (",
    "  SELECT doc_id, j // 2 AS band,",
    "    concat(min(CASE WHEN j % 2 = 0 THEN m END), ':', min(CASE WHEN j % 2 = 1 THEN m END)) AS sig",
    "  FROM mh GROUP BY doc_id, j // 2")

  private def bandSigs(margin: String): String = margined(margin, bandSigsLines)

  /** [[bandSigs]], then `cand`: the document pairs sharing a band. */
  private def bandCandidates(margin: String): String = margined(margin, bandSigsLines ++ Seq(
    "), cand AS (",
    "  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db",
    "  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"))
}
