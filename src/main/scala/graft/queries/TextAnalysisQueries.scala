package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import Preludes.margined

/** The declared queries of text statistics, tokenization and lexical
  * retrieval: those whose closures call
  * [[graft.operators.TextAnalysis]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object TextAnalysisQueries {

  val all: Seq[Query] = Seq(
    Query("q_code_detect", (s, dir) =>
      TextAnalysis.codeDetect(Tables.documents(s, dir)).orderBy("source"),
      """WITH f AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[{}\[\]();=<>#]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_dig
        |  FROM documents
        |), g AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(CASE WHEN n_sym * 20 > n_chars THEN 1 ELSE 0 END) AS n_code_like,
        |    sum(n_sym) AS sym_chars, sum(n_dig) AS digit_chars, sum(n_chars) AS total_chars
        |  FROM f GROUP BY 1
        |)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_code_like AS BIGINT) AS n_code_like,
        |  CAST(sym_chars AS BIGINT) AS sym_chars,
        |  CAST(digit_chars AS BIGINT) AS digit_chars,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST(n_code_like AS DOUBLE) / CAST(n_docs AS DOUBLE) AS code_share
        |FROM g
        |ORDER BY source""".stripMargin),
    Query("q_lang_confusion", (s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir))
        .orderBy("lang", "lang_pred"),
      s"""WITH h AS (
        |  SELECT doc_id,
        ${langHits("        ")}
        |), p AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
        |      WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
        |      WHEN hits_fr >= hits_de AND hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
        |      WHEN hits_de >= hits_zh AND hits_de > 0 THEN 'de'
        |      WHEN hits_zh > 0 THEN 'zh'
        |      ELSE 'und'
        |    END AS lang_pred
        |  FROM h
        |), m AS (
        |  SELECT d.lang, p.lang_pred, count(*) AS n_docs
        |  FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2
        |), rt AS (SELECT lang, sum(n_docs) AS t FROM m GROUP BY 1)
        |SELECT m.lang, m.lang_pred, CAST(m.n_docs AS BIGINT) AS n_docs,
        |  m.lang = m.lang_pred AS correct,
        |  CAST(m.n_docs AS DOUBLE) / CAST(rt.t AS DOUBLE) AS share_of_lang
        |FROM m JOIN rt ON rt.lang = m.lang
        |ORDER BY 1, 2""".stripMargin),
    Query("q_template_prefixes", (s, dir) =>
      TextAnalysis.templatePrefixes(Tables.documents(s, dir), 2).orderBy("source", "rnk"),
      """WITH toks AS (
        |  SELECT source, string_split(lower(text), ' ') AS tk FROM documents
        |), pf AS (
        |  SELECT source, array_to_string(tk[1:2], ' ') AS prefix FROM toks WHERE len(tk) >= 2
        |), c AS (
        |  SELECT source, prefix, count(*) AS n_docs FROM pf GROUP BY 1, 2 HAVING count(*) >= 2
        |), t AS (SELECT source, count(*) AS src_docs FROM documents GROUP BY 1
        |), r AS (
        |  SELECT source, prefix, n_docs,
        |    row_number() OVER (PARTITION BY source ORDER BY n_docs DESC, prefix ASC) AS rnk
        |  FROM c
        |)
        |SELECT r.source, CAST(r.rnk AS BIGINT) AS rnk, r.prefix, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.n_docs AS DOUBLE) / CAST(t.src_docs AS DOUBLE) AS share_of_source
        |FROM r JOIN t ON t.source = r.source
        |WHERE r.rnk <= 5
        |ORDER BY r.source, rnk""".stripMargin),
    Query("q_lang_mix", (s, dir) =>
      TextAnalysis.langMix(Tables.documents(s, dir)).orderBy("source", "lang_pred"),
      s"""WITH h AS (
        |  SELECT doc_id, source,
        ${langHits("        ")}
        |), p AS (
        |  SELECT doc_id, source,
        |    CASE
        |      WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
        |      WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
        |      WHEN hits_fr >= hits_de AND hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
        |      WHEN hits_de >= hits_zh AND hits_de > 0 THEN 'de'
        |      WHEN hits_zh > 0 THEN 'zh'
        |      ELSE 'und'
        |    END AS lang_pred
        |  FROM h
        |), m AS (
        |  SELECT source, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2
        |), rt AS (SELECT source, sum(n_docs) AS t FROM m GROUP BY 1)
        |SELECT m.source, m.lang_pred, CAST(m.n_docs AS BIGINT) AS n_docs,
        |  CAST(m.n_docs AS DOUBLE) / CAST(rt.t AS DOUBLE) AS share_of_source
        |FROM m JOIN rt ON rt.source = m.source
        |ORDER BY 1, 2""".stripMargin),
    Query("q_doc_novelty", (s, dir) =>
      TextAnalysis.docNovelty(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |), dfx AS (SELECT t, count(*) AS df FROM toks GROUP BY t
        |), nd AS (SELECT count(*) AS n_docs FROM documents
        |), x AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1000000) AS BIGINT) AS midf
        |  FROM toks JOIN dfx USING (t) CROSS JOIN nd
        |)
        |SELECT doc_id, count(*) AS n_terms,
        |  CAST(sum(midf) AS DOUBLE) / count(*) / 1000000.0 AS novelty
        |FROM x GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),
    Query("q_sentiment", (s, dir) =>
      TextAnalysis.sentiment(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('fast','big','gain','good','up')))::DOUBLE AS p,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('slow','small','error','bad','down')))::DOUBLE AS n
        |  FROM documents
        |)
        |SELECT doc_id, CASE WHEN p + n > 0 THEN (p - n) / (p + n) ELSE 0.0 END AS polarity
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("q_token_count", (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS re_tokens,
        |  len(text) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_lang_id", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""WITH h AS (
        |  SELECT doc_id,
        ${langHits("        ")}
        |)
        |SELECT doc_id,
        |  CASE
        |    WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
        |    WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
        |    WHEN hits_fr >= hits_de AND hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
        |    WHEN hits_de >= hits_zh AND hits_de > 0 THEN 'de'
        |    WHEN hits_zh > 0 THEN 'zh'
        |    ELSE 'und'
        |  END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin),
    Query("q_quality_score", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  least(len(text)::DOUBLE / 500.0, 1.0) * 0.4
        |    + (len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','and','of','el','la','y','de','le','les','et','des','der','die','und','von','de5','shi4','le5','zai4')))::DOUBLE
        |       / len(string_split(lower(text), ' '))::DOUBLE) * 0.3
        |    + (len(list_filter(string_split(lower(text), ' '), x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
        |       / len(string_split(lower(text), ' '))::DOUBLE) * 0.3 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, md5(lower(text)) AS fp, substr(md5(lower(text)), 1, 8) AS fp_short
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_chunk_documents", (s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), 100, 20).orderBy("doc_id", "chunk_id"),
      """SELECT doc_id, off // 80 AS chunk_id, substr(text, CAST(off AS INT) + 1, 100) AS chunk
        |FROM (
        |  SELECT doc_id, text, unnest(generate_series(0, len(text) - 1, 80)) AS off
        |  FROM documents
        |)
        |ORDER BY doc_id, chunk_id""".stripMargin),
    Query("q_tfidf_topterms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), 5).orderBy("doc_id", "rnk"),
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |  GROUP BY doc_id, t
        |), dfx AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, t AS term, round(tf * ln(n_docs / df), 6) AS tfidf,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(tf * ln(n_docs / df), 6) DESC, t ASC) AS rnk
        |FROM tf JOIN dfx USING (t) CROSS JOIN n
        |QUALIFY rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin),
    // unigram cross-entropy (CCNet-style perplexity filter); cutoff
    // 3.402 ~ the fixture median, so the keep flag is non-trivial
    Query("q_perplexity", (s, dir) =>
      TextAnalysis.perplexityScore(Tables.documents(s, dir), 3.402).orderBy("doc_id"),
      // terms fold in TOKEN order on both sides (list(... ORDER BY
      // tok) + list_reduce here, sort_array + aggregate in Spark), so
      // the float accumulation order is a function of the document
      // alone and the score hash-matches
      """WITH dt AS (
        |  SELECT doc_id, tok, count(*) AS occ
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok
        |), c AS (
        |  SELECT tok, CAST(sum(occ) AS BIGINT) AS cnt FROM dt GROUP BY tok
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c
        |), terms AS (
        |  SELECT dt.doc_id, dt.tok, dt.occ,
        |    -CAST(dt.occ AS DOUBLE) * ln(CAST(c.cnt AS DOUBLE) / CAST(tot.n_total AS DOUBLE)) AS term
        |  FROM dt JOIN c USING (tok) CROSS JOIN tot
        |), x AS (
        |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tok,
        |    round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b) / CAST(sum(occ) AS DOUBLE), 6) AS xent
        |  FROM terms GROUP BY doc_id
        |)
        |SELECT doc_id, n_tok, xent, CAST(xent <= 3.402 AS INT) AS keep
        |FROM x ORDER BY doc_id""".stripMargin),
    // bigram cross-entropy (one Markov order up); cutoff 3.386 ~ the
    // fixture median, so the keep flag is non-trivial
    Query("q_bigram_perplexity", (s, dir) =>
      TextAnalysis.bigramPerplexityScore(Tables.documents(s, dir), 3.386).orderBy("doc_id"),
      // terms fold in BIGRAM order on both sides — same determinism
      // recipe as q_perplexity, one Markov order up; the context count
      // is the row sum of the bigram table on both engines
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), db AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
        |  FROM toks WHERE len(ts) >= 2
        |), dt AS (
        |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1, count(*) AS occ
        |  FROM db GROUP BY 1, 2, 3
        |), pair AS (
        |  SELECT bg, CAST(sum(occ) AS BIGINT) AS cnt_bg FROM dt GROUP BY bg
        |), ctx AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1
        |  FROM pair GROUP BY 1
        |), terms AS (
        |  SELECT dt.doc_id, dt.bg, dt.occ,
        |    -CAST(dt.occ AS DOUBLE) * ln(CAST(p.cnt_bg AS DOUBLE) / CAST(c.cnt_w1 AS DOUBLE)) AS term
        |  FROM dt JOIN pair p USING (bg) JOIN ctx c ON dt.w1 = c.w1
        |), x AS (
        |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bg,
        |    round(list_reduce(list(term ORDER BY bg), (a, b) -> a + b) / CAST(sum(occ) AS DOUBLE), 6) AS xent
        |  FROM terms GROUP BY doc_id
        |)
        |SELECT doc_id, n_bg, xent, CAST(xent <= 3.386 AS INT) AS keep
        |FROM x ORDER BY doc_id""".stripMargin),
    Query("q_repetition_score", (s, dir) =>
      TextAnalysis.repetitionScore(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |    list_transform(generate_series(1, greatest(len(string_split(lower(text), ' ')) - 1, 0)),
        |      i -> array_to_string(string_split(lower(text), ' ')[i:i+1], ' ')) AS bg
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN len(toks) > 0 THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE END AS dup_word_ratio,
        |  CASE WHEN len(bg) > 0 THEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)::DOUBLE END AS dup_bigram_ratio
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("q_quality_gate", (s, dir) =>
      TextAnalysis.qualityGate(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)::DOUBLE AS mean_word_len,
        |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE / len(toks)::DOUBLE AS alpha_frac,
        |    len(list_filter(toks, t -> t IN ('the','a','and','of','el','la','y','de','le','les','et','des','der','die','und','von','de5','shi4','le5','zai4'))) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_words, mean_word_len,
        |  alpha_frac, stop_hits,
        |  CAST(n_words BETWEEN 5 AND 100000 AND mean_word_len BETWEEN 2.0 AND 12.0
        |    AND alpha_frac >= 0.7 AND stop_hits >= 1 AS INT) AS keep
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q_top_bigrams", (s, dir) =>
      TextAnalysis.topBigrams(Tables.documents(s, dir), 20),
      """WITH bg AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(string_split(lower(text), ' ')) - 1, 0)),
        |    i -> array_to_string(string_split(lower(text), ' ')[i:i+1], ' '))) AS bigram
        |  FROM documents
        |)
        |SELECT bigram, count(*) AS n
        |FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram ASC
        |LIMIT 20""".stripMargin),
    Query("q_char_ngrams", (s, dir) =>
      TextAnalysis.charNgrams(Tables.documents(s, dir), 3, 20),
      """WITH d AS (
        |  SELECT lower(text) AS t FROM documents WHERE length(text) >= 3
        |), g AS (
        |  SELECT substring(t, CAST(u AS INT), 3) AS gram
        |  FROM (SELECT t, unnest(generate_series(1, length(t) - 2)) AS u FROM d)
        |)
        |SELECT gram, count(*) AS n_grams
        |FROM g GROUP BY gram
        |ORDER BY n_grams DESC, gram ASC
        |LIMIT 20""".stripMargin),
    Query("q_pmi_bigrams", (s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), 5, 20),
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
        |), uni AS (
        |  SELECT tok, count(*) AS cu FROM toks GROUP BY tok
        |), bg AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(string_split(lower(text), ' ')) - 1, 0)),
        |    i -> array_to_string(string_split(lower(text), ' ')[i:i+1], ' '))) AS bigram
        |  FROM documents
        |), bi AS (
        |  SELECT bigram, count(*) AS cxy FROM bg GROUP BY bigram
        |), nu AS (SELECT sum(cu) AS nu FROM uni),
        |nb AS (SELECT sum(cxy) AS nb FROM bi),
        |cand AS (
        |  SELECT b.bigram, b.cxy, ux.cu AS cx, uy.cu AS cy
        |  FROM bi b
        |  JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
        |  JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
        |  WHERE b.cxy >= 5
        |)
        |SELECT bigram, cxy AS n,
        |  round(ln(CAST(cxy AS DOUBLE)) + 2.0 * ln(CAST(nu AS DOUBLE))
        |    - ln(CAST(nb AS DOUBLE)) - ln(CAST(cx AS DOUBLE)) - ln(CAST(cy AS DOUBLE)), 6) AS pmi
        |FROM cand CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi DESC, bigram ASC
        |LIMIT 20""".stripMargin),
    Query("q_vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), 20),
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
        |), counts AS (
        |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        |), total AS (SELECT sum(cnt) AS total FROM counts),
        |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT 20)
        |SELECT CAST(row_number() OVER w AS BIGINT) AS rnk, tok, cnt,
        |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ASC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(total AS DOUBLE), 6) AS cum_share
        |FROM top CROSS JOIN total
        |WINDOW w AS (ORDER BY cnt DESC, tok ASC)
        |ORDER BY rnk""".stripMargin),
    Query("q_cluster_topterms", (s, dir) =>
      TextAnalysis.clusterTopTerms(Tables.documents(s, dir), 8, 16, 3)
        .orderBy("cell", "rnk"),
      """WITH e AS (
        |  SELECT doc_id, list_transform(generate_series(0, 15), i ->
        |    coalesce(list_sum(list_transform(string_split(lower(text), ' '),
        |      t -> CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 = i
        |           THEN 1.0 - 2 * (CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2) ELSE 0.0 END)), 0.0)) AS v
        |  FROM documents
        |), cents AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS cell, v AS c
        |  FROM e QUALIFY cell < 8
        |), d AS (
        |  SELECT e.doc_id, cents.cell,
        |    list_dot_product(
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i]),
        |      list_transform(generate_series(1, len(e.v)), i -> e.v[i] - cents.c[i])) AS d2
        |  FROM e CROSS JOIN cents
        |), assigned AS (
        |  SELECT doc_id, cell,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY d2 ASC, cell ASC) AS rn
        |  FROM d QUALIFY rn = 1
        |), ctoks AS (
        |  SELECT a.cell, unnest(string_split(lower(doc.text), ' ')) AS tok
        |  FROM assigned a JOIN documents doc ON doc.doc_id = a.doc_id
        |), counts AS (
        |  SELECT cell, tok, count(*) AS cnt FROM ctoks GROUP BY 1, 2
        |), dfc AS (
        |  SELECT tok, count(*) AS dfc FROM counts GROUP BY tok
        |), nc AS (SELECT count(DISTINCT cell) AS n_cells FROM assigned),
        |scored AS (
        |  SELECT c.cell, c.tok, c.cnt,
        |    round(c.cnt * ln(CAST(n_cells AS DOUBLE) / CAST(d.dfc AS DOUBLE)), 6) AS score
        |  FROM counts c JOIN dfc d USING (tok) CROSS JOIN nc
        |)
        |SELECT cell,
        |  CAST(row_number() OVER (PARTITION BY cell ORDER BY score DESC, tok ASC) AS BIGINT) AS rnk,
        |  tok, cnt, score
        |FROM scored
        |QUALIFY rnk <= 3
        |ORDER BY cell, rnk""".stripMargin),
    Query("q_corpus_stats", (s, dir) =>
      TextAnalysis.corpusStats(Tables.documents(s, dir)).orderBy("lang_pred"),
      s"""WITH h AS (
        |  SELECT doc_id, text,
        ${langHits("        ")}
        |), l AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
        |      WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
        |      WHEN hits_fr >= hits_de AND hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
        |      WHEN hits_de >= hits_zh AND hits_de > 0 THEN 'de'
        |      WHEN hits_zh > 0 THEN 'zh'
        |      ELSE 'und'
        |    END AS lang_pred,
        |    len(string_split(text, ' ')) AS n_toks,
        |    len(text) AS n_chars
        |  FROM h
        |)
        |SELECT lang_pred, count(*) AS n_docs,
        |  avg(n_toks) AS avg_tokens,
        |  max(n_toks) AS max_tokens,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars
        |FROM l GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),
    Query("q_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), 256, 8)
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t
        |)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor(cum_before / 256.0) AS BIGINT) AS bin,
        |  cum_before % 256 AS offset_in_bin
        |FROM c ORDER BY doc_id""".stripMargin),
    // tokenizer APPLY (greedy BPE over the in-repo merge table) —
    // the real-token stage the word-count twins approximate
    Query("q_bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncodeStats(Tables.documents(s, dir)).orderBy("source"), bpeEncodeOracle),
    Query("q_pack_sequences_bpe", (s, dir) =>
      TextAnalysis.packSequencesBpe(Tables.documents(s, dir), 256, 8)
        .orderBy("doc_id"), packSequencesBpeOracle),
    // tokenizer TRAIN: one BPE learn iteration — frequency-weighted
    // adjacent-pair census over the current tokenization, top-20
    Query("q_bpe_train", (s, dir) =>
      TextAnalysis.bpeTrainStep(Tables.documents(s, dir), 20), bpeTrainOracle),
    // lexical retrieval next to the embedding RAG path: Okapi BM25
    // (Lucene idf form), per-pair term sums folded in term order so
    // scores hash-match the oracle bit-for-bit
    Query("q_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir),
        Seq((1L, "gain up good value"), (2L, "slow error bad join"), (3L, "spark table scan")), k = 5)
        .orderBy("query_id", "rnk"),
      // per-pair BM25 sums fold in TERM order on both engines (the
      // q_perplexity determinism recipe); formula trees mirrored
      // operation-for-operation so doubles are bit-identical
      """WITH tf AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        |  GROUP BY doc_id, t
        |), dfq AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
        |), dl AS (
        |  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl FROM documents
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tot FROM documents
        |), q AS (
        |  SELECT query_id, unnest(list_distinct(string_split(lower(q_text), ' '))) AS t
        |  FROM (VALUES (CAST(1 AS BIGINT), 'gain up good value'),
        |               (CAST(2 AS BIGINT), 'slow error bad join'),
        |               (CAST(3 AS BIGINT), 'spark table scan')) AS vq(query_id, q_text)
        |), terms AS (
        |  SELECT q.query_id, tf.doc_id, tf.t,
        |    ln(1 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        (CAST(dl.dl AS DOUBLE) * CAST(st.n_docs AS DOUBLE) / CAST(st.tot AS DOUBLE)))) AS term
        |  FROM tf JOIN q USING (t) JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN st
        |), sc AS (
        |  SELECT query_id, doc_id,
        |    round(list_reduce(list(term ORDER BY t), (a, b) -> a + b), 6) AS score
        |  FROM terms GROUP BY query_id, doc_id
        |)
        |SELECT query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
        |FROM sc
        |QUALIFY rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin),
    Query("q_zipf_slope", (s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir), 100),
      """WITH c AS (
        |  SELECT tok, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
        |  ) GROUP BY tok
        |), top AS (
        |  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk
        |  FROM c ORDER BY cnt DESC, tok ASC LIMIT 100
        |)
        |SELECT count(*) AS k_types,
        |  round(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS slope,
        |  round(regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS intercept,
        |  round(regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS r2
        |FROM top""".stripMargin),
    Query("q_readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(trim(text), '\S+')) AS n_words,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_words, n_sentences, n_syllables,
        |    round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) AS flesch
        |  FROM c WHERE n_words > 0
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        |  CASE WHEN flesch >= 70.0 THEN 'easy'
        |       WHEN flesch >= 50.0 THEN 'standard'
        |       WHEN flesch >= 30.0 THEN 'difficult'
        |       ELSE 'very_difficult' END AS band
        |FROM f ORDER BY doc_id""".stripMargin),
    Query("q_vocab_shift", (s, dir) =>
      TextAnalysis.vocabShift(Tables.documents(s, dir)),
      """WITH cut AS (SELECT quantile_cont(doc_id, 0.5) AS cut FROM documents),
        |toks AS (
        |  SELECT (doc_id <= cut) AS first_half,
        |    unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents, cut
        |), a AS (SELECT tok, count(*) AS cnt_a FROM toks WHERE first_half GROUP BY 1),
        |b AS (SELECT tok, count(*) AS cnt_b FROM toks WHERE NOT first_half GROUP BY 1),
        |t AS (
        |  SELECT sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS tot_a,
        |    sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS tot_b
        |  FROM toks
        |), j AS (
        |  SELECT coalesce(a.tok, b.tok) AS tok,
        |    CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |    CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |  FROM a FULL OUTER JOIN b ON a.tok = b.tok
        |)
        |SELECT tok, cnt_a, cnt_b,
        |  round(ln(CAST(cnt_b + 1 AS DOUBLE) / CAST(tot_b + 1 AS DOUBLE))
        |    - ln(CAST(cnt_a + 1 AS DOUBLE) / CAST(tot_a + 1 AS DOUBLE)), 6) AS shift,
        |  abs(round(ln(CAST(cnt_b + 1 AS DOUBLE) / CAST(tot_b + 1 AS DOUBLE))
        |    - ln(CAST(cnt_a + 1 AS DOUBLE) / CAST(tot_a + 1 AS DOUBLE)), 6)) AS abs_shift
        |FROM j, t WHERE cnt_a + cnt_b >= 5
        |ORDER BY abs_shift DESC, tok LIMIT 25""".stripMargin),
    Query("q_ttr", (s, dir) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH c AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS hapax_share
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q_char_composition", (s, dir) =>
      TextAnalysis.charComposition(Tables.documents(s, dir)).orderBy("source"),
      """WITH d AS (
        |  SELECT source,
        |    CAST(1.0 - CAST(len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS DECIMAL(18,6)) AS upper_s,
        |    CAST(1.0 - CAST(len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS DECIMAL(18,6)) AS digit_s,
        |    CAST(1.0 - CAST(len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS DECIMAL(18,6)) AS punct_s,
        |    CAST(1.0 - CAST(len(regexp_replace(text, '[ \t\n\r\f]', '', 'g')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE) AS DECIMAL(18,6)) AS space_s
        |  FROM documents WHERE len(text) > 0
        |)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(upper_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS upper_share,
        |  round(CAST(sum(digit_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS digit_share,
        |  round(CAST(sum(punct_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS punct_share,
        |  round(CAST(sum(space_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS space_share
        |FROM d GROUP BY source ORDER BY source""".stripMargin),
    Query("q_encoding_anomalies", (s, dir) =>
      TextAnalysis.encodingAnomalies(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(regexp_matches(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]') AS INT) AS has_control,
        |  CAST(contains(text, '�') AS INT) AS has_replacement,
        |  CAST(regexp_matches(text, '\S{200,}') AS INT) AS has_long_run
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_heaps_law", (s, dir) =>
      TextAnalysis.heapsLaw(Tables.documents(s, dir)).orderBy("cp"),
      // bands by exact integer ceil-division; cumulative sums over the
      // 10-row checkpoint grid only — everything exact longs
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |tf AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0
        |), tb AS (
        |  SELECT greatest(1, (doc_id * 10 + max_id - 1) // max_id) AS cp, count(*) AS tok_band
        |  FROM tf, mx GROUP BY 1
        |), vb AS (
        |  SELECT greatest(1, (first_id * 10 + max_id - 1) // max_id) AS cp, count(*) AS vocab_band
        |  FROM (SELECT tok, min(doc_id) AS first_id FROM tf GROUP BY tok), mx GROUP BY 1
        |), db AS (
        |  SELECT greatest(1, (doc_id * 10 + max_id - 1) // max_id) AS cp, count(*) AS doc_band
        |  FROM documents, mx GROUP BY 1
        |), allb AS (
        |  SELECT cp, coalesce(doc_band, 0) AS d, coalesce(tok_band, 0) AS t,
        |    coalesce(vocab_band, 0) AS v
        |  FROM db FULL OUTER JOIN tb USING (cp) FULL OUTER JOIN vb USING (cp)
        |)
        |SELECT CAST(cp AS BIGINT) AS cp,
        |  CAST(sum(d) OVER wc AS BIGINT) AS n_docs,
        |  CAST(sum(t) OVER wc AS BIGINT) AS n_tokens,
        |  CAST(sum(v) OVER wc AS BIGINT) AS vocab
        |FROM allb WINDOW wc AS (ORDER BY cp ROWS UNBOUNDED PRECEDING)
        |ORDER BY cp""".stripMargin),
    Query("q_js_divergence", (s, dir) =>
      TextAnalysis.jsDivergence(Tables.documents(s, dir)).orderBy("source"),
      // per-token terms fold through floor(term*1e12) exact longs (the
      // anova cross-group recipe); the absent tail closes as
      // ln2*(1 - cov) with cov an exact integer quotient; 6dp
      """WITH tf AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0
        |), corpus AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM tf GROUP BY tok
        |), tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n_all FROM corpus),
        |src AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cs FROM tf GROUP BY 1, 2
        |), stot AS (
        |  SELECT source, CAST(sum(cs) AS BIGINT) AS n_s, count(*) AS vocab_s
        |  FROM src GROUP BY source
        |), terms AS (
        |  SELECT src.source, stot.n_s, stot.vocab_s, corpus.ct, tot.n_all,
        |    CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
        |    CAST(ct AS DOUBLE) / CAST(n_all AS DOUBLE) AS q
        |  FROM src JOIN corpus USING (tok) JOIN stot USING (source), tot
        |)
        |SELECT source, max(n_s) AS n_tokens, CAST(max(vocab_s) AS BIGINT) AS vocab,
        |  round((CAST(sum(CAST(floor((p * ln(p) + q * ln(q) - (p + q) * ln((p + q) / 2)) * 1e12)
        |      AS BIGINT)) AS DOUBLE) / 1e12
        |    + ln(2) * (1.0 - CAST(sum(ct) AS DOUBLE) / CAST(max(n_all) AS DOUBLE))) / 2,
        |  6) AS js_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),
    Query("q_token_gini", (s, dir) =>
      TextAnalysis.tokenGini(Tables.documents(s, dir)).orderBy("source"),
      // rank-sum identity over per-source vocab rows; rank_sum rides
      // 128-bit decimal and converts via the splitDouble recipe; 6dp
      """WITH tf AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0
        |), c AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2
        |), r AS (
        |  SELECT source, cnt,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY cnt, tok) AS BIGINT) AS rnk
        |  FROM c
        |), a AS (
        |  SELECT source, count(*) AS vocab, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    sum(CAST(rnk AS HUGEINT) * CAST(cnt AS HUGEINT)) AS rank_sum
        |  FROM r GROUP BY source
        |)
        |SELECT source, CAST(vocab AS BIGINT) AS vocab, n_tokens,
        |  round(2.0 * (CAST(rank_sum // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(rank_sum % 9007199254740992 AS DOUBLE))
        |    / (CAST(vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |    - CAST(vocab + 1 AS DOUBLE) / CAST(vocab AS DOUBLE), 6) AS token_gini
        |FROM a ORDER BY source""".stripMargin)
  )

  /** Stopword hits per language for a document; ends the CTE's FROM. */
  private def langHits(margin: String): String = margined(margin, Seq(
    "    len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','and','of'))) AS hits_en,",
    "    len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','y','de'))) AS hits_es,",
    "    len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','les','et','des'))) AS hits_fr,",
    "    len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','und','von'))) AS hits_de,",
    "    len(list_filter(string_split(lower(text), ' '), x -> x IN ('de5','shi4','le5','zai4'))) AS hits_zh",
    "  FROM documents"))

  /** The BPE-apply fold as DuckDB SQL, GENERATED from the same
    * in-repo merge table the engine compiles in
    * ([[graft.plans.GraftHashOps.BpeMerges]] — shared DATA, like a
    * decoder's quant table; the fold ALGORITHM here is an
    * independent re-implementation). Symbols ride a '/'-delimited
    * string; each merge is one list_reduce pass whose lambda merges
    * `x = b` into an accumulator whose LAST symbol is `a` — the
    * identical greedy left-to-right single-pass semantics as
    * GraftHashOps.bpeTokenizeWord. `w` is the word column in scope.
    */
  /** One MATERIALIZED CTE per merge (nesting the 79 folds into one
    * expression hits DuckDB's binder recursion cap at 128, and a
    * non-materialized chain gets re-inlined right back into that
    * nesting). The chain starts from CTE `dw(w)` and ends in
    * `s<nMerges>(w, sym)`; the distinct word set is tiny, so 79
    * materializations are free.
    */
  private def bpeFoldCtes: String = {
    val init = "array_to_string(list_transform(generate_series(1, length(w)), i -> w[i]), '/')"
    val first = s"s0 AS MATERIALIZED (\n  SELECT w, $init AS sym FROM dw\n)"
    val steps = graft.plans.GraftHashOps.BpeMerges.zipWithIndex.map { case ((a, b), i) =>
      val pass = s"list_reduce(string_split(sym, '/'), (acc, x) -> " +
        s"CASE WHEN x = '$b' AND (acc = '$a' OR ends_with(acc, '/$a')) " +
        s"THEN substr(acc, 1, length(acc) - ${a.length}) || '$a$b' " +
        s"ELSE acc || '/' || x END)"
      s"s${i + 1} AS MATERIALIZED (\n  SELECT w, $pass AS sym FROM s$i\n)"
    }
    (first +: steps).mkString(", ")
  }

  private def bpeFoldLast: String = s"s${graft.plans.GraftHashOps.BpeMerges.length}"

  private def bpeVocabSql: String =
    (graft.plans.GraftHashOps.BpeBaseSingles.map(c => s"'$c'") ++
      graft.plans.GraftHashOps.BpeMerges.map { case (a, b) => s"'$a$b'" })
      .distinct.mkString("[", ", ", "]")

  // independent derivation, BPE: the fold runs over the DISTINCT
  // word set (the corpus repeats words massively), then joins back —
  // counts are exact integers, the two rates one IEEE division each
  private def bpeEncodeOracle: String =
    s"""WITH w0 AS (
       |  SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents
       |), dw AS (
       |  SELECT DISTINCT w FROM w0
       |), $bpeFoldCtes, enc AS (
       |  SELECT w, string_split(sym, '/') AS toks FROM $bpeFoldLast
       |), wt AS (
       |  SELECT w, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> NOT list_contains($bpeVocabSql, t))) AS BIGINT) AS n_oov
       |  FROM enc
       |), sums AS (
       |  SELECT w0.source,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(wt.n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(wt.n_oov) AS BIGINT) AS n_oov
       |  FROM w0 JOIN wt USING (w) GROUP BY 1
       |), docs AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
       |)
       |SELECT d.source, d.n_docs,
       |  coalesce(s.n_words, 0) AS n_words,
       |  coalesce(s.n_tokens, 0) AS n_tokens,
       |  coalesce(s.n_oov, 0) AS n_oov,
       |  CAST(s.n_tokens AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS tokens_per_word,
       |  CAST(s.n_oov AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS oov_rate
       |FROM docs d LEFT JOIN sums s USING (source) ORDER BY source""".stripMargin

  private def packSequencesBpeOracle: String =
    s"""WITH w0 AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents
       |), dw AS (
       |  SELECT DISTINCT w FROM w0
       |), $bpeFoldCtes, enc AS (
       |  SELECT w, CAST(len(string_split(sym, '/')) AS BIGINT) AS n_toks FROM $bpeFoldLast
       |), dt AS (
       |  SELECT d.doc_id, d.doc_id % 8 AS shard, CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN (
       |    SELECT w0.doc_id, sum(enc.n_toks) AS n FROM w0 JOIN enc USING (w) GROUP BY 1
       |  ) s USING (doc_id)
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM dt
       |)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(floor(cum_before / 256.0) AS BIGINT) AS bin,
       |  cum_before % 256 AS offset_in_bin
       |FROM c ORDER BY doc_id""".stripMargin

  // independent derivation, BPE train step: same distinct-word fold
  // as the apply oracle, then every adjacent pair of each word's
  // token sequence unnests with its 1-based index and aggregates
  // weighted by the word's corpus frequency; top-20 under the same
  // total order (count DESC, lhs, rhs) as the engine's TakeOrdered
  private def bpeTrainOracle: String =
    s"""WITH w0 AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
       |), wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY 1
       |), dw AS (
       |  SELECT w FROM wf
       |), $bpeFoldCtes, enc AS (
       |  SELECT w, string_split(sym, '/') AS toks FROM $bpeFoldLast
       |), pr AS (
       |  SELECT wf.w, wf.freq, enc.toks[t.i] AS lhs, enc.toks[t.i + 1] AS rhs
       |  FROM wf JOIN enc USING (w)
       |  CROSS JOIN UNNEST(generate_series(1, CAST(len(enc.toks) - 1 AS BIGINT))) AS t(i)
       |)
       |SELECT lhs, rhs,
       |  CAST(sum(freq) AS BIGINT) AS pair_count,
       |  CAST(count(DISTINCT w) AS BIGINT) AS n_words
       |FROM pr GROUP BY 1, 2
       |ORDER BY pair_count DESC, lhs, rhs LIMIT 20""".stripMargin
}
