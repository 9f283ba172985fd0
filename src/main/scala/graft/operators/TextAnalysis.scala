package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

import graft.functions.TextFunctions._

/** Document-level text analysis: sentiment, tokenization, language
  * ID, quality scoring, fingerprinting, chunking. All narrow
  * (per-row) transformations — no shuffle at any scale; the scan's
  * column pruning keeps only (doc_id, text) in flight.
  */
object TextAnalysis {

  val PosLexicon: Seq[String] = Seq("fast", "big", "gain", "good", "up")
  val NegLexicon: Seq[String] = Seq("slow", "small", "error", "bad", "down")

  /** Ordered language profiles: (lang, marker words). First maximal
    * hit count wins, ties broken by list order; no hits -> "und".
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "y", "de"),
    "fr" -> Seq("le", "les", "et", "des"),
    "de" -> Seq("der", "die", "und", "von"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4")
  )

  def sentiment(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      sentimentPolarity(col("text"), PosLexicon, NegLexicon).as("polarity")
    )

  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      // long: oracle engines surface list lengths as BIGINT
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      regexTokenCount(lower(col("text"))).cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("len_chars")
    )

  /** N-gram-heuristic language ID: count marker-word hits per
    * profile, pick the first profile with the maximal count.
    */
  def langId(documents: DataFrame): DataFrame =
    langIdWithText(documents).select(col("doc_id"), col("lang_pred"))

  /** Language prediction with `text` retained: the score is a narrow
    * projection, so keeping the payload costs nothing and lets
    * downstream profiling stay a single corpus scan (projecting text
    * away and re-joining documents would scan + shuffle the corpus
    * twice).
    */
  private[operators] def langIdWithText(documents: DataFrame): DataFrame = {
    val hitCols = LangProfiles.map { case (lang, words) =>
      lexiconHits(col("text"), words).as(s"hits_$lang")
    }
    val withHits = documents.select((col("doc_id") +: col("text") +: hitCols): _*)
    val maxHits  = greatest(LangProfiles.map { case (l, _) => col(s"hits_$l") }: _*)
    val pick = LangProfiles
      .foldRight(lit("und")) { case ((lang, _), acc) =>
        when(col(s"hits_$lang") === maxHits && maxHits > 0, lit(lang)).otherwise(acc)
      }
    // foldRight builds en-first precedence: en's WHEN ends up outermost.
    withHits.select(col("doc_id"), col("text"), pick.as("lang_pred"))
  }

  /** Quality score from length/word-shape/stopword ratios, in [0,1].
    * score = 0.4*len_norm + 0.3*stop_ratio + 0.3*alpha_ratio.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), qualityCol.as("quality"))

  /** The quality formula as a column over `text` — shared by
    * [[qualityScore]] and [[adaptiveQualityGate]].
    */
  private[operators] def qualityCol: org.apache.spark.sql.Column = {
    val toks      = split(lower(col("text")), " ")
    val nToks     = size(toks).cast("double")
    val stopHits  = lexiconHits(col("text"), LangProfiles.flatMap(_._2)).cast("double")
    val alphaOnly = size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double")
    val lenNorm   = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    lenNorm * 0.4 + (stopHits / nToks) * 0.3 + (alphaOnly / nToks) * 0.3
  }

  /** Per-source ADAPTIVE quality gating: instead of one global
    * cutoff (which silently drops whole low-register sources and
    * keeps every doc of high-register ones), each source keeps its
    * own top (1-p) quantile — the per-domain calibration step real
    * curation pipelines run so that a fixed mixture survives
    * filtering. Thresholds are one per-source aggregate over the
    * scored scan (source count is small — the result broadcasts back
    * onto the same scan), so the whole gate is two passes over
    * quality scores and ZERO extra corpus shuffles; the exact
    * interpolated percentile keeps the threshold — and therefore the
    * keep decision at the boundary — engine-deterministic.
    */
  def adaptiveQualityGate(documents: DataFrame, p: Double = 0.3): DataFrame = {
    val scored = documents.select(col("doc_id"), col("source"), qualityCol.as("quality"))
    val thr = scored.groupBy(col("source")).agg(percentile(col("quality"), lit(p)).as("thr"))
    scored.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"),
        round(col("quality"), 6).as("quality"),
        round(col("thr"), 6).as("thr"),
        (col("quality") >= col("thr")).cast("int").as("keep"))
  }

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      substring(fingerprint(col("text")), 1, 8).as("fp_short")
    )

  /** Fixed-size/overlap chunking (RAG splitter analog): offsets are
    * generated per row and exploded — output partitions stay
    * proportional to input, no driver loop.
    */
  def chunk(documents: DataFrame, size: Int, overlap: Int): DataFrame = {
    val stride = size - overlap
    documents
      .select(col("doc_id"), col("text"), explode(chunkOffsets(col("text"), size, overlap)).as("off"))
      .select(
        col("doc_id"),
        (col("off") / stride).cast("long").as("chunk_id"),
        col("text").substr(col("off") + 1, lit(size)).as("chunk")
      )
  }

  /** Sequence packing bookkeeping (the concat-and-chunk step that
    * turns a document corpus into fixed-`window` training sequences):
    * documents are concatenated in doc_id order within a shard and
    * the stream is cut every `window` tokens — each document reports
    * its token count, the training sequence (`bin`) its first token
    * lands in, and its offset inside that bin. Per-shard concat
    * order is the standard distributed approximation of global
    * packing: bins never cross shards, so shards pack independently.
    *
    * Scale: one shuffle to `nShards` partitions and one running-sum
    * window per shard — the cumulative token count is exact integer
    * arithmetic, so the layout is deterministic and engine-identical
    * at any scale or cluster size. PARALLELISM EQUALS nShards (each
    * shard is one sorted window partition): the default derives from
    * the cluster — defaultParallelism x 4, so a 1000-executor job
    * packs in thousands of independent shards and each shard's sort
    * stays in-memory — while oracle-checked/reproducible layouts pin
    * nShards explicitly (the shard count is part of the layout).
    */
  def packSequences(documents: DataFrame, window: Int = 256, nShards: Int = -1): DataFrame = {
    val shards =
      if (nShards > 0) nShards
      else documents.sparkSession.sparkContext.defaultParallelism * 4
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum_before") / lit(window.toDouble)).cast("long").as("bin"),
        (col("cum_before") % window).as("offset_in_bin"))
  }

  /** Tokenizer-apply census (the pretraining-pipeline stage the
    * word-count twins approximate): greedy BPE against the
    * deterministic in-repo merge table
    * ([[graft.plans.GraftHashOps.BpeMerges]]), via the codegen'd
    * graft_bpe_stats expression — one scan-stage pass per document,
    * no token explode, then ONE per-source aggregate. Rates are a
    * single IEEE division of exact integer sums, so the oracle's
    * quotients are bit-identical.
    */
  def bpeEncodeStats(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("source"), expr("graft_bpe_stats(text)").as("bs"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("bs.n_words").as("n_words"),
        sum("bs.n_tokens").as("n_tokens"),
        sum("bs.n_oov").as("n_oov"))
      .withColumn("tokens_per_word", col("n_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** [[packSequences]] with REAL tokenizer costs: the per-document
    * token count comes from the BPE-apply expression instead of the
    * whitespace-split approximation — the packing recipe (sharded
    * running sum, window/bin assignment) is unchanged, so the two
    * twins differ only in the cost column.
    */
  def packSequencesBpe(documents: DataFrame, window: Int = 256, nShards: Int = -1): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val shards =
      if (nShards > 0) nShards
      else documents.sparkSession.sparkContext.defaultParallelism * 4
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        expr("graft_bpe_stats(text).n_tokens").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum_before") / lit(window.toDouble)).cast("long").as("bin"),
        (col("cum_before") % window).as("offset_in_bin"))
  }

  /** One BPE TRAINING iteration (the learn-side twin of
    * [[bpeEncodeStats]]): tokenize the corpus under the CURRENT
    * merge table and emit the top-k adjacent-token-pair merge
    * candidates by frequency-weighted count — the inner step every
    * BPE/WordPiece learner loops (Sennrich et al. 2016, public
    * algorithm). Scale shape: the corpus aggregates to (word, freq)
    * FIRST (one shuffle of word rows with partial aggregation), the
    * codegen'd graft_bpe_tokens expression runs on the DISTINCT word
    * set only, pairs explode from that bounded vocabulary, and the
    * global top-k is a TakeOrdered — no token-level corpus explode,
    * no unbounded window. Ties break on (lhs, rhs), so the top-k set
    * is total-order deterministic and bit-exact against the oracle's
    * identical fold.
    */
  def bpeTrainStep(documents: DataFrame, topK: Int = 20): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val words = documents
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .select(col("w"), col("freq"), expr("graft_bpe_tokens(w)").as("toks"))
      .filter(size(col("toks")) > 1)
      .select(col("w"), col("freq"), explode(
        expr("transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS l, toks[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum("freq").as("pair_count"), countDistinct("w").as("n_words"))
      .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
      .limit(topK)
  }

  /** Repetition signal (pretraining-corpus quality filter in the
    * Gopher/C4 family): the fraction of duplicated words and word
    * bigrams per document — high values flag boilerplate and spam.
    * Pure per-row array math: scan-stage at any scale, no shuffle.
    */
  def repetitionScore(documents: DataFrame): DataFrame = {
    val toks    = split(lower(col("text")), " ")
    val bigrams = ngrams(toks, 2)
    val dupW = when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
    val dupB = when(size(bigrams) > 0,
      lit(1.0) - size(array_distinct(bigrams)).cast("double") / size(bigrams).cast("double"))
    // unrounded: int-ratio quotients can terminate exactly on the
    // 6-dp tie digit where engines' round() disagree; the raw
    // quotient is bit-identical everywhere
    documents.select(
      col("doc_id"),
      dupW.as("dup_word_ratio"),
      dupB.as("dup_bigram_ratio"))
  }

  /** Composite heuristic quality gate (the Gopher-rules family,
    * Rae+ '21 appendix A1.1 document filters): keep/drop per document
    * from word count, mean word length, alphabetic-word fraction,
    * and stopword presence, with each signal surfaced for auditing.
    * Both the keep decision and the surfaced ratios use UNROUNDED
    * exact int-ratio doubles (engine-identical). All narrow per-row
    * work — at 100 TB this is a scan-stage predicate feeding the
    * curation pipeline's drop step.
    */
  def qualityGate(documents: DataFrame,
                  minWords: Long = 5, maxWords: Long = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  minAlphaFrac: Double = 0.7): DataFrame = {
    val toks      = split(lower(col("text")), " ")
    val n         = size(toks).cast("long")
    val meanLen   = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
      .cast("double") / n.cast("double")
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / n.cast("double")
    val stops     = lexiconHits(col("text"), LangProfiles.flatMap(_._2)).cast("long")
    // ratios emitted unrounded: exact-int quotients hit 6-dp
    // rounding ties where engines disagree; raw doubles are
    // bit-identical
    documents.select(
      col("doc_id"),
      n.as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_frac"),
      stops.as("stop_hits"),
      (n.between(minWords, maxWords) && meanLen.between(minMeanLen, maxMeanLen) &&
        alphaFrac >= minAlphaFrac && stops >= 1).cast("int").as("keep"))
  }

  /** Global top-k bigrams (corpus n-gram statistics): explode ->
    * count -> TakeOrdered. The groupBy partial-aggregates map-side,
    * so only distinct bigram partials shuffle; the top-k is a k-row
    * driver merge, never a global sort.
    */
  def topBigrams(documents: DataFrame, k: Int = 20): DataFrame = {
    val toks = split(lower(col("text")), " ")
    documents
      .select(explode(ngrams(toks, 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)
  }

  /** PMI collocations (phrase mining, the word2vec-era statistic
    * behind "new york"-style phrase merging in corpus prep): top-k
    * bigrams by pointwise mutual information, PMI = ln(p(xy) /
    * (p(x)p(y))) with p(xy) = c_xy/N_bigrams and p(x) = c_x/
    * N_tokens, restricted to bigrams seen >= minCount times (raw
    * PMI is maximized by hapaxes — the count floor is the standard
    * fix). Two corpus explode+count aggregations (unigrams,
    * bigrams), totals as broadcast one-row frames, two vocab joins
    * on the count-floored candidate set only. Determinism: every
    * count is an exact long; PMI is a fixed left-associated chain
    * of ln() terms over those longs — identical IEEE sequence in
    * any engine — and the top-k orders by the ROUNDED score. At
    * 100 TB the minCount filter bounds the join input (the vocab
    * aggregations are the same shape as [[perplexityScore]]'s).
    */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = split(lower(col("text")), " ")
    val uni = documents.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val bi = documents.select(explode(ngrams(toks, 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
    val nu = uni.agg(sum(col("cu")).as("nu"))
    val nb = bi.agg(sum(col("cxy")).as("nb"))
    val pmi =
      log(col("cxy").cast("double")) + lit(2.0) * log(col("nu").cast("double")) -
        log(col("nb").cast("double")) - log(col("cx").cast("double")) - log(col("cy").cast("double"))
    bi.filter(col("cxy") >= minCount)
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("tok").as("x"), col("cu").as("cx")), "x")
      .join(uni.select(col("tok").as("y"), col("cu").as("cy")), "y")
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(col("bigram"), col("cxy").as("n"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  /** Vocabulary coverage curve (the Zipf head): the top-k token
    * types with each prefix's cumulative share of the whole token
    * stream — the know-your-data statistic behind vocab-size and
    * tokenizer decisions ("the top 100 types cover 41% of the
    * corpus"). One explode+count vocab aggregation (map-side
    * partials), TakeOrdered k-row head, total as a broadcast
    * one-row frame; the k-row window runs on the already-k-row
    * result, never the corpus. Counts and running sums are exact
    * longs; the share is one division per output row.
    */
  def vocabCoverage(documents: DataFrame, k: Int = 20): DataFrame = {
    val counts = documents.select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top   = counts.orderBy(col("cnt").desc, col("tok").asc).limit(k)
    val w     = Window.orderBy(col("cnt").desc, col("tok").asc) // the k top rows only
    top
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .select(col("rnk"), col("tok"), col("cnt"),
        round(col("cum_cnt").cast("double") / col("total").cast("double"), 6).as("cum_share"))
  }

  /** Zipf-law fit over the vocabulary head: OLS of ln(count) on
    * ln(rank) across the top-k token types — the know-your-data
    * scalar behind [[vocabCoverage]]'s curve (natural corpora slope
    * ≈ −1; template/boilerplate-heavy or deduplicated-to-death
    * corpora bend away from it). Same shape as vocabCoverage: one
    * explode+count vocab aggregation, TakeOrdered k-row head, and
    * the regression runs on the k-row frame only — regr_slope /
    * regr_intercept / regr_r2 are single-pass moment aggregates over
    * a bounded k-row group → 6dp (the rollingStats float recipe).
    */
  def zipfSlope(documents: DataFrame, k: Int = 100): DataFrame = {
    val counts = documents.select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(k)
    val w   = Window.orderBy(col("cnt").desc, col("tok").asc) // the k top rows only
    top
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("cnt").cast("double")))
      .agg(
        count(lit(1)).as("k_types"),
        round(regr_slope(col("y"), col("x")), 6).as("slope"),
        round(regr_intercept(col("y"), col("x")), 6).as("intercept"),
        round(regr_r2(col("y"), col("x")), 6).as("r2"))
  }

  /** Per-language corpus profile (the know-your-data dashboard):
    * doc counts, token-length moments, and char-length median per
    * predicted language. ONE corpus scan: language-ID is a narrow
    * projection that keeps `text`, so the whole profile is scan +
    * aggregate — no corpus self-join.
    */
  def corpusStats(documents: DataFrame): DataFrame =
    langIdWithText(documents)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        // unrounded: an int-sum/count quotient can land exactly on
        // the 6-dp rounding tie (counts with 2^7 factors); the raw
        // quotient is engine-identical
        avg(col("n_toks")).as("avg_tokens"),
        max(col("n_toks")).as("max_tokens"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"))

  /** Cluster-then-label (the know-your-data companion of SemDeDup's
    * cell machinery): documents embed via the codegen'd feature-hash
    * expression, a seed quantizer assigns each doc to one of nlist
    * cells (zero corpus shuffle — the [[Similarity.ivfAssignCol]]
    * path), and each cell is labeled with its top-k distinctive
    * terms by tf x ln(nCells/df_cells) — corpus-wide stopwords get
    * idf ln(1)=0 and sink. One doc->cell join + two keyed
    * aggregations; at 100 TB the token aggregation dominates, the
    * same shape as [[perplexityScore]]'s vocab pass. Determinism:
    * feature-hash vectors are small-integer doubles, so cell argmin
    * distances are exact; counts are longs; the score is one
    * multiply of an exact long by ln of an exact-int ratio, ranked
    * on the ROUNDED score with token tiebreak.
    */
  def clusterTopTerms(documents: DataFrame, nlist: Int = 8, dim: Int = 16, k: Int = 3): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val emb = documents.select(col("doc_id").as("vec_id"),
      expr(s"graft_fh_embed(text, $dim)").as("embedding"))
    val cents = Similarity.ivfTrain(emb, nlist, iters = 0)
    val cells = emb.select(col("vec_id").as("doc_id"),
      Similarity.ivfAssignCol(col("embedding"), cents).cast("long").as("cell"))
    val toks = documents.join(cells, "doc_id")
      .select(col("cell"), explode(split(lower(col("text")), " ")).as("tok"))
    val counts = toks.groupBy(col("cell"), col("tok")).agg(count(lit(1)).as("cnt"))
    val dfc    = counts.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
    val nCells = cells.agg(countDistinct(col("cell")).as("n_cells"))
    val w      = Window.partitionBy(col("cell")).orderBy(col("score").desc, col("tok").asc)
    counts.join(dfc, "tok")
      .crossJoin(broadcast(nCells))
      .withColumn("score",
        round(col("cnt") * log(col("n_cells").cast("double") / col("dfc").cast("double")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("cell"), col("rnk"), col("tok"), col("cnt"), col("score"))
  }

  /** Top-k TF-IDF terms per document: tf = in-doc term count, idf =
    * ln(N/df). Two key-partitioned aggregations (term counts per doc,
    * then document frequency over the already-distinct (doc, term)
    * rows) + the corpus size as a broadcast 1-row frame — no driver
    * collect, no second corpus scan; top-k rides Spark's
    * WindowGroupLimit partial heaps, and AQE broadcasts the (t, df)
    * registry when the vocabulary is small, falling back to SMJ when
    * it is not.
    *
    * MEASURED COST MODEL (r14, x10 audit): the wall ratio at the x10
    * replica is ~4.3x — but the unit of work here is DISTINCT
    * (doc, term) rows, and the replica's token jitter grows those
    * 14.1x (116k → 1.64M) while docs grow 10x; per (doc, term) row
    * the op is SUBLINEAR (0.31x/row). Two rejected "fixes", both
    * measured: checkpointing the tf frame to kill the
    * duplicated subtree made x10 WORSE (7.0s → 14.1s — materializing
    * the full frame costs more than recomputing the codegen'd
    * scan+explode+agg), and deriving df via a window over t was
    * 2.3x faster HERE (1.8s vs 5.1s at x10) but is the wrong 100 TB
    * shape: count().over(partitionBy(t)) puts every document
    * containing a hot term ("the") into ONE window task with no
    * partial aggregation — a skew cliff the groupBy+broadcast shape
    * structurally cannot hit. Corpus-LEVEL term frequency at scale
    * has the CMS sketch twin (q_heavy_hitters); per-document top-k
    * is already linear in its input rows.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n  = documents.agg(count(lit(1)).as("n_docs"))
    val w  = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("t").asc)
    tf.join(df, "t")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("t").as("term"), col("tfidf"), col("rnk"))
  }

  /** Unigram-LM cross-entropy scoring — the perplexity-filter step
    * of a CCNet-style curation pipeline: token probabilities are
    * corpus-global unigram frequencies, a document's score is the
    * mean negative log-likelihood of its tokens (nats; perplexity =
    * e^xent), and `keep` flags documents at or under `cutoff` —
    * high cross-entropy under the corpus's own unigram model marks
    * gibberish, boilerplate soup, and wrong-language text.
    *
    * Scale shape: a word-count shuffle for the vocabulary, one
    * shuffle of per-(doc, token) counts for scoring — both
    * key-partitioned aggregations; the corpus total rides along as
    * a broadcast 1-row frame (no driver collect). The per-document
    * sum folds its terms in TOKEN order (sort_array + ordered
    * aggregate), so the float accumulation order is a function of
    * the document alone — identical on every engine, run, and
    * partitioning, which is what lets the score hash-match a SQL
    * oracle and, at 100 TB, makes a re-run byte-reproducible.
    */
  def perplexityScore(documents: DataFrame, cutoff: Double = 8.0): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("occ"))
    val counts = docTok.groupBy(col("tok")).agg(sum(col("occ")).as("cnt"))
    val total  = counts.agg(sum(col("cnt")).as("n_total"))
    docTok.join(counts, "tok")
      .crossJoin(broadcast(total))
      .withColumn("term",
        -col("occ").cast("double") * log(col("cnt").cast("double") / col("n_total").cast("double")))
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("tok"), col("term")))).as("ts"),
        sum(col("occ")).as("n_tok"))
      .withColumn("xent",
        round(aggregate(col("ts"), lit(0.0), (acc, s) => acc + s("term")) / col("n_tok"), 6))
      .select(
        col("doc_id"), col("n_tok"), col("xent"),
        (col("xent") <= cutoff).cast("int").as("keep"))
  }

  /** Bigram-LM cross-entropy scoring — [[perplexityScore]] upgraded
    * one Markov order: P(w_i | w_{i-1}) is the corpus-global MLE
    * count(w_{i-1} w_i) / count(w_{i-1} ·), a document's score the
    * mean negative log-likelihood of its bigrams. The model is
    * trained on the corpus being scored, so every observed bigram
    * has nonzero probability and no smoothing is needed; the context
    * count is the row sum of the bigram table (bigrams whose history
    * is w1), which keeps the conditional distribution normalized. A
    * unigram model scores token-frequency soup as fluent; the bigram
    * model additionally prices transitions, so shuffled or
    * machine-garbled text scores high even when its vocabulary is
    * ordinary — the CCNet-style filter distinction that matters for
    * training-data curation.
    *
    * Scale shape mirrors [[perplexityScore]]: bigrams are built
    * per row from the token array (transform over indices — no
    * positional self-join), then one key-partitioned shuffle per
    * aggregation level (doc x bigram, bigram, context). The per-doc
    * sum folds in BIGRAM order (sort_array + ordered aggregate), so
    * float accumulation order is a function of the document alone —
    * engine/run/partitioning invariant, which is what lets the score
    * hash-match a SQL oracle and makes a 100 TB re-run
    * byte-reproducible. Documents under two tokens have no bigram
    * evidence and are excluded (degenerate under any bigram LM).
    * NOTE sequence(1, n-1) DESCENDS for n=1 in Spark, so the short
    * side is guarded explicitly rather than left to the lambda.
    */
  def bigramPerplexityScore(documents: DataFrame, cutoff: Double = 3.386): DataFrame = {
    // bigrams via the codegen'd word-ngram kernel (split output is
    // null-free, where the kernel and the interpreted
    // transform(sequence...) form it replaced are identical);
    // checkpointed because docBg feeds the pair census AND the score
    // join with different prunings. Corpus-sized: one row per
    // distinct doc x bigram.
    val docBg = documents
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.ngrams(col("ts"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy(col("doc_id"), col("bg"), col("w1"))
      .agg(count(lit(1)).as("occ"))
      .materialize("TextAnalysis.bigramPerplexityScore.docBg")
    val pair = docBg.groupBy(col("bg")).agg(sum(col("occ")).as("cnt_bg"))
    val ctx = pair.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cnt_bg")).as("cnt_w1"))
    docBg.join(pair, "bg").join(ctx, "w1")
      .withColumn("term",
        -col("occ").cast("double") * log(col("cnt_bg").cast("double") / col("cnt_w1").cast("double")))
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("bg"), col("term")))).as("bts"),
        sum(col("occ")).as("n_bg"))
      .withColumn("xent",
        round(aggregate(col("bts"), lit(0.0), (acc, s) => acc + s("term")) / col("n_bg"), 6))
      .select(
        col("doc_id"), col("n_bg"), col("xent"),
        (col("xent") <= cutoff).cast("int").as("keep"))
  }

  /** BM25 top-k lexical retrieval (the Okapi ranking function in its
    * Lucene form, idf = ln(1 + (N - df + 0.5)/(df + 0.5)) so weights
    * stay positive) — the keyword-side retriever a RAG stack runs
    * next to the embedding ANN. Scores every (query, document) pair
    * sharing at least one term and keeps each query's top k.
    *
    * Scale shape: ONE corpus tokenization feeds both the per-doc
    * term counts and the document-frequency table (two
    * key-partitioned aggregations, map-side combined); N and the
    * total token count ride along as a broadcast 1-row frame, and
    * the query term list is a broadcast literal frame — the corpus
    * never shuffles on anything but (doc, term). Candidate volume is
    * bounded by the posting lists of the query terms (the inner join
    * prunes every non-matching term at the tf table), top-k is a
    * per-query row_number over those candidates only. Per-pair float
    * sums fold in TERM order (sort_array + ordered aggregate) — the
    * [[perplexityScore]] determinism recipe — so scores are a pure
    * function of (corpus, query) and hash-match a SQL oracle.
    */
  def bm25TopK(documents: DataFrame, queries: Seq[(Long, String)], k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dl = documents
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("dl"))
    val dfq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = documents.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(lower(col("text")), " ")).cast("long")).as("tot_tok"))
    val qTerms = queries.toDF("query_id", "q_text")
      .select(col("query_id"), explode(array_distinct(split(lower(col("q_text")), " "))).as("t"))
    tf.join(broadcast(qTerms), "t")
      .join(dfq, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
          (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) *
              (col("dl").cast("double") * col("n_docs").cast("double") / col("tot_tok").cast("double")))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("t"), col("term")))).as("ts"))
      .withColumn("score",
        round(aggregate(col("ts"), lit(0.0), (acc, s) => acc + s("term")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** Top character n-grams over the corpus (language/script profiling
    * and the shingle basis of char-level LM data work): lowercase,
    * slide an n-wide window over every document, count globally,
    * keep the top-k. The explode is scan-stage (rows blow up to
    * ~bytes-of-corpus but never leave their partition before the
    * map-side partial aggregate compresses them to distinct grams
    * per partition — gram cardinality, not corpus bytes, pays the
    * shuffle); top-k is the TakeOrdered heap merge. Counts exact;
    * ties break on the gram itself.
    */
  def charNgrams(docs: DataFrame, n: Int = 3, k: Int = 20): DataFrame =
    docs
      .select(lower(col("text")).as("t"))
      .filter(length(col("t")) >= n)
      .select(col("t"), explode(sequence(lit(1), length(col("t")) - (n - 1))).as("i"))
      .select(expr(s"substring(t, i, $n)").as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_grams"))
      .orderBy(col("n_grams").desc, col("gram").asc)
      .limit(k)

  /** Vocabulary drift between two corpus slices (here: doc_id halves;
    * in production: yesterday's crawl vs today's): per token, the
    * smoothed relative-frequency log-ratio, keeping the top-k movers
    * by |shift| — the distribution-shift tripwire that catches a
    * changed boilerplate template, a new spam cluster, or a broken
    * extractor BEFORE it skews a training mix. One explode+count per
    * slice (map-side partials), a full outer join on the token
    * (either slice can have exclusives — add-one smoothing keeps the
    * ratio finite), totals broadcast as one-row frames, and the
    * top-k is a TakeOrdered heap merge, never a global sort of the
    * vocabulary. Counts exact; the log-ratio is one IEEE chain over
    * exact ints, 6dp.
    */
  def vocabShift(documents: DataFrame, k: Int = 25, minCount: Int = 5): DataFrame = {
    val half = documents.agg(percentile(col("doc_id"), lit(0.5)).as("cut"))
    val toks = documents.crossJoin(broadcast(half))
      .select((col("doc_id") <= col("cut")).as("first_half"),
        explode(split(lower(col("text")), " ")).as("tok"))
    val a = toks.filter(col("first_half")).groupBy(col("tok")).agg(count(lit(1)).as("cnt_a"))
    val b = toks.filter(!col("first_half")).groupBy(col("tok")).agg(count(lit(1)).as("cnt_b"))
    val totals = toks.agg(
      sum(col("first_half").cast("long")).as("tot_a"),
      sum((!col("first_half")).cast("long")).as("tot_b"))
    a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .filter(col("cnt_a") + col("cnt_b") >= minCount)
      .crossJoin(broadcast(totals))
      .withColumn("shift",
        round(log((col("cnt_b") + 1).cast("double") / (col("tot_b") + 1).cast("double")) -
          log((col("cnt_a") + 1).cast("double") / (col("tot_a") + 1).cast("double")), 6))
      .select(col("tok"), col("cnt_a"), col("cnt_b"), col("shift"), abs(col("shift")).as("abs_shift"))
      .orderBy(col("abs_shift").desc, col("tok").asc)
      .limit(k)
  }

  /** Lexical diversity per document: type-token ratio and hapax share
    * (words occurring exactly once) — low TTR + low hapax = template
    * or generated boilerplate, the complement of the span-based
    * [[graft.operators.Dedup]] repetition detectors that catches
    * WITHIN-vocabulary monotony. One explode to (doc, token) counts,
    * then one per-doc reduce; both aggregates share the doc_id
    * partitioning, everything exact longs + two divisions at 6dp.
    */
  def lexicalDiversity(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6).as("hapax_share"))

  /** Character-composition profile per source: mean shares of
    * uppercase, digits, punctuation, and whitespace across each
    * feed's documents — the broken-extractor detector (a feed whose
    * punctuation share doubles overnight changed its parser, not its
    * prose). Per-row shares are four codegen'd regexp_replace length
    * counts over exact ints; the per-source means quantize each share
    * to DECIMAL(18,6) first (source groups grow with the corpus — the
    * welch recipe), so the aggregate is exact and order-independent.
    */
  def charComposition(documents: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val len = length(col("text")).cast("double")
    def share(pattern: String) =
      (length(regexp_replace(col("text"), pattern, "")).cast("double") / len)
    val d = documents
      .filter(length(col("text")) > 0)
      .select(col("source"),
        (lit(1.0) - share("[A-Z]")).cast(dec).as("upper"),
        (lit(1.0) - share("[0-9]")).cast(dec).as("digit"),
        // explicit ASCII classes, not \p{Punct}/\s shorthands: Java
        // and RE2 disagree on \s (\x0B) and the oracle must match
        (lit(1.0) - share("[!-/:-@\\[-`{-~]")).cast(dec).as("punct"),
        (lit(1.0) - share("[ \\t\\n\\r\\f]")).cast(dec).as("space"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("upper")).cast("double") / count(lit(1)).cast("double"), 6).as("upper_share"),
        round(sum(col("digit")).cast("double") / count(lit(1)).cast("double"), 6).as("digit_share"),
        round(sum(col("punct")).cast("double") / count(lit(1)).cast("double"), 6).as("punct_share"),
        round(sum(col("space")).cast("double") / count(lit(1)).cast("double"), 6).as("space_share"))
  }

  /** Encoding/extraction anomaly flags per document: control
    * characters, the U+FFFD replacement character (the mojibake
    * tombstone), and pathological unbroken runs — the pre-tokenizer
    * quarantine filter (one NUL in a doc usually means the whole
    * upstream batch is suspect). Pure scan-stage codegen'd regex
    * predicates over exact ints, no shuffle; flags are exact booleans
    * cast to int so the output hash-matches with no rounding at all.
    */
  def encodingAnomalies(documents: DataFrame, maxRun: Int = 200): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").cast("int").as("has_control"),
      col("text").contains("�").cast("int").as("has_replacement"),
      col("text").rlike(s"\\S{$maxRun,}").cast("int").as("has_long_run"))

  /** Flesch reading-ease score per document from three regex counts —
    * words (whitespace runs), sentences (terminal-punctuation runs),
    * syllables (vowel-group runs, the standard heuristic) — plus the
    * difficulty band the score falls in. The canonical curriculum /
    * complexity filter for training-data mixes: a pure scan-stage
    * per-row computation (three codegen'd regexp_extract_all counts
    * and one IEEE chain over exact ints — no shuffle at all), so it
    * runs at parquet-read speed at any corpus size. Sentence count
    * floors at 1 (a fragment is one sentence, not a divide-by-zero);
    * zero-word docs are excluded (no prose to score).
    */
  def readability(documents: DataFrame): DataFrame = {
    val words     = size(regexp_extract_all(trim(col("text")), lit("\\S+"), lit(0))).cast("long")
    val sentences = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1)).cast("long")
    val sylls     = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    val flesch = lit(206.835) -
      lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
      lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
    documents
      .select(col("doc_id"), words.as("n_words"), sentences.as("n_sentences"),
        sylls.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch", round(flesch, 6))
      .withColumn("band",
        when(col("flesch") >= 70.0, "easy")
          .when(col("flesch") >= 50.0, "standard")
          .when(col("flesch") >= 30.0, "difficult")
          .otherwise("very_difficult"))
  }

  /** Document novelty: mean IDF of each document's DISTINCT tokens —
    * boilerplate-heavy docs (common tokens everywhere) score low,
    * rare-vocabulary docs score high; the cheap novelty signal a
    * curation pipeline ranks on before paying for embeddings. One
    * token-explode scan → df table (co-partitioned token join, the
    * tf-idf shape) → per-doc mean. Per-token idf quantizes to
    * integer micro-units via floor(idf·1e6) (ln quotients are
    * engine-identical doubles; floor is unambiguous), so per-doc
    * sums are exact longs at any partition count and the mean is one
    * UNROUNDED IEEE chain.
    */
  def docNovelty(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("t"))
    val dfx = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nd  = documents.agg(count(lit(1)).as("n_docs"))
    toks
      .join(dfx, "t")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nd))
      .withColumn("midf",
        floor(log(col("n_docs").cast("double") / col("df")) * 1000000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("midf")).as("s"))
      .select(col("doc_id"), col("n_terms"),
        (col("s").cast("double") / col("n_terms") / 1000000.0).as("novelty"))
  }

  /** Language routing mix per source: predicted-language doc counts
    * and shares per feed — the mix report that routes each crawl's
    * slices to per-language pipelines and flags a feed whose 'en'
    * share suddenly halves (extractor broke or the feed changed).
    * One [[langId]] classifier scan + one bounded-grid aggregate
    * (≤ sources·langs cells); exact longs, one IEEE share each,
    * UNROUNDED.
    */
  def langMix(documents: DataFrame): DataFrame = {
    val m = documents.select(col("doc_id"), col("source"))
      .join(langId(documents), "doc_id")
      .groupBy(col("source"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val rt = m.groupBy(col("source")).agg(sum(col("n_docs")).as("t"))
    m.join(rt, "source")
      .select(col("source"), col("lang_pred"), col("n_docs"),
        (col("n_docs").cast("double") / col("t").cast("double")).as("share_of_source"))
  }

  /** Language-ID confusion matrix: the n-gram classifier
    * ([[langId]]) evaluated against the corpus's labeled `lang`
    * column — per (actual, predicted) cell counts plus the
    * within-language share, the standard eval readout that says
    * WHICH languages the heuristic confuses before anyone trusts
    * its routing. One classifier scan + one bounded-grid aggregate
    * (≤langs² cells); counts exact, shares one IEEE division each,
    * UNROUNDED.
    */
  def langConfusion(documents: DataFrame): DataFrame = {
    val m = documents.select(col("doc_id"), col("lang"))
      .join(langId(documents), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val rt = m.groupBy(col("lang")).agg(sum(col("n_docs")).as("t"))
    m.join(rt, "lang")
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        (col("lang") === col("lang_pred")).as("correct"),
        (col("n_docs").cast("double") / col("t").cast("double")).as("share_of_lang"))
  }

  /** Template/boilerplate prefix audit per source: the top-k most
    * repeated leading-`nTok`-token prefixes with doc counts and the
    * share of the source they open — the detector for injected
    * headers, cookie banners and scraper templates that
    * whole-document dedup misses (documents differ, their OPENINGS
    * don't). One scan-stage prefix projection + two reduced
    * aggregates; the top-k rank windows over the per-source prefix
    * frame (vocabulary-sized, never corpus-sized rows per group);
    * ties break on the prefix string. Exact longs, one IEEE share,
    * UNROUNDED. Only prefixes seen ≥2× surface — a unique opening
    * is not a template.
    */
  def templatePrefixes(documents: DataFrame, nTok: Int = 3, topK: Int = 5): DataFrame = {
    require(nTok >= 1 && topK >= 1, s"nTok/topK must be positive: $nTok/$topK")
    val toks   = split(lower(col("text")), " ")
    val prefix = array_join(slice(toks, 1, nTok), " ")
    val docs = documents
      .filter(size(toks) >= nTok)
      .select(col("source"), prefix.as("prefix"))
    val counts = docs.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .filter(col("n_docs") >= 2)
    val totals = documents.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("src_docs"))
    val w = Window.partitionBy("source").orderBy(col("n_docs").desc, col("prefix").asc)
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .join(totals, "source")
      .select(col("source"), col("rnk"), col("prefix"), col("n_docs"),
        (col("n_docs").cast("double") / col("src_docs").cast("double")).as("share_of_source"))
  }

  /** Code-likeness screen per source — the pretraining-mix triage
    * that says how much of each source is code rather than prose
    * (route to the code pipeline, or drop, BEFORE tokenization).
    * Per-doc signal is all integer character accounting in the scan
    * stage: counts of code-symbol characters ({}[]();=<>#) and
    * digits via length-minus-stripped (regexp_replace with the
    * identical pattern both engines, 'g' semantics), flagged
    * code-like by the cross-multiplied integer compare
    * 20·symbols > chars (a 5% symbol density — no float threshold).
    * One groupBy(source); exact counts, one IEEE share, UNROUNDED.
    */
  def codeDetect(docs: DataFrame, densityPct: Int = 5): DataFrame = {
    val chars = length(col("text"))
    val syms  = chars - length(regexp_replace(col("text"), "[{}\\[\\]();=<>#]", ""))
    val digs  = chars - length(regexp_replace(col("text"), "[0-9]", ""))
    val flagged = docs
      .select(col("source"), chars.cast("long").as("n_chars"),
        syms.cast("long").as("n_sym"), digs.cast("long").as("n_dig"))
      .withColumn("code_like", col("n_sym") * (100 / densityPct) > col("n_chars"))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("code_like").cast("long")).as("n_code_like"),
        sum(col("n_sym")).as("sym_chars"),
        sum(col("n_dig")).as("digit_chars"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("code_share",
        col("n_code_like").cast("double") / col("n_docs").cast("double"))
  }

  /** Heaps-law vocabulary growth audit: cumulative docs, token
    * volume, and DISTINCT vocabulary at `nCheckpoints` doc-id
    * checkpoints — the does-vocab-saturate curve that sizes a
    * tokenizer's vocab budget before training. Each doc lands in
    * band ceil(n·id/max_id) by EXACT integer arithmetic (no float
    * near a band edge); a token's vocabulary contribution counts
    * once at the band of its FIRST doc (one min aggregate per token
    * — the only big shuffle, keyed on the token axis); band totals
    * are exact-long counts on an n-row grid and the cumulative sums
    * are windows over those n rows only — never over data. Output:
    * one row per non-empty checkpoint, everything exact integers.
    */
  def heapsLaw(documents: DataFrame, nCheckpoints: Int = 10): DataFrame = {
    require(nCheckpoints >= 1, s"need at least one checkpoint: $nCheckpoints")
    val maxDf = broadcast(documents.agg(max(col("doc_id")).as("max_id")))
    // exact integer ceil-division (Spark's `/` on longs is DOUBLE
    // division — `div` keeps the band edge float-free)
    def band(idName: String) = greatest(lit(1L),
      expr(s"($idName * ${nCheckpoints.toLong} + max_id - 1) div max_id"))
    val toks = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tokBands = toks.crossJoin(maxDf)
      .groupBy(band("doc_id").as("cp"))
      .agg(count(lit(1)).as("tok_band"))
    val vocabBands = toks
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_id"))
      .crossJoin(maxDf)
      .groupBy(band("first_id").as("cp"))
      .agg(count(lit(1)).as("vocab_band"))
    val docBands = documents.crossJoin(maxDf)
      .groupBy(band("doc_id").as("cp"))
      .agg(count(lit(1)).as("doc_band"))
    val w = Window.orderBy("cp").rowsBetween(Window.unboundedPreceding, 0) // nCheckpoints band rows
    docBands
      .join(tokBands, Seq("cp"), "full_outer")
      .join(vocabBands, Seq("cp"), "full_outer")
      .select(col("cp"),
        sum(coalesce(col("doc_band"), lit(0L))).over(w).as("n_docs"),
        sum(coalesce(col("tok_band"), lit(0L))).over(w).as("n_tokens"),
        sum(coalesce(col("vocab_band"), lit(0L))).over(w).as("vocab"))
  }

  /** Jensen–Shannon divergence (nats) of every source's token
    * distribution vs the whole corpus — the feed-drift tripwire
    * (q_vocab_shift ranks individual tokens; this is the one-number
    * panel). Only tokens PRESENT in the source need rows: for the
    * absent tail, p = 0 collapses the JS integrand to q·ln2, so
    * JS_s = ½·[Σ_{t∈s}(p·ln p + q·ln q − (p+q)·ln((p+q)/2)) +
    * ln2·(1 − cov)] where cov = Σ_{t∈s} C_t / N is an EXACT integer
    * quotient. Per-token terms are one fixed IEEE chain each and
    * fold through floor(term·1e12) EXACT longs (the q_anova
    * cross-group recipe) so the vocab-sized sum is order-independent
    * at any partition count; the closing chain is fixed, 6dp. One
    * token-keyed co-partitioned join (source counts ⋈ corpus
    * counts); source totals broadcast (sources are a bounded dim).
    */
  def jsDivergence(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val corpus = toks.groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val tot    = broadcast(corpus.agg(sum(col("ct")).as("n_all")))
    val src    = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cs"))
    val stot   = broadcast(src.groupBy(col("source"))
      .agg(sum(col("cs")).as("n_s"), count(lit(1)).as("vocab_s")))
    val p = col("cs").cast("double") / col("n_s").cast("double")
    val q = col("ct").cast("double") / col("n_all").cast("double")
    val term = p * log(p) + q * log(q) - (p + q) * log((p + q) / 2)
    src.join(corpus, "tok")
      .join(stot, "source")
      .crossJoin(tot)
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        max(col("vocab_s")).as("vocab"),
        sum(floor(term * 1e12).cast("long")).as("tsum"),
        sum(col("ct")).as("cov_ct"),
        max(col("n_all")).as("n_all"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(
          (col("tsum").cast("double") / 1e12 +
            lit(math.log(2.0)) * (lit(1.0) - col("cov_ct").cast("double") / col("n_all").cast("double"))) / 2,
          6).as("js_nats"))
  }

  /** Token-frequency Gini per source: how concentrated is each
    * feed's token mass (0 = uniform usage, →1 = a handful of tokens
    * dominate) — boilerplate and template feeds read high before
    * any dedup runs. The rank-sum identity 2Σr·x/(V·Σx) − (V+1)/V
    * over counts ascending: ranks are a per-SOURCE window over the
    * source's VOCABULARY rows (already reduced — never the token
    * stream; deterministic (cnt, tok) order), Σr·x accumulates in
    * 128-bit decimal (rank·count products pass 2^53 at corpus
    * vocab), and G is one IEEE chain at 6dp via the splitDouble
    * portable conversion.
    */
  def tokenGini(documents: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt").asc, col("tok").asc)
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("n_tokens"),
        sum(col("rnk").cast(dec) * col("cnt").cast(dec)).as("rank_sum"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        round(
          lit(2.0) * Stats.splitDouble(col("rank_sum")) /
            (col("vocab").cast("double") * col("n_tokens").cast("double")) -
            (col("vocab") + 1).cast("double") / col("vocab").cast("double"),
          6).as("token_gini"))
  }
}
