package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives — all built from codegen'd
  * `functions._` (split/filter/regexp), no UDFs, so they inline into
  * WholeStageCodegen and scale linearly with input bytes.
  *
  * Reference analogs: app.py:424-426 analyze_sentiment (TextBlob
  * polarity), pdf_rag_chatbot.py:57 RecursiveCharacterTextSplitter.
  */
object TextFunctions {

  /** Whitespace tokens, lower-cased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Count of tokens belonging to a fixed lexicon. */
  def lexiconHits(text: Column, lexicon: Seq[String]): Column = {
    val lex = array(lexicon.map(lit): _*)
    size(filter(tokens(text), t => array_contains(lex, t)))
  }

  /** TextBlob-style polarity in [-1, 1]: (pos-neg)/(pos+neg), 0 when
    * no lexicon word is present.
    */
  def sentimentPolarity(text: Column, pos: Seq[String], neg: Seq[String]): Column = {
    val p = lexiconHits(text, pos).cast("double")
    val n = lexiconHits(text, neg).cast("double")
    when(p + n > 0, (p - n) / (p + n)).otherwise(lit(0.0))
  }

  /** Space-joined word n-grams as a per-row array — the codegen'd
    * `graft_word_ngrams` kernel (one pass per row), bit-
    * identical to the zip_with/filter HOF chain kept below as
    * [[ngramsHof]] (TextAnalysisSpec pins the equivalence). The HOF
    * chain is interpreted per element and fed every shingle scan of
    * the dedup family.
    */
  def ngrams(toks: Column, n: Int): Column =
    graft.plans.KernelTable.column("graft_word_ngrams", toks, n)

  /** The composed HOF form [[ngrams]] replaced: n-1 zip_with passes
    * against k-shifted slices (lambda bodies reference only lambda
    * variables, so the token expression evaluates once per row — the
    * transform(sequence(...)) formulation re-evaluates it per
    * ELEMENT, measured 5x slower). Kept ONLY as the equivalence
    * reference for the kernel; production paths must use [[ngrams]].
    */
  private[graft] def ngramsHof(toks: Column, n: Int): Column =
    (2 to n).foldLeft(toks) { (acc, k) =>
      val shifted = slice(toks, lit(k), greatest(size(toks) - (k - 1), lit(0)))
      filter(
        zip_with(acc, shifted, (a, w) => when(a.isNotNull && w.isNotNull, concat(a, lit(" "), w))),
        x => x.isNotNull)
    }

  /** Alphanumeric-run token count (BPE-ish regex tokenizer proxy). */
  def regexTokenCount(text: Column): Column = regexp_count(text, lit("[a-z0-9]+"))

  /** Stable cross-engine document fingerprint. */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** Offsets for fixed-size/overlap chunking: 0, stride, 2*stride, …
    * < length. stride = size - overlap.
    */
  def chunkOffsets(text: Column, size: Int, overlap: Int): Column = {
    val stride = size - overlap
    sequence(lit(0), greatest(length(text) - 1, lit(0)), lit(stride))
  }
}
