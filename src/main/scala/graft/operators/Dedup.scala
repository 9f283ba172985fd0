package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

/** Deduplication family for large-scale corpus curation: exact
  * (hash groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design: everything funnels through shingle/token explosion
  * followed by key-partitioned aggregation — the pair space is never
  * materialized except within LSH candidate buckets (banding bounds
  * bucket width), so cost is O(corpus) + O(candidates), not O(n^2).
  * All hashes are md5-derived so any SQL engine reproduces them.
  */
object Dedup {

  /** Distinct word shingles of width `n` per document. Shingle
    * arrays come from the zip_with-based n-gram builder
    * (TextFunctions.ngrams) — the tokenizer evaluates once per row,
    * not once per shingle.
    */
  def shingles(documents: DataFrame, n: Int = 3): DataFrame =
    documents
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.ngrams(split(lower(col("text")), " "), n)).as("s"))
      .distinct()

  /** Asymmetric near-dup by shingle CONTAINMENT — C(A,B) =
    * |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|): catches quote-inclusion
    * and subset documents (a short doc fully embedded in a long one)
    * that Jaccard structurally misses, because the union in J's
    * denominator is dominated by the longer doc (a 50-shingle doc
    * inside a 1000-shingle doc has J ≈ 0.05 but C = 1.0).
    *
    * Scale lever: STOP-SHINGLE FILTERING — shingles appearing in
    * more than `maxDf` documents are dropped BEFORE the posting-list
    * self-join, which bounds every posting list to maxDf entries and
    * the candidate volume to sum(df²) over surviving shingles (the
    * standard df-cap of C4-scale dedup; boilerplate shingles carry
    * no containment signal, and sizes are computed AFTER the cap so
    * both sides of the ratio live in the same filtered space). All
    * counts are integers and the ratio one IEEE division, so results
    * hash-match a SQL oracle exactly.
    */
  /** The capped (doc_id, fp) posting frame of [[containmentPairs]]
    * BEFORE its materialization — exposed so the plan audit can
    * assert the df<=maxDf cap structurally in the pre-checkpoint
    * plan (the checkpointed physical plan only shows ExistingRDD
    * scans, which would otherwise let a cap removal go unseen).
    */
  private[graft] def containmentKeyed(documents: DataFrame, n: Int = 3,
                                      maxDf: Int = 50): DataFrame = {
    val sh   = shingles(documents, n)
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(freq.filter(col("df") <= maxDf), "s")
      .select(col("doc_id"), md5(col("s")).as("fp"))
  }

  def containmentPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.5,
                       maxDf: Int = 50): DataFrame = {
    // keyed feeds THREE consumers (both self-join sides + sizes);
    // without the checkpoint each gets its own differently-pruned
    // copy of the explode+df-cap subtree — the sf0.1 plan ran three
    // concurrent single-task shingle scans and codegen'd each copy.
    // Corpus-sized: one row per surviving shingle occurrence.
    val keyed = containmentKeyed(documents, n, maxDf).materialize("Dedup.containmentPairs.keyed")
    val sizes = keyed.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = keyed.as("a")
      .join(keyed.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("overlap"))
    pairs
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("n_a")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("n_b")), "db")
      .withColumn("containment",
        col("overlap").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("da"), col("db"), col("overlap"), col("n_a"), col("n_b"), col("containment"))
  }

  /** Edit-distance near-duplicate pairs via PREFIX BLOCKING — the
    * fuzzy-matching complement of the shingle families: Levenshtein
    * sees single-character edits (typos, OCR noise, template slot
    * fills) that whole-token shingles miss entirely. Classic entity-
    * resolution shape: block on the text head (`prefixLen` chars —
    * crawl near-dups share their head; boilerplate diffs live in the
    * tail), drop blocks larger than `maxBlock` BEFORE the self-join
    * (the df-cap move of [[containmentPairs]] applied to blocks, so
    * candidate volume is bounded by sum(block²) ≤ maxBlock · n), and
    * confirm candidates with Levenshtein over the first `cmpLen`
    * chars — a bounded O(cmpLen²) per pair, never O(doc²). A pair
    * passes when dist · simDen ≤ max_len · simNum (distance at most
    * simNum/simDen of the longer head) — an all-integer cross-
    * multiplied compare, so the output is exact integers end to end
    * and hash-matches the SQL oracle with no float anywhere.
    */
  def editNearDup(documents: DataFrame, simNum: Int = 1, simDen: Int = 5,
                  prefixLen: Int = 32, cmpLen: Int = 200, maxBlock: Int = 256): DataFrame = {
    require(simNum >= 0 && simDen >= 1 && prefixLen >= 1 && cmpLen >= prefixLen && maxBlock >= 2,
      s"bad params: $simNum/$simDen prefix=$prefixLen cmp=$cmpLen maxBlock=$maxBlock")
    val pre = documents.select(
      col("doc_id"),
      substring(col("text"), 1, prefixLen).as("blk"),
      substring(col("text"), 1, cmpLen).as("head"))
    val ok = pre.groupBy(col("blk")).agg(count(lit(1)).as("blk_n"))
      .filter(col("blk_n") <= maxBlock)
      .select(col("blk"))
    val p = pre.join(ok, "blk")
    p.select(col("blk"), col("doc_id").as("doc_a"), col("head").as("head_a"))
      .join(
        p.select(col("blk"), col("doc_id").as("doc_b"), col("head").as("head_b")),
        Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("head_a"), col("head_b")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("head_a")), length(col("head_b"))).cast("long"))
      .filter(col("dist") * simDen <= col("max_len") * simNum)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("max_len"))
  }

  /** Benchmark decontamination (the eval-overlap pass every
    * training-data pipeline runs before a model sees the corpus):
    * flag corpus documents that share ANY word `n`-gram with the
    * held-out eval set, with the count of distinct overlapping
    * shingles as evidence. Production uses 13-grams (the GPT-3/PaLM
    * convention); the short synthetic fixtures use the default 3.
    *
    * Scale: the eval side is a benchmark suite — thousands of
    * documents, not billions — so its distinct shingle set rides the
    * join as a BROADCAST; the corpus side is one narrow
    * shingle-explode scan + one groupBy(doc_id), and clean documents
    * rejoin via a left join on the same doc_id shuffle. No pair
    * space, no corpus self-join; cost is O(corpus shingles).
    */
  def decontaminate(documents: DataFrame, evalIds: Seq[Long], n: Int = 3): DataFrame = {
    val sh     = shingles(documents, n)
    val evalSh = broadcast(sh.filter(col("doc_id").isin(evalIds: _*)).select("s").distinct())
    val hits = sh.filter(!col("doc_id").isin(evalIds: _*))
      .join(evalSh, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    documents.filter(!col("doc_id").isin(evalIds: _*)).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Distributed Bloom bitset over one string column: `k` probe
    * positions per value (xxhash64 of the value with a probe-index
    * suffix, mod `mBits`), OR-merged into an `mBits`-bit array by
    * `treeAggregate` — OR is commutative and associative, so the
    * resulting bitset is identical for every partitioning and
    * execution order. The bitset itself (mBits/8 bytes) is the only
    * thing that reaches the driver; at 100 TB that is the entire
    * point — a billion-document membership set becomes a few tens of
    * MB that broadcasts to every executor, where an exact broadcast
    * set would be hundreds of GB.
    */
  def bloomBitset(values: DataFrame, valueCol: String, mBits: Int, k: Int): Array[Long] = {
    require((mBits & (mBits - 1)) == 0 && mBits > 0, s"mBits must be a power of two, got $mBits")
    val probes = values
      .select(explode(transform(sequence(lit(0), lit(k - 1)), i =>
        // multi-arg xxhash64 folds the probe index into the hash
        // state directly — no per-probe string concat allocation
        pmod(xxhash64(col(valueCol), i), lit(mBits.toLong))))
        .as("idx"))
      .distinct()
    val words = mBits / 64
    Materialize.named("aggregate Dedup.bloomBitset.bits") {
      probes.select(col("idx")).rdd.map(_.getLong(0)).treeAggregate(new Array[Long](words))(
        (acc, p) => { acc((p >> 6).toInt) |= 1L << (p & 63); acc },
        (a, b) => { var i = 0; while (i < words) { a(i) |= b(i); i += 1 }; a })
    }
  }

  /** True iff every one of `v`'s `k` probe bits is set in the
    * broadcast `bits` literal — the Bloom membership test as pure
    * codegen'd built-ins (forall/xxhash64/bit ops), no UDF: the
    * probe stays inside whole-stage codegen on the corpus scan.
    */
  def bloomProbe(v: Column, bits: Array[Long], k: Int): Column = {
    val mBits = bits.length * 64L
    forall(
      transform(sequence(lit(0), lit(k - 1)), i => {
        // must mirror bloomBitset's probe hash exactly
        val h = pmod(xxhash64(v, i), lit(mBits))
        // getbit: the shift count is a column (h % 64), which the
        // Scala shiftleft overload can't express
        call_function("getbit",
          element_at(typedLit(bits.toSeq), (h / 64).cast("int") + 1),
          (h % 64).cast("int")) === 1
      }),
      x => x)
  }

  /** Sketch-path decontamination: shingle membership against the
    * KNOWN set via a Bloom bitset instead of an exact broadcast set
    * — the shape for when the filter side is itself corpus-sized
    * (decontaminating against a 10-billion-shingle registry), where
    * [[decontaminate]]'s exact broadcast cannot fit. Per probed
    * document: the exact distinct-shingle overlap count and
    * contamination flag (hash-matched against the SQL oracle), and
    * `bloom_consistent` — TRUE by Bloom's no-false-negative
    * guarantee, since the bloom overlap count can only OVERCOUNT
    * the exact one. The oracle asserts the flag as a literal
    * constant (the checked-twin pattern: exact values hash-matched,
    * sketch properties as engine-deterministic booleans); the
    * false-positive RATE is a spec-asserted bound, not part of the
    * gate. The probe is pure codegen'd built-ins on the corpus
    * shingle scan — no UDF, no second shuffle for the sketch side.
    */
  def bloomDecontaminate(documents: DataFrame, knownSources: Seq[String], n: Int = 3,
                         mBits: Int = 1 << 16, k: Int = 5): DataFrame = {
    // checkpointed: sh feeds the known side (which is itself read
    // twice — the bitset-build ACTION and the exact-confirm
    // broadcast) and the probe side; unmaterialized, the shingle
    // explode ran three times per query. Corpus-sized.
    val sh = shingles(documents, n)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .materialize("Dedup.bloomDecontaminate.sh")
    val known = sh.filter(col("source").isin(knownSources: _*)).select(col("s")).distinct()
    val bits  = bloomBitset(known, "s", mBits, k)
    val probes = sh.filter(!col("source").isin(knownSources: _*))
      .join(broadcast(known.withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        sum(coalesce(col("hit"), lit(0))).as("n_overlap"),
        sum(when(bloomProbe(col("s"), bits, k), 1L).otherwise(0L)).as("n_bloom"))
    documents.filter(!col("source").isin(knownSources: _*)).select("doc_id")
      .join(probes, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).cast("int").as("contaminated"),
        // no false negatives: the bloom count covers the exact count
        (coalesce(col("n_bloom"), lit(0L)) >= coalesce(col("n_overlap"), lit(0L)))
          .cast("int").as("bloom_consistent"))
  }

  /** Ingest-time incremental dedup — dedup a NEW batch against the
    * fingerprint registry of everything already ingested: the
    * every-crawl-cycle operator of a corpus pipeline. At 100 TB the
    * registry is billions of fingerprints, so instead of joining the
    * whole batch against it, a Bloom bitset of the registry (tens of
    * MB for billions of entries) broadcasts into the batch scan and
    * splits it at codegen stage: bloom-NEGATIVE docs are
    * definitively new (Bloom has no false negatives) and never touch
    * a join, while only the bloom-positive sliver — true duplicates
    * plus the declared false-positive rate — pays the exact confirm
    * join against the registry. `is_new` is EXACT: the bloom
    * shortcut provably changes no answer (that is the hash-matched
    * contract — a false negative would flip a row and fail the
    * driver gate). Cross-corpus only by design; within-batch
    * duplicates are [[exact]]'s job.
    */
  def incrementalDedup(registry: DataFrame, batch: DataFrame,
                       mBits: Int = 1 << 16, k: Int = 5): DataFrame = {
    val regFp = registry.select(md5(lower(col("text"))).as("fp")).distinct()
    val bits  = bloomBitset(regFp, "fp", mBits, k)
    val b = batch.select(col("doc_id"), md5(lower(col("text"))).as("fp"),
      bloomProbe(col("fp"), bits, k).as("hit"))
    val fresh = b.filter(!col("hit"))
      .select(col("doc_id"), col("fp"), lit(1).as("is_new"))
    val confirmed = b.filter(col("hit"))
      .join(regFp.withColumn("in_reg", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(col("in_reg").isNull, 1).otherwise(0).as("is_new"))
    fresh.unionByName(confirmed)
  }

  /** Exact dedup: canonical id + copy count per normalized-text hash. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(lower(col("text"))).as("fp"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Near-duplicate pairs by n-gram Jaccard >= threshold, via exact
    * AllPairs/PPJoin prefix filtering (Bayardo WWW'07, Xiao WWW'08):
    * shingles get a global rarity order (document frequency asc),
    * each doc joins only on its first `n_sh - ceil(t*n_sh) + 1`
    * rarest shingles — any pair with J >= t must share a prefix
    * shingle (pigeonhole: |A∩B| >= ceil(t*max(na,nb))), so candidate
    * generation is exact while the join keys are the LEAST shared
    * shingles in the corpus (tiny buckets, no quadratic blowup from
    * common phrases). Candidates also pass PPJoin's positional
    * filter — for the first shared prefix shingle at ranks (pa, pb),
    * overlap <= 1 + min(na-pa, nb-pb), which must reach the Jaccard
    * overlap floor ceil(t/(1+t)·(na+nb)) — and the size bound
    * na >= t*nb && nb >= t*na, then verify on the full sorted
    * shingle arrays with array_intersect.
    *
    * BOUNDED-CORPUS by declared semantics: prefix filtering is exact
    * but its candidate volume still saturates as the corpus grows
    * (rarity is relative — at 10x docs the prefix shingles are 10x
    * less rare, measured 9.6x time at x10 rows). The corpus-scale
    * default is [[ngramJaccardPairsBanded]]; set
    * `graft.pairSweep.maxKeys` to enforce this operator's bounded-
    * corpus contract loudly ([[Guards.withPairKeyCap]]).
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // the explode+distinct feeds three subtrees (docsets, freq,
    // prefix) — checkpointed: column pruning specializes each copy's
    // scan (s-only vs doc_id+s), so their exchanges stop being
    // canonically identical and ReusedExchange does NOT in fact share
    // them (the sf0.1 plan ran three concurrent copies of the shingle
    // explode and codegen'd each). Corpus-sized.
    val sh = shingles(documents, n).materialize("Dedup.ngramJaccardPairs.sh")
    // one row per doc: sorted shingle set + its size (verification side)
    val docsets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("arr"), count(lit(1)).as("n_sh"))
    // global shingle rarity = document frequency
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    // n_sh via count-over-partition: rides the SAME doc_id shuffle
    // the rank window already pays — the former docsets join here
    // re-shuffled the entire shingle set a second time just to fetch
    // one integer per doc
    val prefix = sh
      .join(freq, "s")
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(wDoc))
      // epsilon guards the exact-boundary case: when t*n_sh is
      // mathematically integral, fp overshoot must not shorten the
      // prefix and drop J == t pairs (a longer prefix is only extra
      // candidates; verification keeps the result exact)
      .filter(col("rn") <= col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1)
      // candidate join keys on a 64-bit shingle hash, not the string:
      // shuffle width drops to fixed 8 bytes/row and the equality is
      // a long compare. A hash collision can only ADD candidates
      // (verification on the exact string arrays filters them), never
      // drop one — equal strings always hash equal — so exactness holds
      .select(col("doc_id"), xxhash64(col("s")).as("sh64"), col("n_sh"), col("rn"))
    val guarded = Guards.withPairKeyCap(prefix, documents.select(col("doc_id")), "ngramJaccardPairs")
    // positional filter (PPJoin): a J >= t pair's FIRST shared prefix
    // shingle has nothing common before it on either side, so overlap
    // <= 1 + min(na-pa, nb-pb); requiring that to reach the overlap
    // floor t/(1+t)·(na+nb) drops hopeless candidate rows in the join
    // itself. Exact: the first-shared-shingle row of every
    // qualifying pair always passes (other rows of the same pair may
    // drop — distinct() needs any one), and collisions only add rows
    val overlapFloor = ceil((col("a.n_sh") + col("b.n_sh")) * (threshold / (1 + threshold)) - 1e-9)
    val cand = guarded.as("a")
      .join(guarded.as("b"),
        col("a.sh64") === col("b.sh64") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") >= col("b.n_sh") * threshold &&
          col("b.n_sh") >= col("a.n_sh") * threshold &&
          lit(1) + least(col("a.n_sh") - col("a.rn"), col("b.n_sh") - col("b.rn")) >= overlapFloor)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cand
      .join(docsets.select(col("doc_id").as("da"), col("arr").as("arr_a"), col("n_sh").as("na")), "da")
      .join(docsets.select(col("doc_id").as("db"), col("arr").as("arr_b"), col("n_sh").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Corpus-scale n-gram Jaccard — the banded default: MinHash-LSH
    * banding generates candidates (band-bucket joins, bounded bucket
    * width), exact n-gram Jaccard verifies each candidate on the
    * full sorted shingle arrays. The output is exactly
    * [[ngramJaccardPairs]] ∩ LSH candidates (spec-asserted): banding
    * trades the exact sweep's saturating candidate volume for a
    * probabilistic recall floor — 4 bands of 2 rows give
    * P(candidate) = 1-(1-j²)⁴, ≈0.98 at j=0.8 and >0.999 at j=0.9 —
    * which is the trade every corpus-scale dedup pipeline ships
    * (MinHashLSH in the C4/RefinedWeb/Gopher family). Cost is
    * O(corpus shingles) + O(candidates), with candidates bounded by
    * band-bucket occupancy instead of prefix-shingle rarity, so it
    * stays ~linear where PPJoin saturates (measured: 9.6x → ~3x at
    * x10 rows). Signatures come from the codegen'd per-row MinHash
    * expression at the default n=3 (one md5 per shingle in the scan
    * stage); other shingle widths fall back to the composed plan.
    */
  def ngramJaccardPairsBanded(documents: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val cand =
      if (n == 3) minhashLshCandidatesFast(documents)
      else minhashLshCandidates(documents, k = 8, n = n)
    val docsets = shingles(documents, n).groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("arr"), count(lit(1)).as("n_sh"))
    cand
      .join(docsets.select(col("doc_id").as("da"), col("arr").as("arr_a"), col("n_sh").as("na")), "da")
      .join(docsets.select(col("doc_id").as("db"), col("arr").as("arr_b"), col("n_sh").as("nb")), "db")
      // size bound first: a cheap long compare that drops a candidate
      // before its array intersection is computed
      .filter(col("na") >= col("nb") * threshold && col("nb") >= col("na") * threshold)
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** MinHash signatures: ONE md5 per shingle, whose 128-bit digest
    * yields two 32-bit lanes (h1, h2); "permutation" j is the
    * Carter–Wegman multi-hash (h1 + j*h2) mod 2^32 — engine-portable
    * (plain SQL on the md5 hex) and a valid uniform family. All k
    * mins are computed in ONE groupBy pass (k agg columns), so the
    * shingle set shuffles once instead of k times.
    */
  def minhashWide(documents: DataFrame, k: Int = 8, n: Int = 3): DataFrame = {
    val h1   = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    val h2   = conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long")
    val mins = (0 until k).map(j => min((h1 + lit(j.toLong) * h2) % lit(4294967296L)).as(s"m$j"))
    shingles(documents, n).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Narrow (doc_id, j, m) view of the signature for library users. */
  def minhash(documents: DataFrame, k: Int = 8, n: Int = 3): DataFrame = {
    val stackArgs = (0 until k).map(j => s"${j}L, m$j").mkString(", ")
    minhashWide(documents, k, n)
      .select(col("doc_id"), expr(s"stack($k, $stackArgs) as (j, m)"))
  }

  /** LSH banding (2 minhash rows per band): signature per (doc,
    * band) = the band's two minhash values joined as a string; docs
    * sharing any band signature are candidates. Bands come straight
    * off the wide signature row — no extra shuffle before the bucket
    * join.
    */
  def minhashLshCandidates(documents: DataFrame, k: Int = 8, n: Int = 3): DataFrame = {
    val bands = k / 2
    val stackArgs = (0 until bands)
      .map(b => s"${b}L, concat(cast(m${2 * b} as string), ':', cast(m${2 * b + 1} as string))")
      .mkString(", ")
    val sig = minhashWide(documents, k, n)
      .select(col("doc_id"), expr(s"stack($bands, $stackArgs) as (band, sig)"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** 60-bit SimHash over the token multiset, hashes from md5 hex.
    * Single-pass: one agg per doc with 60 conditional-sum bit
    * counters (no 60x row blowup), then the counters fold into one
    * long — the same shape a TypedImperativeAggregate would have,
    * expressed with codegen'd built-ins.
    */
  def simhash(documents: DataFrame, hexOff: Int = 1): DataFrame = {
    val toks    = split(lower(col("text")), " ")
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) % 2") === 1, 1).otherwise(-1)).as(s"s$b"))
    documents
      .select(col("doc_id"), explode(toks).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), hexOff, 15), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("doc_id"),
        (0 until 60)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** SimHash via the custom Catalyst expression: the whole fold runs
    * per row inside the scan stage — zero shuffle, the 100 TB path.
    * Bit-identical to simhash() (asserted in spec).
    */
  def simhashFast(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"), expr("graft_simhash(text)").as("simhash"))
  }

  /** 120-bit SimHash as two 60-bit lane columns via the codegen'd
    * graft_simhash_wide kernel: lane 0 is bit-identical to the 60-bit
    * simhash (same md5 hex chars 1-15), lane 1 folds chars 16-30 of
    * the SAME digest — one md5 per token, so the wide signature
    * costs what the narrow one does. Exists for banding headroom at
    * corpus scale (see [[simhashNearDupPairsWide]]).
    */
  def simhashWide(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("doc_id"), expr("graft_simhash_wide(text)").as("sh"))
      .select(col("doc_id"), col("sh")(0).as("sh_lo"), col("sh")(1).as("sh_hi"))
  }

  /** MinHash-LSH candidates via the custom signature expression:
    * signatures per row in the scan stage; only the (band, sig)
    * pairs shuffle for the bucket join.
    */
  def minhashLshCandidatesFast(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val bandExprs = (0 until 4)
      .map(b => s"${b}L, concat(cast(mh[${2 * b}] as string), ':', cast(mh[${2 * b + 1}] as string))")
      .mkString(", ")
    val sig = documents
      .select(col("doc_id"), expr("graft_minhash_sig(text)").as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), expr(s"stack(4, $bandExprs) as (band, sig)"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Similarity histogram of the LSH candidate pairs — the
    * threshold-tuning curve every dedup rollout needs BEFORE
    * committing to 0.8: decile counts of exact n-gram Jaccard over
    * the banded candidates (the same candidate set the production
    * [[ngramJaccardPairsBanded]] path verifies, INCLUDING its
    * zero-overlap false positives, which land in bucket 0 and
    * measure the banding's precision). The bucket is the exact
    * integer division (10·∩) div ∪ — no float decile boundary —
    * so bucket 10 is exact duplicates. Counts exact longs; shares
    * one IEEE division off a broadcast total.
    */
  def dedupSimHistogram(documents: DataFrame, n: Int = 3): DataFrame = {
    val cand = minhashLshCandidatesFast(documents)
    val docsets = shingles(documents, n).groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("arr"), count(lit(1)).as("n_sh"))
    val hist = cand
      .join(docsets.select(col("doc_id").as("da"), col("arr").as("arr_a"), col("n_sh").as("na")), "da")
      .join(docsets.select(col("doc_id").as("db"), col("arr").as("arr_b"), col("n_sh").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("bucket", expr("(10 * inter) div (na + nb - inter)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val tot = hist.agg(sum(col("n_pairs")).as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("t").cast("double")).as("share"))
  }

  /** End-to-end curation pipeline composition: normalize text,
    * chunk it, then exact-dedup the CHUNKS corpus-wide — the shape
    * of a real pretraining-data pass (boilerplate chunks collapse
    * across documents). Entirely narrow until the final dedup
    * groupBy: one shuffle total.
    */
  def curationPipeline(documents: DataFrame, size: Int, overlap: Int): DataFrame = {
    val cleaned = Stats.cleanNormalize(documents).select(col("doc_id"), col("norm_text").as("text"))
    val chunks  = TextAnalysis.chunk(cleaned, size, overlap)
    chunks
      // encoded (doc, chunk) key: chunk_id is always < 1000, so the
      // min of doc_id*1000+chunk_id is the lexicographic minimum
      .groupBy(md5(col("chunk")).as("chunk_fp"))
      .agg(
        min(col("doc_id") * 1000 + col("chunk_id")).as("canon_key"),
        count(lit(1)).as("n_copies"))
      .select(
        col("chunk_fp"),
        expr("canon_key div 1000").as("canonical_doc"),
        (col("canon_key") % 1000).as("canonical_chunk"),
        col("n_copies"))
  }

  /** Cross-document repeated n-token spans — the sub-document dedup
    * granularity of the C4/RefinedWeb family ("remove spans seen in
    * more than one document"): whole-doc dedup misses boilerplate
    * shared by otherwise-distinct pages; this inventories it. One
    * shuffle: per-doc DISTINCT spans explode in the scan stage
    * (zip_with n-gram builder, no raw-token shuffle), then a
    * fingerprint groupBy counts the documents carrying each span.
    * Group keys are md5 fingerprints (fixed 32 bytes however long
    * the span); the span text rides along as min() so the output is
    * deterministic.
    */
  def repeatedSpans(documents: DataFrame, n: Int = 3, minDocs: Int = 2): DataFrame =
    documents
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.TextFunctions.ngrams(split(lower(col("text")), " "), n)))
          .as("span"))
      .groupBy(md5(col("span")).as("span_fp"))
      .agg(min(col("span")).as("span"), count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Sub-document dedup REMOVAL — the RefinedWeb/CCNet curation step
    * [[repeatedSpans]] only detects: every token covered by an
    * n-gram span that repeats across >= minDocs documents is struck
    * from every document EXCEPT the span's first (min doc_id)
    * holder, and the document is rebuilt from the surviving tokens.
    * Keep-first is doc-level: the first holder keeps all its
    * occurrences. Output carries the cleaned text plus token
    * accounting (n_toks, n_removed) so the removal rate is auditable
    * per document.
    *
    * Scale shape: no pair space anywhere — one fingerprint groupBy
    * builds the repeated-span registry, one equi-join on span_fp
    * marks covered start positions (shuffle keyed on the
    * fingerprint, so hot spans spread by doc), one groupBy collapses
    * them to a per-doc start list, and the rebuild is per-row array
    * work against that list (covered-interval test per token). All
    * arithmetic is integer positions + md5 — the rebuilt text is a
    * pure function of the corpus, hash-matchable in SQL.
    */
  def stripRepeatedSpans(documents: DataFrame, n: Int = 3, minDocs: Int = 2): DataFrame = {
    val reg = repeatedSpans(documents, n, minDocs).select(col("span_fp"), col("first_doc"))
    val docSpans = documents
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.ngrams(split(lower(col("text")), " "), n)))
      .toDF("doc_id", "pos", "span")
      .select(col("doc_id"), col("pos"), md5(col("span")).as("span_fp"))
    val covered = docSpans.join(reg, "span_fp")
      .filter(col("doc_id") =!= col("first_doc"))
      .groupBy("doc_id").agg(array_sort(collect_set(col("pos"))).as("starts"))
    documents
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), expr("CAST(array() AS array<int>)")))
      // split("") is [""] (size 1), so sequence(0, size-1) never sees
      // the descending size=0 edge
      .withColumn("ks", expr(
        s"filter(sequence(0, size(ts) - 1), k -> NOT exists(starts, s -> s <= k AND k <= s + ${n - 1}))"))
      .select(col("doc_id"),
        expr("array_join(transform(ks, k -> element_at(ts, CAST(k + 1 AS INT))), ' ')").as("clean_text"),
        size(col("ts")).cast("long").as("n_toks"),
        (size(col("ts")) - size(col("ks"))).cast("long").as("n_removed"))
  }

  /** Connected components over near-dup candidate pairs — the last
    * step of a real dedup pass: pairs -> clusters -> one canonical
    * doc (the min id) per cluster. Min-label propagation: each
    * iteration is one shuffle join + a min-aggregate, converging in
    * O(cluster diameter) rounds; near-dup clusters are clique-ish so
    * 1-2 rounds dominate. `materialize` truncates lineage each
    * round so the plan doesn't grow with iterations. For adversarial
    * long-chain graphs use [[clustersBigStar]] (Kiveris+ '14), which
    * converges in O(log^2 n) rounds regardless of diameter; the
    * output shape is identical.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // explode, not union-of-two-selects: a union evaluates the
    // unmaterialized candidate-pair build once per branch
    // keyed by the join side ONCE (guide §2.4): every round's prop
    // join reads edges on a — an unkeyed checkpoint re-exchanged the
    // edge frame per round
    val edges = pairs.select(explode(array(
        struct(col("da").as("a"), col("db").as("b")),
        struct(col("db").as("a"), col("da").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("a"))
      .materialize("Dedup.clusters.edges")
    // convergence via the label-sum: every step takes a min against
    // the previous label, so per-node labels are monotone
    // non-increasing over a fixed node set — the sum is unchanged
    // iff NO node changed. DECIMAL sum: overflow-proof at any id
    // scale. The sum rides the SAME checkpoint job via observe()
    // (CollectMetricsExec accumulates during the materialization) —
    // the former separate labelSum action cost one driver round-trip
    // per round for an aggregate over rows the checkpoint had just
    // touched.
    def sumAgg = coalesce(
      sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
      lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s")
    def obsSum(o: org.apache.spark.sql.Observation): java.math.BigDecimal =
      o.get.apply("s").asInstanceOf[java.math.BigDecimal]
    val obs0 = new org.apache.spark.sql.Observation
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .observe(obs0, sumAgg)
      .materialize("Dedup.clusters.labels")
    var prevSum = obsSum(obs0)
    var changed = true
    var iter    = 0
    while (changed && iter < maxIters) {
      val prop = labels.join(edges, labels("node") === edges("a"))
        .select(col("b").as("node"), col("label"))
      val obsI = new org.apache.spark.sql.Observation
      val next = labels.union(prop).groupBy("node").agg(min("label").as("label"))
        .observe(obsI, sumAgg)
        .materialize("Dedup.clusters.next")
      val nextSum = obsSum(obsI)
      changed = nextSum.compareTo(prevSum) != 0
      labels = next
      prevSum = nextSum
      iter += 1
    }
    // propagation needs O(cluster diameter) rounds; silently wrong
    // clusters would poison every downstream canonical-id choice
    if (changed)
      throw new IllegalStateException(
        s"dedup cluster propagation did not converge in $maxIters rounds " +
          "(cluster diameter exceeds the cap) — raise maxIters or use large-star/small-star")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Alternating large-star/small-star connected components
    * (Kiveris+ '14, "Connected Components in MapReduce and Beyond"):
    * converges in O(log^2 n) rounds on ANY graph shape — the drop-in
    * for adversarial long-chain graphs where [[clusters]]' min-label
    * propagation needs O(diameter) rounds. Both half-steps are pure
    * relational plans — a per-node min aggregate joined back to the
    * edge list, never a materialized neighborhood per row — so each
    * round is a bounded number of shuffles regardless of degree
    * distribution, and high-degree hubs can't blow up a single task.
    * Output matches [[clusters]]: (doc_id, cluster_id = component
    * min), one row per node that appears in any pair.
    */
  def clustersBigStar(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // large-star: every node links its LARGER neighbors to the min of
    // its neighborhood (incl. itself) — long chains contract toward
    // small ids without ever disconnecting a component
    def largeStar(e: DataFrame): DataFrame = {
      val sym  = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("mn"), col("a")).as("m"))
      sym.join(mins, "a")
        .filter(col("b") > col("a") && col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star: every node links its smaller-or-equal neighbors
    // (edges oriented high->low) to the neighborhood min
    def smallStar(e: DataFrame): DataFrame = {
      val or   = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val mins = or.groupBy("u").agg(min("v").as("m"))
      or.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .distinct()
    }
    // self-pairs carry no connectivity and are dropped from the edge
    // iteration — but a node whose ONLY pairs are self-pairs must
    // still surface as a singleton (clusters() emits it; the output
    // contract is identical), so remember the full node set up front
    // ONE evaluation of the (possibly expensive) candidate-pair
    // build: the slim pair frame checkpoints first, then the node set
    // and the edge set both derive from the materialized copy (the
    // previous two-selects-union + separate edge select ran the
    // build three times)
    val pe = pairs.select(col("da"), col("db")).materialize("Dedup.clustersBigStar.pe")
    val allNodes = pe.select(explode(array(col("da"), col("db"))).as("node")).distinct()
    // edge counts ride the checkpoint jobs (materializeCounted) — the
    // former separate count() action cost one driver round-trip per
    // round for a count of rows the checkpoint had just written
    var (edges, edgeCount) = pe.select(col("da").as("a"), col("db").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .materializeCounted("Dedup.clustersBigStar.edges")
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val (next, nextCount) = smallStar(largeStar(edges)).materializeCounted("Dedup.clustersBigStar.next")
      // both sides are distinct sets: fixpoint iff same size, no diff
      // (prior round's count is carried — no redundant recount job)
      done = nextCount == edgeCount &&
        Materialize.named("isEmpty Dedup.clustersBigStar.diff")(next.except(edges).isEmpty)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $maxIters rounds")
    val labeled = edges.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(edges.select(col("b").as("doc_id"), col("b").as("cluster_id")))
      .distinct()
    // singleton rows (self-pair-only nodes) — tiny anti join
    labeled.union(
      allNodes.join(labeled, allNodes("node") === labeled("doc_id"), "left_anti")
        .select(col("node").as("doc_id"), col("node").as("cluster_id")))
  }

  /** Quality-aware canonical selection: per near-duplicate cluster,
    * keep the HIGHEST-quality member (ties by doc_id) instead of the
    * arbitrary min-id — what curation pipelines actually ship, since
    * the best copy of a duplicated page is rarely the one with the
    * smallest id. Documents in no cluster are their own canonical.
    * One rank window on the cluster key after the label join; the
    * quality table is one row per doc riding the same shuffle.
    * Quality values are exact unrounded ratio sums (engine-
    * identical), so the argmax is deterministic everywhere.
    */
  def keepBest(documents: DataFrame, pairs: DataFrame, quality: DataFrame): DataFrame = {
    val labeled = documents.select(col("doc_id"))
      .join(clusters(pairs), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(quality, "doc_id")
    val w = Window.partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    labeled.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("quality"))
  }

  /** End of the dedup pipeline: the cleaned corpus. Near-dup
    * candidates -> connected components -> drop every non-canonical
    * cluster member (anti join keeps the corpus scan streaming; only
    * the small drop-list shuffles).
    */
  def dropNearDuplicates(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = clusters(pairs).filter(col("cluster_id") =!= col("doc_id")).select(col("doc_id"))
    documents.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist —
    * library-level helper (pairs all docs; use simhashNearDupPairs,
    * the banded variant, at scale).
    */
  def simhashPairs(sims: DataFrame, maxDist: Int): DataFrame =
    sims.as("a")
      .join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("dist") <= maxDist)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"), col("dist"))

  /** EXACT banded hamming join: the 60-bit simhash splits into
    * `bands` 12-bit bands; by pigeonhole any pair with at most
    * bands-1 differing bits matches on at least one whole band, so
    * the band-equality self-join is an exact candidate generator for
    * maxDist <= bands-1 — candidates verify on the full XOR
    * popcount. The corpus never pairs all-vs-all: only docs sharing
    * a 12-bit band value meet, which is the 100 TB replacement for
    * the quadratic simhashPairs sweep.
    *
    * Scale characteristic (measured in the x10 audit, SCALE_FULL
    * r8: 19.6x for 10x docs): each 12-bit band has 4096 possible
    * values, so once the corpus is large enough to saturate them
    * the within-bucket candidate space grows quadratically in
    * corpus size — the measured ratio is sublinear in CANDIDATES
    * (100x here) but superlinear in rows. The shipped knob for
    * production corpus sizes is [[simhashNearDupPairsWide]]: a
    * 120-bit signature with 20-bit bands — same pigeonhole
    * guarantee, 256x the bucket space, same one-md5-per-token cost;
    * for this 60-bit signature the bound 12*bands <= 60 pins the
    * trade.
    */
  def simhashNearDupPairs(documents: DataFrame, maxDist: Int = 4, bands: Int = 5): DataFrame = {
    require(maxDist <= bands - 1, s"banding is only exact for maxDist <= ${bands - 1}")
    // bands beyond the 60-bit signature would all read the zero bits
    // past bit 59 — every doc matches on them, silently degrading the
    // join to all-pairs
    require(12 * bands <= 60, s"$bands 12-bit bands exceed the 60-bit simhash (max 5)")
    val sims = simhashFast(documents)
    val stackArgs = (0 until bands)
      .map(b => s"${b}L, cast(shiftright(simhash, ${12 * b}) & 4095 as long)")
      .mkString(", ")
    val banded = sims.select(col("doc_id"), col("simhash"),
      expr(s"stack($bands, $stackArgs) as (band, bv)"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("da"), col("db"), col("dist"))
  }

  /** EXACT banded hamming join over the 120-bit signature — the
    * corpus-scale answer to the 12-bit bands' bucket saturation:
    * `bands` equal-width bands tile all 120 bits, so the pigeonhole
    * guarantee (any pair with dist <= bands-1 shares a whole band)
    * is unchanged, but each band has 2^(120/bands) possible values —
    * at the default 6 bands that is 2^20 per band, 256x the 12-bit
    * bucket space, which pushes the occupancy point where
    * within-bucket candidates go quadratic out by the same factor.
    * Distance is the full 120-bit hamming distance (popcount of
    * both lane XORs).
    *
    * Band widths are constrained to divide 60 so no band straddles
    * the two lane longs — each band value is a single shift+mask on
    * one lane, and the SQL oracle mirrors it operator by operator.
    */
  def simhashNearDupPairsWide(documents: DataFrame, maxDist: Int = 4, bands: Int = 6): DataFrame = {
    require(maxDist <= bands - 1, s"banding is only exact for maxDist <= ${bands - 1}")
    require(bands > 0 && 120 % bands == 0, s"$bands bands must tile the 120-bit signature")
    val width = 120 / bands
    require(60 % width == 0, s"band width $width would straddle the two 60-bit lanes")
    val mask    = (1L << width) - 1
    val perLane = 60 / width
    val sims    = simhashWide(documents)
    val stackArgs = (0 until bands).map { b =>
      val (lane, off) =
        if (b < perLane) ("sh_lo", width * b) else ("sh_hi", width * (b - perLane))
      s"${b}L, cast(shiftright($lane, $off) & $mask as long)"
    }.mkString(", ")
    val banded = sims.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
      expr(s"stack($bands, $stackArgs) as (band, bv)"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sh_lo").as("alo"), col("a.sh_hi").as("ahi"),
        col("b.sh_lo").as("blo"), col("b.sh_hi").as("bhi"))
      .distinct()
      .withColumn("dist",
        (bit_count(col("alo").bitwiseXOR(col("blo"))) +
          bit_count(col("ahi").bitwiseXOR(col("bhi")))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("da"), col("db"), col("dist"))
  }

  /** Duplicate-cluster size distribution — the corpus-health summary
    * every dedup pass should report ("how much of the corpus sits in
    * duplicate clusters, and how big are they?"): resolve candidate
    * pairs to connected components ([[clusters]]), extend to the
    * FULL corpus by treating every unpaired doc as its own
    * singleton cluster, then histogram cluster sizes. Output one row
    * per size: number of clusters, docs covered, and each size's
    * share of the corpus (unrounded exact-long quotient). The
    * corpus extension is one left join of the doc-id scan against
    * the (small) pair-resolved label frame; both groupBys reduce
    * frames that are already cluster-sized, never corpus-wide pair
    * spaces. Exact longs throughout.
    */
  /** MinHash Jaccard ESTIMATION audit: for every LSH candidate pair,
    * the signature-based estimate (matching lanes / k) next to the
    * exact n-gram Jaccard and the absolute error — the
    * know-your-sketch pass that tells you whether k lanes are enough
    * for the corpus before trusting the estimate at scale (stderr ≈
    * sqrt(j(1−j)/k)). Everything md5-deterministic: the signature is
    * the codegen'd per-row MinHash expression, candidates come from
    * the banded join, and exact verification reuses the
    * [[ngramJaccardPairsBanded]] docset join — so estimate, exact
    * score, and error all hash-match a SQL oracle. One signature
    * scan + the banded candidate join + one docset join; no
    * all-pairs anywhere.
    */
  def jaccardEstimatePairs(documents: DataFrame, n: Int = 3): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val k = 8
    val sig = documents
      .select(col("doc_id"), expr("graft_minhash_sig(text)").as("mh"))
      .filter(col("mh").isNotNull)
    val cand = minhashLshCandidatesFast(documents)
    val docsets = shingles(documents, n).groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("arr"), count(lit(1)).as("n_sh"))
    val lanesMatch = (1 to k)
      .map(j => when(element_at(col("mh_a"), j) === element_at(col("mh_b"), j), 1L).otherwise(0L))
      .reduceLeft(_ + _)
    cand
      .join(sig.select(col("doc_id").as("da"), col("mh").as("mh_a")), "da")
      .join(sig.select(col("doc_id").as("db"), col("mh").as("mh_b")), "db")
      .withColumn("match_lanes", lanesMatch)
      .join(docsets.select(col("doc_id").as("da"), col("arr").as("arr_a"), col("n_sh").as("na")), "da")
      .join(docsets.select(col("doc_id").as("db"), col("arr").as("arr_b"), col("n_sh").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .withColumn("est", col("match_lanes").cast("double") / k)
      .select(col("da"), col("db"), col("match_lanes"), col("est"), col("jaccard"),
        abs(col("est") - col("jaccard")).as("abs_err"))
  }

  def clusterSizeProfile(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = clusters(pairs)
    val full = documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"))
    val sizes = full.groupBy(col("cid")).agg(count(lit(1)).as("sz"))
    val total = sizes.agg(sum(col("sz")).as("n_docs_total"))
    sizes
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") * col("n_clusters")).cast("double") /
          col("n_docs_total").cast("double")).as("corpus_share"))
  }

  /** Cross-source shingle-overlap matrix: for every source pair, the
    * shared n-gram count with Jaccard AND containment — the
    * provenance audit that catches one crawl mirroring another (high
    * containment, low Jaccard) or two feeds of the same upstream
    * (high both) before they double-weight a training mix. Sources
    * are a BOUNDED dimension, which is the scale design: the corpus
    * reduces to distinct (source, shingle) postings first, the
    * equi-join on the shingle emits at most sources² rows per
    * shingle (a constant), and the size dim joining back is
    * ≤ sources rows — broadcast. Counts exact longs; the two ratios
    * are one IEEE division each, unrounded (exact ints in, so both
    * engines divide identical operands).
    */
  /** Duplication health per source: how much of each source is
    * within-source duplicate mass, and how much of it also appears
    * in OTHER sources — the per-feed dedup scorecard that decides
    * which crawl gets down-weighted before the mix. One fingerprint
    * scan feeds both counts: within-source dup mass is docs minus
    * distinct fps (exact longs per source), cross-source sharing
    * joins the per-fp source-spread dim (reduced: one row per fp)
    * back co-partitioned. No pair space anywhere.
    */
  def dupRateBySource(documents: DataFrame): DataFrame = {
    val fps = documents.select(col("doc_id"), col("source"), md5(lower(col("text"))).as("fp"))
    val spread = fps.select(col("fp"), col("source")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_sources"))
    fps.join(spread, "fp")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_within"),
        sum((col("n_sources") >= 2).cast("long")).as("n_shared_cross"))
      .select(col("source"), col("n_docs"), col("n_unique"), col("n_dup_within"),
        col("n_shared_cross"),
        round(col("n_dup_within").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
  }

  def sourceOverlap(documents: DataFrame, n: Int = 3): DataFrame = {
    // checkpointed: sh feeds sizes + both self-join sides, and the
    // three copies prune differently (see ngramJaccardPairs).
    // Corpus-sized: distinct (source, shingle) pairs grow with the
    // corpus.
    val sh = shingles(documents, n)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("s")).distinct()
      .materialize("Dedup.sourceOverlap.sh")
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("s"), col("source").as("sa"))
      .join(sh.select(col("s"), col("source").as("sb")), "s")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("sa"), col("n_sh").as("n_a"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("n_sh").as("n_b"))), "sb")
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("inter"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"),
        (col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
  }

  /** Content-Defined Chunking dedup audit (the FastCDC/gear-hash
    * family): every document splits at positions where a rolling
    * gear hash hits a boundary mask, so an insertion early in a
    * shared passage SHIFTS chunk boundaries with the content instead
    * of breaking every fixed-width window downstream — the chunking
    * storage dedup and incremental-sync pipelines run before
    * hashing. Per source: chunk count, distinct chunk count, dup
    * ratio, mean chunk length. ALL-INTEGER rolling state: gear
    * g(c) = c·2654435761 mod 2³², roll h = (2h + g(c)) mod 2³², cut
    * when h mod `mask` == 0 and ≥ `minLen` chars since the last cut
    * (then h resets) — exact long arithmetic both engines, seeded
    * from the first char (the [[TimeSeries.trix]] seeded-fold
    * convention, since DuckDB's list_reduce has no init). Chunk
    * identity is md5 of the substring. One scan + one linear fold
    * per doc (state is O(cuts)); per-source aggregate. The oracle
    * mirrors the fold as a struct-element list_reduce.
    */
  def cdcChunks(documents: DataFrame, mask: Long = 64L, minLen: Int = 16): DataFrame = {
    require(mask >= 2 && minLen >= 1, s"mask/minLen out of range: $mask, $minLen")
    // the fold runs in the codegen'd graft_cdc_bounds kernel (one static
    // call per row inside the scan stage); cdcBoundsHof below is the
    // composed-plan form it replaced, kept so the equivalence stays
    // spec-pinned (the interpreted HOF measured a 4.4 s single-task
    // stage on the sf0.1 corpus — ~3 us/char of per-char struct
    // allocation vs a long-register loop)
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val b = documents
      .withColumn("bounds", expr(s"graft_cdc_bounds(text, ${mask}L, $minLen)"))
      .withColumn("starts", concat(array(lit(0)), col("bounds")))
      .withColumn("ends", concat(col("bounds"), array(length(col("text")))))
    val chunks = b
      .select(col("doc_id"), col("source"), col("text"),
        posexplode(zip_with(col("starts"), col("ends"),
          (s, e) => struct(s.as("s"), e.as("e")))).as(Seq("idx", "se")))
      .filter(col("se.e") > col("se.s"))
      .select(col("doc_id"), col("source"),
        (col("se.e") - col("se.s")).cast("long").as("chunk_len"),
        md5(expr("substring(text, se.s + 1, se.e - se.s)")).as("chunk_md5"))
    chunks.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_chunks"),
        countDistinct(col("chunk_md5")).cast("long").as("n_unique"),
        sum(col("chunk_len")).as("total_chars"))
      .select(col("source"), col("n_docs"), col("n_chunks"), col("n_unique"),
        ((col("n_chunks") - col("n_unique")).cast("double") /
          col("n_chunks").cast("double")).as("dup_ratio"),
        (col("total_chars").cast("double") / col("n_chunks").cast("double")).as("avg_chunk_len"))
  }

  /** The composed Catalyst-HOF form of the CDC gear fold that
    * [[cdcChunks]] shipped through r15's build phase — an interpreted
    * per-char aggregate over a transform(sequence(...)) codes array.
    * Kept ONLY as the equivalence reference for the codegen'd
    * graft_cdc_bounds kernel (DedupSimilaritySpec pins them equal,
    * unicode and empty-text edges included); production paths must
    * use the kernel.
    */
  private[graft] def cdcBoundsHof(text: Column, mask: Long, minLen: Int): Column = {
    val gearMul = 2654435761L
    val m32     = 4294967296L
    def gear(c: Column): Column = (c.cast("long") * gearMul) % m32
    val codes = transform(
      sequence(lit(1), length(text)),
      i => ascii(text.substr(i, lit(1))))
    // fold state: (h, pos, last-cut position, cut positions)
    def folded(cs: Column): Column = aggregate(
      slice(cs, lit(2), greatest(size(cs) - 1, lit(0))),
      struct(
        gear(element_at(cs, 1)).as("h"),
        lit(1).as("pos"), lit(0).as("last"),
        array().cast("array<int>").as("bounds")),
      (acc, c) => {
        val h2   = (acc.getField("h") * 2 + gear(c)) % m32
        val pos2 = acc.getField("pos") + 1
        val cut  = (pos2 - acc.getField("last") >= minLen) && (h2 % mask === 0)
        struct(
          when(cut, lit(0L)).otherwise(h2).as("h"),
          pos2.as("pos"),
          when(cut, pos2).otherwise(acc.getField("last")).as("last"),
          when(cut, concat(acc.getField("bounds"), array(pos2)))
            .otherwise(acc.getField("bounds")).as("bounds"))
      })
    folded(codes).getField("bounds")
  }
}
