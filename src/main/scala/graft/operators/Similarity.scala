package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (Array[Float]):
  * brute-force cosine top-k as the exact baseline (FAISS-retriever
  * analog, reference pdf_rag_chatbot.py k=5), a block-partitioned
  * exact all-pairs sweep, and a random-hyperplane LSH bucketed
  * variant as the 100 TB path.
  *
  * Scale notes: norms are computed once per vector, never per pair;
  * the all-pairs sweep groups vectors into fixed-size blocks and
  * runs a tight JVM dot-product loop per block pair (a distributed
  * blocked GEMM — shuffle volume is O(n·d), compute is spread over
  * block pairs, no driver-side collection); LSH bounds the candidate
  * space when even blocked n^2 is too much.
  */
object Similarity {

  case class IdVec(vec_id: Long, v: Array[Double])
  case class Pair(va: Long, vb: Long, cos: Double)

  private def withVecNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Exact top-k by cosine for a set of query vectors. Scores are
    * unrounded: dot/norm accumulate sequentially in element order in
    * every engine, so the doubles are bit-identical and ranking on
    * them (ties broken by vec_id) is stable.
    */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = withVecNorm(embeddings)
    val q = broadcast(
      e.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm")))
    val scored = e
      .join(q, col("vec_id") =!= col("qid"))
      .withColumn("cos",
        when(col("qnrm") * col("nrm") =!= 0, dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rnk"))
  }

  /** Semi-hard negative mining for contrastive training data (the
    * FaceNet/SimCLR curation step): for each anchor, the k most
    * similar NON-duplicate vectors inside a similarity band —
    * `cos < dupThreshold` excludes near-duplicates (a positive
    * masquerading as a negative poisons the loss) and
    * `cos >= floorThreshold` excludes easy negatives that contribute
    * no gradient. Ranking inside the band is hardest-first (cos
    * desc).
    *
    * Scale shape: identical to [[bruteForceTopK]] — anchors ride as
    * a broadcast, the corpus is scanned once, scores are
    * element-order sequential dots (bit-identical across engines),
    * and the band predicate prunes BEFORE the per-anchor top-k
    * window, so the sort input is the band population, not the
    * corpus. At billion-vector scale the same band filter composes
    * with [[ivfSearch]]'s cell pruning; the exact variant here is
    * the oracle-checkable contract.
    */
  def hardNegatives(embeddings: DataFrame, anchorIds: Seq[Long], k: Int,
                    dupThreshold: Double = 0.95, floorThreshold: Double = 0.3): DataFrame = {
    val e = withVecNorm(embeddings)
    val q = broadcast(
      e.filter(col("vec_id").isin(anchorIds: _*))
        .select(col("vec_id").as("anchor_id"), col("v").as("qv"), col("nrm").as("qnrm")))
    val scored = e
      .join(q, col("vec_id") =!= col("anchor_id"))
      .withColumn("cos",
        when(col("qnrm") * col("nrm") =!= 0, dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
      .filter(col("cos") < dupThreshold && col("cos") >= floorThreshold)
    val w = Window.partitionBy("anchor_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("anchor_id"), col("vec_id").as("negative_id"), col("cos"), col("rnk"))
  }

  /** Int8-quantized brute-force top-k — the memory-bound 100 TB
    * shape of [[bruteForceTopK]]: each vector is symmetric-max-
    * quantized to 8-bit integer levels (per-vector scale
    * `max|v| / 127`, the standard symmetric int8 scheme), and
    * candidates are ranked by the cosine of the QUANTIZED vectors.
    * The per-vector scales cancel in the cosine, so the score is
    * all-integer dot products and norms plus one IEEE sqrt —
    * bit-identical across engines with no float-accumulation-order
    * caveat at all (integer sums are exact; quantized levels are
    * stored in doubles, where every value up to 2^53 is exact).
    *
    * Why int8 at scale: 4x less storage and scan bandwidth than
    * float32 (a billion 64-d vectors drop from 256 GB to 64 GB),
    * and integer MACs vectorize wider than FP on modern cores.
    * Quantization is per-row at the scan stage (zero shuffle); the
    * ranking reuses the broadcast-query join. Rounding is
    * `floor(x/s + 0.5)` rather than `round()`: one explicit rule,
    * identical in every engine (no half-up/half-even ambiguity).
    * Recall vs the float sweep is a fixture property asserted in
    * the spec, not a constant of the operator.
    */
  def int8BruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val v = toDouble(col("embedding"))
    val s = (array_max(transform(v, x => abs(x))) / lit(127.0)).as("s")
    val e = embeddings
      .select(col("vec_id"), v.as("v"), s)
      .filter(col("s") =!= 0)
      .withColumn("qv", transform(col("v"), x => floor(x / col("s") + lit(0.5))))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .select(col("vec_id"), col("qv"), col("qn"))
    val q = broadcast(
      e.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("qid"), col("qv").as("qqv"), col("qn").as("qqn")))
    val scored = e
      .join(q, col("vec_id") =!= col("qid"))
      .filter(col("qqn") * col("qn") =!= 0)
      .withColumn("qcos", dot(col("qqv"), col("qv")) / (col("qqn") * col("qn")))
    val w = Window.partitionBy("qid").orderBy(col("qcos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("qcos"), col("rnk"))
  }

  /** Exact all-pairs cosine >= threshold via blocked self-join:
    * vectors are grouped into blocks of `blockSize`, block pairs
    * cross-joined, and each pair of blocks scanned in a tight loop.
    * Dot/norm accumulation is sequential in element order, so
    * results are bit-identical to a sequential oracle.
    *
    * Quadratic in VECTORS by declared semantics (the exact sweep a
    * bounded corpus slice or re-ranking stage wants; LSH/IVF are the
    * open-ended paths). Set `graft.pairSweep.maxKeys` to turn a
    * misrouted unbounded input into a named in-plan error on the
    * operator's own action, before the O(n²) sweep runs
    * ([[Guards.withPairKeyCap]]).
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double, blockSize: Int = 512): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val blocks = Guards.withPairKeyCap(
      vecs
        .withColumn("blk", (col("vec_id") / blockSize).cast("long"))
        .groupBy("blk")
        .agg(collect_list(struct(col("vec_id"), col("v"))).as("vs")),
      vecs.select(col("vec_id")), "cosineNearDupPairs")
    val pairsOfBlocks = blocks.as("a")
      .join(blocks.as("b"), col("a.blk") <= col("b.blk"))
      .select(col("a.vs").as("avs"), col("b.vs").as("bvs"))
      .as[(Seq[IdVec], Seq[IdVec])]
    sweepBlockPairs(pairsOfBlocks, threshold)
  }

  /** The shared n² kernel of the exact sweeps: for each pair of
    * vector blocks, score every (a < b) pair in a tight JVM loop —
    * no iterator/closure machinery, dot/norm accumulated
    * sequentially in element order (bit-equal to the SQL oracles'
    * list_dot_product), pairs emitted only at/above the threshold.
    */
  private def sweepBlockPairs(
      pairsOfBlocks: Dataset[(Seq[IdVec], Seq[IdVec])], threshold: Double): DataFrame = {
    import pairsOfBlocks.sparkSession.implicits._
    pairsOfBlocks
      .flatMap { case (avsSeq, bvsSeq) =>
        val avs = avsSeq.toArray
        val bvs = bvsSeq.toArray
        def dotd(x: Array[Double], y: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < x.length) { s += x(i) * y(i); i += 1 }
          s
        }
        val an  = Array.tabulate(avs.length)(i => math.sqrt(dotd(avs(i).v, avs(i).v)))
        val bn  = Array.tabulate(bvs.length)(j => math.sqrt(dotd(bvs(j).v, bvs(j).v)))
        val out = scala.collection.mutable.ArrayBuffer.empty[Pair]
        var i = 0
        while (i < avs.length) {
          val a = avs(i)
          var j = 0
          while (j < bvs.length) {
            val b = bvs(j)
            if (a.vec_id < b.vec_id) {
              val denom = an(i) * bn(j)
              if (denom != 0) {
                val c = dotd(a.v, b.v) / denom
                if (c >= threshold) out += Pair(a.vec_id, b.vec_id, c)
              }
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("va", "vb", "cos")
  }

  /** Random-hyperplane LSH bucket per vector: `planes` sign bits,
    * plane p's direction derived per-dimension from md5((p,i)) —
    * deterministic, no stored model. Vectors sharing a bucket are
    * candidate neighbors; exact cosine runs only within buckets.
    *
    * All projections fold per row inside the scan stage via the
    * codegen'd LshBucket expression (graft.plans.Expressions) — zero
    * shuffle, no row blowup: the bucketing cost is O(n·d·planes)
    * flops in-register, not n·d·planes shuffled rows.
    */
  def lshBuckets(embeddings: DataFrame, planes: Int = 8): DataFrame = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), expr(s"graft_lsh_bucket(embedding, $planes)").as("bucket"))
  }

  // ---- IVF (inverted-file) ANN: k-means coarse quantizer ------------

  /** Per-row (d2, cell) scores against a literal centroid table —
    * a narrow projection, no join and no shuffle: the quantizer is
    * nlist*dim doubles and rides the plan as a literal array (the
    * same tiny-literal pattern as the RAG query embedding). The
    * interpreted HOF cost is nlist*dim flops/row — fine for the
    * QUERY side (a handful of rows needs the full per-cell score
    * list to pick its nprobe cells); the corpus-side hot path uses
    * the codegen'd [[graft.plans.IvfAssign]] instead.
    */
  private def cellScores(cents: Array[(Int, Array[Double])])(v: Column): Column = {
    val cArr = array(cents.toSeq.map { case (cid, c) =>
      struct(lit(cid).as("cell"), array(c.toSeq.map(lit): _*).as("c"))
    }: _*)
    transform(cArr, s =>
      struct(
        aggregate(zip_with(v, s("c"), (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x).as("d2"),
        s("cell").as("cell")))
  }

  /** Nearest cell per vector (ties to the lowest cell id) via the
    * codegen'd IvfAssign expression: the whole nlist x dim argmin is
    * one static JVM call per row inside whole-stage codegen — still
    * narrow, still shuffle-free, and ~an order of magnitude faster
    * than the interpreted HOF fold it replaced (the nested
    * transform/aggregate pattern measured 65x slower on the
    * embedding fold; bit-identity with the HOF argmin is
    * spec-asserted in RagSearchSpec).
    */
  private[graft] def assignCells(e: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
    e.withColumn("cell", ivfAssignCol(col("v"), cents))

  /** Public column form of the IVF cell assignment. */
  def ivfAssignCol(v: Column, cents: Array[(Int, Array[Double])]): Column = {
    require(cents.nonEmpty, "ivfAssign: centroid table is empty — train or seed a quantizer first")
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((cid, _), i) => cid == i },
      "ivfAssign: centroid ids must be contiguous from 0 (positional cell ids)")
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.plans.IvfAssign(
        org.apache.spark.sql.graftshim.GraftShim.expression(v),
        sorted.map(_._2.toSeq).toSeq))
  }

  /** Column form of the per-row nested argmin (fine level of the
    * two-level assignment): `fcs` is array<array<double>> ordered by
    * fine index; returns the argmin position, ties to the lowest.
    */
  def ivfAssignNestedCol(v: Column, fcs: Column): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.plans.IvfAssignNested(
        org.apache.spark.sql.graftshim.GraftShim.expression(v),
        org.apache.spark.sql.graftshim.GraftShim.expression(fcs)))

  /** The interpreted HOF argmin (array_min over the per-cell score
    * structs) — kept as the spec/bench twin of [[assignCells]].
    */
  private[graft] def assignCellsInterpreted(e: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
    e.withColumn("cell", array_min(cellScores(cents)(col("v")))("cell"))

  /** Lloyd k-means with deterministic init (the first nlist vectors
    * by vec_id): each iteration is one narrow assignment pass + one
    * element-wise mean (posexplode → per-dimension avg), and only the
    * nlist centroid rows return to the driver. Cells that go empty
    * keep their previous centroid. At 100 TB the quantizer trains on
    * a sample — this same loop over `embeddings.sample(...)` — and
    * full-corpus assignment stays a single broadcast-literal scan.
    */
  def ivfTrain(embeddings: DataFrame, nlist: Int = 16, iters: Int = 5): Array[(Int, Array[Double])] = {
    val e = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    var cents: Array[(Int, Array[Double])] = Materialize.named("collect Similarity.ivfTrain.seeds") {
      e.orderBy("vec_id").limit(nlist).collect()
    }.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    require(cents.length == nlist, s"need at least $nlist vectors to seed $nlist cells")
    for (_ <- 0 until iters) {
      val means = Materialize.named("collect Similarity.ivfTrain.means") {
        assignCells(e, cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg(avg(col("x")).as("m"))
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("sm"))
          .select(col("cell"), transform(col("sm"), s => s("m")).as("c"))
          .collect()
      }.map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** IVF-Flat search (FAISS analog, the scale path past brute
    * force): probe only the `nprobe` cells nearest each query and
    * rank exactly (cosine) within them — the corpus side touches
    * ~nprobe/nlist of the data, and the probe table (queries ×
    * nprobe) broadcasts so the corpus never reshuffles. With
    * nprobe == nlist this is EXACTLY bruteForceTopK (spec-asserted);
    * smaller nprobe trades recall for scan fraction.
    */
  def ivfSearch(embeddings: DataFrame, cents: Array[(Int, Array[Double])], queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val e = assignCells(embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v")), cents)
      .withColumn("nrm", norm(col("v")))
    val qCells = e
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(cellScores(cents)(col("v"))).as("sc"))
      .withColumn("prb", row_number().over(
        Window.partitionBy("qid").orderBy(col("sc.d2").asc, col("sc.cell").asc)))
      .filter(col("prb") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("sc.cell").as("cell"))
    val scored = e
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        when(col("qnrm") * col("nrm") =!= 0, dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rnk"))
  }

  /** Recall@k audit of the IVF index against exact brute force — the
    * know-your-index query run before trusting an ANN path at scale
    * (the [[graft.operators.Dedup]] q_jaccard_estimate move applied
    * to vector search): per query, how many of the exact top-k
    * survive at this nprobe? Both sides reuse the declared search
    * operators unchanged; the comparison itself joins two (queries ×
    * k) frames — negligible at any corpus size, so the audit costs
    * one extra brute-force pass over the corpus (run it on a sample
    * of queries, not the corpus). All-integer hits; recall is one
    * division rounded once. Recall is monotone nondecreasing in
    * nprobe and exactly 1 at nprobe == nlist (spec-asserted).
    */
  def ivfRecall(embeddings: DataFrame, cents: Array[(Int, Array[Double])],
                queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val approx = ivfSearch(embeddings, cents, queryIds, k, nprobe)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val exact = bruteForceTopK(embeddings, queryIds, k).select(col("qid"), col("vec_id"))
    exact
      .join(approx, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("hits"))
      .select(col("qid"), col("hits"), lit(k.toLong).as("k"),
        round(col("hits").cast("double") / k, 6).as("recall"))
  }

  /** SemDeDup-style semantic near-dup: assign every vector to its
    * IVF cell (broadcast-literal codegen'd argmin — narrow, zero
    * shuffle on the corpus side), then exact cosine only WITHIN
    * cells. Candidate volume is bounded by cell occupancy
    * (~corpus/nlist per cell), not corpus²: this is the shape
    * semantic dedup runs at billion-document scale, where even the
    * blocked exact sweep is unaffordable and a cross-cell near-dup
    * is an accepted miss. With nlist=1 the operator IS the exact
    * sweep (spec-asserted); raising nlist divides the candidate
    * volume by ~nlist at the cost of recall. The recall trade is
    * threshold-dependent: dedup-grade pairs (cos >= ~0.9, near-
    * parallel) co-locate in a trained quantizer's cells, while
    * moderate-similarity pairs (cos ~0.5 is a 60° angle) do not —
    * pick nlist against the threshold regime, not just the corpus
    * size.
    */
  def ivfNearDupPairs(embeddings: DataFrame, threshold: Double, cents: Array[(Int, Array[Double])], blockSize: Int = 512): DataFrame =
    inCellPairs(
      assignCells(embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v")), cents),
      threshold, blockSize, "ivfNearDupPairs")

  /** The in-cell exact sweep shared by [[ivfNearDupPairs]] (literal
    * trained quantizer) and [[knnCandidatePairs]] (two-level celled
    * assignment): all pairs within a cell, blocked, scored with the
    * exact block kernel. `assigned` must carry (vec_id, v, cell).
    */
  private[graft] def inCellPairs(assigned: DataFrame, threshold: Double, blockSize: Int, op: String): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    // blocked WITHIN each cell with a DENSE per-cell block index
    // (row_number over vec_id inside the cell, not vec_id/blockSize
    // globally): cells scatter across global id space, so a global
    // block id would leave ~blockSize/nlist vectors per group and
    // the join row count would stay at the unrestricted sweep's —
    // dense blocks hold ~blockSize vectors regardless of nlist. The
    // index is monotone in vec_id within the cell, so blk(a) <=
    // blk(b) still covers every ordered pair exactly once.
    val w = Window.partitionBy("cell").orderBy("vec_id")
    // opt-in guard, same conf as the exact sweep: here the quadratic
    // dimension is CELL OCCUPANCY — a degenerate quantizer that
    // drops the corpus into one cell silently reverts to n²/2 pairs.
    // The dense block index makes the check free (no counting pass:
    // blk*blockSize + size(vs) IS the cell's occupancy at that block)
    val blocks = Guards.withCellOccupancyCap(
      assigned
        .withColumn("blk", ((row_number().over(w) - 1) / blockSize).cast("long"))
        .groupBy(col("cell"), col("blk"))
        .agg(collect_list(struct(col("vec_id"), col("v"))).as("vs")),
      blockSize, op)
    val pairsOfBlocks = blocks.as("a")
      .join(blocks.as("b"), col("a.cell") === col("b.cell") && col("a.blk") <= col("b.blk"))
      .select(col("a.vs").as("avs"), col("b.vs").as("bvs"))
      .as[(Seq[IdVec], Seq[IdVec])]
    sweepBlockPairs(pairsOfBlocks, threshold)
  }

  /** The graph family's DEFAULT candidate-pair builder: all in-cell
    * pairs under a deterministic TWO-LEVEL seed quantizer with
    * CORPUS-ADAPTIVE nlist = max(16, ceil(n/cellTarget)). Holding
    * per-cell occupancy at ~cellTarget makes candidate volume
    * ~n·cellTarget — LINEAR in the corpus where the exact sweep is
    * n² — and the two-level assignment (coarse argmin over
    * ncoarse = ceil(√nlist) driver-collected seeds, then fine argmin
    * over that coarse cell's fpc_c = ceil(nlist·|cell|/n) join-side
    * centroids — PROPORTIONAL allocation, so occupancy holds at
    * ~cellTarget under coarse skew) costs O(n·√nlist·dim) flops on
    * balanced data — NOT the O(n·nlist·dim)
    * = O(n²/cellTarget) a flat argmin would hide under the linear
    * candidate volume. Driver/broadcast state is capped at the
    * coarse table (√(n/cellTarget) vectors); the fine centroids (the
    * first fpc members of each coarse cell by vec_id) never leave
    * the cluster — they group distributedly and join back on the
    * coarse cell id. Scores are bit-equal to the exact sweep (same
    * block kernel), and every celled pair IS an exact pair — the
    * subset invariant GraphCandidateSpec pins. The sizing pre-scan
    * is ONE action: a bounded treeAggregate computes the corpus
    * count and the coarse seed prefix in the same pass.
    *
    * Corpora at or under 2·cellTarget take nlist = 1 — one cell IS
    * the exact sweep (identical plan shape, zero recall loss), and
    * celling a corpus that small would only shrink each vector's
    * candidate pool for no volume win. The oracle mirrors the nlist/
    * ncoarse/fpc formulas and both argmin tie-breaks exactly
    * (queries.SimilarityQueries.celledCtes).
    */
  def knnCandidatePairs(embeddings: DataFrame, cellTarget: Int = 256): DataFrame =
    inCellPairs(knnAssignCells(embeddings, Nil, cellTarget), -2.0, 512, "knnCandidatePairs")

  /** Two-level celled assignment shared by [[knnCandidatePairs]] and
    * [[knnClassify]]: returns (vec_id, cols..., v, cell) where cell
    * = ccell·(nlist+1) + fidx. Level 1: argmin over the ncoarse
    * coarse seeds (the globally-first ncoarse vectors by vec_id —
    * the only driver-collected state, gathered in the SAME single
    * pass that counts the corpus). Level 2: argmin over the coarse
    * cell's fine centroids — its first fpc_c = ceil(nlist·|cell|/n)
    * members by vec_id (proportional to cell size), built with a
    * distributed window and joined back as array data (broadcast at
    * small scale, shuffle-join on ccell at 100 TB; either way the
    * quantizer is never a plan literal). Below the celling floor
    * (n ≤ 2·cellTarget) every row takes cell 0 — the exact sweep.
    * Every coarse cell that wins a vector contains at least its own
    * seed, so the fine join drops no rows.
    */
  private[graft] def knnAssignCells(embeddings: DataFrame, cols: Seq[String] = Nil,
                                    cellTarget: Int = 256, seedCap: Int = KnnSeedCap): DataFrame = {
    val e = embeddings.select(
      (col("vec_id") +: cols.map(col)) :+ toDouble(col("embedding")).as("v"): _*)
    val (nVec, seeds) = countAndCoarseSeeds(e, seedCap)
    val nlist = if (nVec == 0) 1 else knnNlist(nVec, cellTarget)
    if (nlist == 1) return e.withColumn("cell", lit(0L))
    val ncoarse = knnNcoarse(nlist)
    // ROUTING LADDER (every rung total — no rung throws):
    //   1. n <= 2*cellTarget           -> one cell, the exact sweep.
    //   2. ncoarse <= seed cap         -> deterministic PREFIX seeds
    //      from the single-pass treeAggregate above (zero extra
    //      actions; the common case up to ~cellTarget*cap^2 vectors).
    //   3. ncoarse >  seed cap         -> SAMPLED seed quantizer:
    //      the ncoarse corpus vectors smallest by (xxhash64(vec_id),
    //      vec_id) — a deterministic pseudo-random sample gathered
    //      with ONE bounded TakeOrdered action. Driver state is
    //      O(ncoarse*dim), the same order as the coarse broadcast
    //      the assignment needs anyway, so the rung adds no new
    //      asymptotic driver cost; and unlike a k-means-refined
    //      quantizer (ivfTrain on a sample — available manually for
    //      recall tuning via ivfNearDupPairs) the sampled seeds stay
    //      BIT-DETERMINISTIC and partition-invariant, preserving the
    //      family's subset-of-exact oracle contract on the 100 TB
    //      tier where this rung is the default.
    val coarse =
      if (ncoarse <= seeds.length) seeds.take(ncoarse).zipWithIndex.map { case (v, i) => (i, v) }
      else sampledCoarseSeeds(e, ncoarse)
    val vc = e.withColumn("ccell", ivfAssignCol(col("v"), coarse))
    // PROPORTIONAL fine-centroid allocation: coarse cell c gets
    // fpc_c = ceil(nlist * |c| / n) fine centroids (its first fpc_c
    // members by vec_id), so fine-cell occupancy stays ~cellTarget
    // under ANY coarse skew — a uniform fpc starves hot coarse cells
    // (clustery corpora measured 8x the balanced pair volume at x30
    // with uniform allocation). The count window rides the SAME
    // ccell shuffle as the rank — no extra pass. `div`, not `/`:
    // Spark's `/` on longs is double division and a true-integer
    // quotient can round below itself, desyncing from DuckDB's `//`.
    //
    // The rank/count windows run on a SLIM (ccell, vec_id) frame —
    // 16 bytes/row instead of dragging the full vector through the
    // ccell exchange and its per-partition sort (the r13 x30 audit
    // priced that drag at up to 9.2x constants for 30x rows); the
    // Σfpc <= nlist+ncoarse winners then fetch their vectors with a
    // broadcast join against a plain corpus scan (no assignment
    // recompute, no shuffle of the corpus side).
    val wSeed = Window.partitionBy("ccell").orderBy("vec_id")
    val wCnt  = Window.partitionBy("ccell")
    // the winner set and the fine-centroid table both hold
    // nlist+ncoarse entries — their sizes are EXACT at build time
    // (nlist, ncoarse, dim all known), so the broadcast decision is
    // a static gate, not an estimator's guess; past the threshold
    // both joins fall back to the shuffles the 100 TB tier wants
    // dim from the coarse array actually in use: routing rung 3
    // replaces the prefix seeds, and a tiny seed cap could leave
    // `seeds` empty — deriving dim=0 from it would let the fcents
    // broadcast gate below trivially pass on an unbounded frame
    val dim = coarse.headOption.map(_._2.length).getOrElse(0)
    val nFine = nlist.toLong + ncoarse
    val picked = vc.select(col("ccell"), col("vec_id"))
      .withColumn("fidx", row_number().over(wSeed) - 1)
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .filter(expr(s"fidx < ((${nlist}L * cnt + ${nVec - 1}L) div ${nVec}L)"))
      .select(col("ccell"), col("vec_id"), col("fidx"))
    val pickedSized = if (nFine * 24L < (64L << 20)) broadcast(picked) else picked
    val fcents = e.select(col("vec_id"), col("v"))
      .join(pickedSized, Seq("vec_id"))
      .groupBy(col("ccell"))
      .agg(sort_array(collect_list(struct(col("fidx"), col("v")))).as("fs"))
      .select(col("ccell"), transform(col("fs"), s => s("v")).as("fcs"))
    // cell id = ccell*(nlist+1) + fidx: fpc_c <= nlist (a coarse
    // cell holding the whole corpus), so the stride never collides.
    // fcents is ncoarse rows carrying ~(nlist+ncoarse)*dim doubles
    // total: broadcast it while that payload is provably small so
    // the corpus side never exchanges on ccell.
    val fcentsSized =
      if (nFine * dim * 8L < (64L << 20)) broadcast(fcents) else fcents
    vc.join(fcentsSized, Seq("ccell"))
      .withColumn("cell",
        col("ccell").cast("long") * (nlist + 1L) + ivfAssignNestedCol(col("v"), col("fcs")).cast("long"))
      .drop("ccell", "fcs")
  }

  /** Upper bound on the coarse seed prefix kept by the single-pass
    * sizing scan: ncoarse ≤ √(n/cellTarget) stays under 4096 up to
    * ~4.3e9 vectors at the default cellTarget — past that,
    * [[knnAssignCells]] auto-routes to the hash-sampled seed
    * quantizer (routing rung 3) instead of failing. Specs pass a tiny
    * cap to force that rung on fixture-sized corpora.
    */
  private val KnnSeedCap = 4096

  /** Routing rung 3 of [[knnAssignCells]]: coarse seeds for corpora
    * whose ncoarse exceeds the prefix cap — the ncoarse vectors
    * globally smallest by (xxhash64(vec_id), vec_id). One bounded
    * TakeOrdered action; deterministic and partition-invariant by
    * construction (total order on ids, no floating-point averaging),
    * so the subset-of-exact and invariance specs hold on this rung
    * exactly as on the prefix rung. Seed INDEX follows the hash
    * order, which is what makes the assignment reproducible.
    */
  private def sampledCoarseSeeds(e: DataFrame, ncoarse: Int): Array[(Int, Array[Double])] =
    Materialize.named("collect Similarity.knnAssignCells.sampledSeeds") {
      e.select(col("vec_id"), col("v"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(ncoarse)
        .collect()
    }.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }

  /** Corpus sizing for the celled assignment: (row count, the ≤ cap
    * globally-smallest (vec_id, v) rows in ascending vec_id order).
    * Two small codegen'd actions — a metadata-served count() (parquet
    * answers it from footer statistics; no data pages move) and a
    * TakeOrderedAndProject for the bounded seed prefix (per-partition
    * top-cap heap inside whole-stage codegen, O(cap·dim) at the
    * driver). Replaces a boxed-RDD treeAggregate that deserialized
    * every corpus vector into Scala objects to do the same bounded
    * work — one fewer FULL interpreted pass at any scale; the seed
    * prefix is unchanged (first `cap` rows by vec_id).
    */
  private def countAndCoarseSeeds(e: DataFrame, cap: Int): (Long, Array[Array[Double]]) = {
    val n = Materialize.named("count Similarity.knnAssignCells.corpus")(e.count())
    val seeds = Materialize.named("collect Similarity.knnAssignCells.prefixSeeds") {
      e.select(col("vec_id"), col("v"))
        .orderBy(col("vec_id"))
        .limit(cap)
        .collect()
    }.map(_.getSeq[Double](1).toArray)
    (n, seeds)
  }

  /** Coarse cell count of the two-level assignment: ceil(√nlist). */
  private[graft] def knnNcoarse(nlist: Int): Int =
    math.ceil(math.sqrt(nlist.toDouble)).toInt

  /** Fine centroids allocated to a coarse cell of size cnt out of n:
    * ceil(nlist·cnt/n) — proportional, so Σ fpc_c ∈ [nlist,
    * nlist + ncoarse] and fine-cell occupancy stays ~cellTarget
    * under any coarse skew. Mirrored into every celled oracle.
    */
  private[graft] def knnFpcOf(nlist: Int, cnt: Long, n: Long): Long =
    (nlist.toLong * cnt + n - 1) / n

  /** The graph family's shared adaptive cell count (mirrored into
    * every celled oracle): 1 below the celling floor, else
    * max(16, ceil(n / cellTarget)).
    */
  private[graft] def knnNlist(nVec: Long, cellTarget: Int = 256): Int =
    if (nVec <= 2L * cellTarget) 1
    else math.max(16L, (nVec + cellTarget - 1) / cellTarget.toLong).toInt

  /** Mutual k-nearest-neighbor graph: for every vector its top-k
    * cosine neighbors, flagged `mutual` when the reverse edge is
    * also in the neighbor's own top-k — the symmetrized kNN graph
    * that graph-based dedup/cluster stages consume. Scores come from
    * the celled candidate sweep ([[knnCandidatePairs]], the DEFAULT:
    * in-cell pairs under the adaptive seed quantizer, linear
    * candidate volume; dots bit-equal to the SQL oracle),
    * symmetrized by a cheap union of the reduced pair frame, ranked
    * per source (one shuffle on src), and the mutual flag is a self
    * left-join of the k·n-row edge frame on the reversed key — never
    * a second sweep.
    *
    * `exact = true` opts into the declared-quadratic exact sweep
    * ([[cosineNearDupPairs]] at threshold -2, all nonzero-norm
    * pairs) for bounded corpus slices that want the true kNN graph;
    * `graft.pairSweep.maxKeys` guards it. Celled top-k edges are a
    * subset of the exact pair space with identical scores
    * (spec-asserted), trading cross-cell neighbors for the linear
    * candidate volume every 100 TB graph build needs.
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5, exact: Boolean = false): DataFrame = {
    val top = rankedEdges(embeddings, k, exact)
      // both the output and the reversed probe read this frame; the
      // checkpoint keeps the n^2 sweep from running twice
      .materialize("Similarity.knnGraph.top")
    val rev = top.select(col("dst").as("m_src"), col("src").as("m_dst"))
    top
      .join(rev, col("src") === col("m_src") && col("dst") === col("m_dst"), "left")
      .select(col("src"), col("dst"), col("cos"), col("rnk"),
        col("m_src").isNotNull.as("mutual"))
  }

  /** [[knnGraph]]'s head on its own: the ranked directed top-k edge
    * frame (src, dst, cos, rnk), UNMATERIALIZED and without the
    * mutual-flag self-join. Most graph operators consume only the
    * edge set (or only the mutual pairs) — going through knnGraph
    * made each of them pay for a checkpoint action plus a reversed
    * self-join whose flag they immediately discarded (guide §1.2:
    * don't compute things you throw away). Consumers materialize the
    * projection THEY keep.
    */
  private[graft] def rankedEdges(embeddings: DataFrame, k: Int, exact: Boolean): DataFrame = {
    val pairs = if (exact) cosineNearDupPairs(embeddings, -2.0)
                else knnCandidatePairs(embeddings)
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    symmetrized(pairs)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** The MUTUAL undirected edge set (src < dst, one row per
    * reciprocated pair) — the frame every mutual-graph operator
    * (kCore, clustering, degree audits, resource allocation)
    * actually consumes. A directed edge appears at most once per
    * source in [[rankedEdges]], so the unordered pair count is 2
    * exactly when both directions rank: ONE count aggregate over the
    * slim (a, b) frame replaces knnGraph's checkpoint + reversed
    * self-join — one less action and no join of the k·n frame
    * (guide §2.4 remove shuffles / §1.2 remove passes). Row set
    * bit-identical to knnGraph(...).filter(mutual && src < dst).
    * UNMATERIALIZED: single-consumer callers (e.g. one checkpoint
    * downstream) inline it; multi-consumer callers checkpoint it.
    */
  private[graft] def mutualEdges(embeddings: DataFrame, k: Int, exact: Boolean): DataFrame =
    rankedEdges(embeddings, k, exact)
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .select(col("a").as("src"), col("b").as("dst"))

  /** Both directions of a (va, vb, cos) pair frame as ONE pass —
    * explode of a two-struct array per row. The
    * select-union-reversed-select form it replaces evaluated the
    * ENTIRE candidate sweep once per union branch (a union's branches
    * are separate subtrees below the first exchange), i.e. every
    * graph query ran its pair sweep twice. Row multiset is identical,
    * so every window rank downstream is unchanged (total order
    * tie-breaks).
    */
  private def symmetrized(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("va").as("src"), col("vb").as("dst"), col("cos")),
        struct(col("vb").as("src"), col("va").as("dst"), col("cos")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.cos"))

  /** TwoNN intrinsic-dimension estimate (Facco et al. 2017): the
    * manifold dimension the embeddings actually live on, from
    * nothing but each point's two nearest neighbors — ID ≈ n /
    * Σ ln(r2/r1). Know-your-manifold: a 64-d embedding with ID ≈ 9
    * is compressible and its ANN index parameters should assume 9.
    * The neighbor search DEFAULTS to the celled candidate builder
    * ([[knnCandidatePairs]]): r1/r2 are the two nearest IN-CELL
    * neighbors (not necessarily the true two nearest) and
    * singleton-cell points drop out of the sum, so the estimate is
    * biased relative to the published TwoNN (Facco et al. 2017) in
    * exchange for linear candidate volume; `exact = true` opts back
    * into the declared-quadratic sweep and restores the published
    * semantics. Per-point ln(r2/r1) quantizes to floor(·1e6)
    * micro-units so the corpus sum is an exact long at any
    * partition count; duplicate points (r1 = 0) are excluded as the
    * estimator prescribes. One-row output.
    */
  def intrinsicDim(embeddings: DataFrame, exact: Boolean = false): DataFrame = {
    val nrm = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nn", norm(col("v"))).select(col("vec_id"), col("nn"))
    val pairs = if (exact) cosineNearDupPairs(embeddings, -2.0)
                else knnCandidatePairs(embeddings)
    val dir = symmetrized(pairs)
      .select(col("src").as("p"), col("dst").as("q"), col("cos"))
    val d = dir
      .join(nrm.select(col("vec_id").as("p"), col("nn").as("np")), "p")
      .join(nrm.select(col("vec_id").as("q"), col("nn").as("nq")), "q")
      .withColumn("d2",
        col("np") * col("np") + col("nq") * col("nq") -
          lit(2.0) * col("cos") * col("np") * col("nq"))
    val w = Window.partitionBy("p").orderBy(col("d2").asc, col("q").asc)
    val byP = d
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("p"))
      .agg(
        max(when(col("rn") === 1, col("d2"))).as("d1"),
        max(when(col("rn") === 2, col("d2"))).as("d2b"))
    val used = byP.filter(col("d1") > 0 && col("d2b").isNotNull)
      .withColumn("mln",
        floor(log(sqrt(col("d2b") / col("d1"))) * 1000000).cast("long"))
    val n = embeddings.agg(count(lit(1)).as("n_vectors"))
    used.agg(count(lit(1)).as("n_used"), sum(col("mln")).as("s"))
      .crossJoin(broadcast(n))
      .select(col("n_vectors"), col("n_used"),
        round(when(col("s") > 0,
          col("n_used").cast("double") * 1000000.0 / col("s").cast("double")), 6).as("id_twonn"))
  }

  /** Cluster-label purity per IVF cell — the label-agreement audit
    * beside [[clusterSilhouette]]'s geometric one: per cell, the
    * majority label's share of members (ties to the lowest label).
    * Cell assignment is the codegen'd scan-stage argmin; then two
    * bounded aggregates ((cell, label) counts → per-cell majority
    * via one rank window over the ≤nlist·nlabels reduced frame).
    * Exact integers with ONE unrounded division — an integer share
    * can terminate on a 6dp half boundary, so no rounding by design.
    */
  def clusterPurity(embeddings: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame = {
    val e = assignCells(
      embeddings.select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v")), cents)
    val counts = e.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("cell").orderBy(col("cnt").desc, col("label").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("cell")))
      .filter(col("rn") === 1)
      .select(col("cell").cast("long").as("cell"), col("n").as("n"),
        col("label").as("majority_label"), col("cnt").as("n_majority"),
        (col("cnt").cast("double") / col("n")).as("purity"))
  }

  /** Label-match precision@k of exact retrieval — the embedding-
    * quality eval next to [[ivfRecall]]'s index-quality one: per
    * query, how many of the k nearest neighbors share the query's
    * label? High precision means the embedding space respects the
    * labels; [[ivfRecall]] then tells you the ANN index preserves it.
    * Reuses [[bruteForceTopK]] unchanged; the label joins touch only
    * the (queries × k) result frame. All-integer hits, one unrounded
    * division.
    */
  def retrievalPrecision(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    bruteForceTopK(embeddings, queryIds, k)
      .join(broadcast(labels.withColumnRenamed("label", "q_label")
        .withColumnRenamed("vec_id", "qid")), Seq("qid"))
      .join(labels, Seq("vec_id"))
      .groupBy(col("qid"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L)).as("hits"))
      .select(col("qid"), col("q_label"), col("hits"), lit(k.toLong).as("k"),
        (col("hits").cast("double") / k).as("precision"))
  }

  /** Per-dimension feature-label correlation: Pearson corr of each
    * embedding coordinate against the numeric label — the feature-
    * importance screen that says WHICH dimensions encode the label
    * before anyone trains on them. One posexplode scan (rows × dim,
    * map-side partial aggregation onto the bounded dim axis); values
    * quantize to integer MICRO-UNITS via floor(x·1e6) — float32
    * coordinates are dyadic rationals that DO land on 6dp half
    * boundaries, where round/cast quantization is engine-ambiguous
    * but floor is not — and all five moments accumulate as exact
    * DECIMALs; corr is one shared IEEE chain at 6dp per dimension.
    */
  def featureLabelCorr(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    val m = embeddings
      .select(col("label").cast("long").as("y"),
        posexplode(toDouble(col("embedding"))).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x") * 1000000).cast(dec).as("mx"),
        col("y").cast(dec).as("my"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("mx")).as("sx"), sum(col("my")).as("sy"),
        sum(col("mx") * col("my")).as("sxy"),
        sum(col("mx") * col("mx")).as("sxx"),
        sum(col("my") * col("my")).as("syy"))
    val nd   = col("n").cast("double")
    val sxd  = col("sx").cast("double");  val syd  = col("sy").cast("double")
    val sxyd = col("sxy").cast("double"); val sxxd = col("sxx").cast("double")
    val syyd = col("syy").cast("double")
    val covN = nd * sxyd - sxd * syd
    val varX = nd * sxxd - sxd * sxd
    val varY = nd * syyd - syd * syd
    m.select(col("dim"), col("n"),
      round(when(varX > 0 && varY > 0, covN / sqrt(varX * varY)), 6).as("corr"))
  }

  /** BFS layers over the directed k-NN graph from a seed set — the
    * neighborhood-expansion pass of similarity-graph curation (seed
    * docs known bad/contaminated; everything within `maxDepth` hops
    * is review-queue suspect). ONE plan, a linear join chain over the
    * shared edge frame: layer d is layer d−1 left-joined to the edges
    * of its depth-(d−1) rows, each row and each reached neighbour
    * (at depth d) then reduced to its min depth per vec_id — so a
    * node keeps its first reachable round. Each layer appears once in
    * the plan (the form that keeps a frontier and a reached frame
    * would reference both per round and double with depth), and the
    * edge frame is its only checkpoint. Depth
    * count is exact integers and a repeated seed counts once; output
    * is engine-exact. The edge build is [[knnGraph]]'s head (declared-
    * quadratic exact sweep at gate scale; IVF/LSH candidate edges at
    * 100 TB — the BFS itself is linear in edges either way).
    */
  def bfsLayers(embeddings: DataFrame, seeds: Seq[Long], k: Int = 5, maxDepth: Int = 3, exact: Boolean = false): DataFrame = {
    require(seeds.nonEmpty && maxDepth >= 0, s"need seeds and maxDepth >= 0: $seeds, $maxDepth")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val edges = rankedEdges(embeddings, k, exact).select(col("src"), col("dst")).materialize("Similarity.bfsLayers.edges")
    (1 to maxDepth).foldLeft(seeds.distinct.toDF("vec_id").withColumn("depth", lit(0L))) { (layer, d) =>
      layer.join(edges, layer("vec_id") === edges("src") && layer("depth") === lit(d - 1L), "left")
        .select(explode(array(
          struct(col("vec_id"), col("depth")),
          struct(col("dst").as("vec_id"), lit(d.toLong).as("depth")))).as("e"))
        .filter(col("e.vec_id").isNotNull)
        .groupBy(col("e.vec_id").as("vec_id")).agg(min(col("e.depth")).as("depth"))
    }
  }

  /** Simplified (centroid-based) silhouette per IVF cell — the
    * clustering-quality audit next to [[ivfRecall]]'s search-quality
    * one: per vector a = distance to its own centroid, b = distance
    * to the nearest OTHER centroid, s = (b-a)/max(a,b) in [-1, 1]
    * (the medoid-free form that stays LINEAR in the corpus where the
    * textbook pairwise silhouette is n² — cells near 1 are tight and
    * separated, near 0 overlap their neighbor). Per-row work is one
    * array_sort over the nlist per-cell scores INSIDE the scan stage
    * (struct order (d2, cell) makes the sort the argmin + runner-up
    * in one pass, ties to the lower cell) — zero shuffle until the
    * final bounded groupBy(cell). Per-row s quantizes ONCE to
    * DECIMAL(18,6) (the welch recipe) so cell means are exact-
    * decimal sums + one IEEE division — order-independent at any
    * partition count.
    */
  def clusterSilhouette(embeddings: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame = {
    require(cents.length >= 2, "silhouette needs at least two cells")
    val e = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val sorted = array_sort(cellScores(cents)(col("v")))
    val sa = sqrt(element_at(sorted, 1)("d2"))
    val sb = sqrt(element_at(sorted, 2)("d2"))
    val s  = when(greatest(sa, sb) > 0, (sb - sa) / greatest(sa, sb)).otherwise(lit(0.0))
    e.select(
      element_at(sorted, 1)("cell").cast("long").as("cell"),
      s.cast("decimal(18,6)").as("s6"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s6")).cast("double") / count(lit(1)), 6).as("mean_silhouette"))
  }

  /** PageRank over the directed k-NN cosine graph — graph centrality
    * for data curation (which vectors anchor dense neighborhoods vs
    * drift at the corpus margin). ALL-INTEGER power iteration so the
    * result is bit-identical on any engine at any partition count:
    * ranks live in fixed-point units of `scale` (default 1e12 per
    * unit mass / n nodes), each iteration distributes `r div outdeg`
    * (exact integral division) along out-edges, sums exact longs,
    * and applies damping as r' = teleport + (85·Σ) div 100 with
    * teleport = ((scale div n)·15) div 100 — a float PageRank's
    * partial-sum order would differ run to run; this one cannot.
    * Every node has out-degree k by construction (top-k edges), so
    * there is no dangling-mass term.
    *
    * Shape: the edge build is [[knnGraph]]'s head (declared-quadratic
    * exact sweep under the pairSweep guard at gate scale; at 100 TB
    * the same iteration runs over IVF/LSH candidate edges).
    * Iterations are one co-partitioned join + one sum aggregate per
    * round on the k·n edge frame, materialize truncating lineage
    * (the [[Dedup.clusters]] loop discipline).
    */
  def pageRankKnn(embeddings: DataFrame, k: Int = 5, iters: Int = 5,
                  scale: Long = 1000000000000L, exact: Boolean = false): DataFrame = {
    require(iters >= 1 && k >= 1, s"iters/k must be positive: iters=$iters, k=$k")
    val edges  = rankedEdges(embeddings, k, exact).select(col("src"), col("dst"))
    // the sweep runs once, inside ed's checkpoint; every iteration re-reads ed
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val ed     = edges.join(outdeg, "src").materialize("Similarity.pageRankKnn.ed")
    val (nodes, n) = embeddings.select(col("vec_id").as("node")).materializeCounted("Similarity.pageRankKnn.nodes")
    val r0     = scale / n
    val tele   = r0 * 15L / 100L
    // the rank chain is LINEAR (ranks_i feeds only ranks_{i+1}), so
    // no per-iteration checkpoint: one action runs the whole unrolled
    // DAG — at 5 iters the plan stays small and the bench measured a
    // per-iteration eager checkpoint as ~4 driver round-trips
    // per round (AQE stage jobs + checkpoint job + planning gap) for
    // zero recompute saved. ed/nodes (re-read every round) keep
    // theirs.
    var ranks = nodes.withColumn("r", lit(r0))
    for (_ <- 1 to iters) {
      val inSum = ed
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(inSum, Seq("node"), "left")
        .select(col("node"),
          (lit(tele) + expr("coalesce(s, 0L) * 85L div 100L")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_units"),
      (col("r").cast("double") / scale).as("pr"))
  }

  /** Bucketed near-dup: exact cosine only within LSH buckets. */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double, planes: Int = 8): DataFrame = {
    val b = lshBuckets(embeddings, planes)
    val e = withVecNorm(embeddings).join(b, "vec_id")
    e.as("a")
      .join(e.as("b"), col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        when(col("a.nrm") * col("b.nrm") =!= 0, dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("cos"))
  }

  /** Per-node triangle count and local clustering coefficient over
    * the MUTUAL k-NN graph — the neighborhood-density audit of an
    * embedding space (high clustering = tight semantic clumps that
    * near-dup passes should inspect; zero = hub-and-spoke drift).
    * The undirected edge set keeps one (a<b) row per mutual pair, so
    * each triangle materializes exactly once as a<b<c via two
    * equi-joins whose candidate volume is Σdeg² ≤ k²·n — degree is
    * capped at k BY CONSTRUCTION, which is what makes triangle
    * counting tractable where a raw similarity graph's hubs explode
    * it. Edge build shares [[knnGraph]]'s head (declared-quadratic
    * exact sweep at gate scale; IVF/LSH candidate edges at 100 TB).
    * Counts exact longs; the coefficient is one division at 6dp.
    */
  def triangleStats(embeddings: DataFrame, k: Int = 5, exact: Boolean = false): DataFrame = {
    val und = mutualEdges(embeddings, k, exact)
      .materialize("Similarity.triangleStats.und") // three self-join reads; the n² sweep must run once
    val e1 = und.select(col("src").as("a"), col("dst").as("b"))
    val e2 = und.select(col("src").as("b"), col("dst").as("c"))
    val e3 = und.select(col("src").as("a"), col("dst").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
    val triN = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("src").as("vec_id"))
      .unionByName(und.select(col("dst").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    deg.join(triN, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double")), 6).as("clustering_coef"))
  }

  /** Top principal direction of the embedding cloud (uncentered —
    * the top right-singular vector of the data matrix) by MATRIX-FREE
    * power iteration: w ← Σₓ (x·v)·x, v ← w/‖w‖, a fixed number of
    * rounds from the deterministic all-ones start — the PCA
    * primitive behind whitening, compression, and
    * anisotropy diagnosis (one dominant direction ⇒ cosine is mostly
    * measuring that direction, not meaning). Each round is ONE
    * aggregate over the corpus: the d-vector w collects per-dimension
    * with the products (x·v)·xᵢ quantized to DECIMAL(18,6) so the
    * corpus-sized sums are exact and order-independent (the welch
    * recipe — a raw double Σ over millions of rows drifts with
    * partition order); only the d-row result reaches the driver (the
    * ivfTrain tiny-result pattern), where the normalization is a
    * fixed-order fold. Explained share = Σ(x·v)²/Σ‖x‖², same
    * exact-decimal reduction. Iteration count is a declared
    * parameter, not a convergence loop — the oracle unrolls the same
    * rounds.
    */
  def topPrincipalComponent(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val dec   = org.apache.spark.sql.types.DecimalType(18, 6)
    val spark = embeddings.sparkSession
    val x = embeddings.select(toDouble(col("embedding")).as("v"))
    val d = Materialize.named("head Similarity.topPrincipalComponent.dim")(x.select(size(col("v"))).head()).getInt(0)
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val vLit = array(v.toSeq.map(lit): _*)
      // ONE single-row aggregate of d exact-decimal sums — the same
      // per-dimension terms (dt*x_i quantized to DECIMAL(18,6)) the
      // posexplode + groupBy(pos) shape reduced, minus the n·d row
      // explode and its shuffle (guide: aggregate before you
      // shuffle); decimal sums are order-independent, so the rewrite
      // is exact. Only the d-column row reaches the driver.
      // try_element_at, not element_at: under ANSI (Spark 4 default)
      // a ragged corpus vector shorter than d would THROW on the
      // out-of-bounds index, where the posexplode+groupBy(pos) form
      // this replaced simply contributed nothing for the missing
      // position — try_element_at's null product restores that
      // degrade-not-fail behavior (the null is skipped by sum)
      val row = Materialize.named("head Similarity.topPrincipalComponent.power") {
        x.select(dot(col("v"), vLit).as("dt"), col("v"))
          .agg(
            sum((col("dt") * try_element_at(col("v"), lit(1))).cast(dec)).as("w0"),
            (1 until d).map(i =>
              sum((col("dt") * try_element_at(col("v"), lit(i + 1))).cast(dec)).as(s"w$i")): _*)
          .head()
      }
      val w    = Array.tabulate(d)(i => row.getDecimal(i).doubleValue())
      val norm = math.sqrt(w.map(t => t * t).sum)
      v = w.map(_ / norm)
    }
    val vLit = array(v.toSeq.map(lit): _*)
    val expl = Materialize.named("head Similarity.topPrincipalComponent.explained") {
      x.agg(
          sum((dot(col("v"), vLit) * dot(col("v"), vLit)).cast(dec)).as("sp"),
          sum(dot(col("v"), col("v")).cast(dec)).as("sn"))
        .select((col("sp").cast("double") / col("sn").cast("double")).as("ex"))
        .head().getDouble(0)
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("loading", org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("explained_share", org.apache.spark.sql.types.DoubleType, nullable = false)))
    def r6(t: Double) = BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = v.zipWithIndex.map { case (l, i) =>
      org.apache.spark.sql.Row(i + 1, r6(l), r6(expl)) }
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Apply the trained top principal component back to the corpus:
    * per vector, its projection on the PC and the share of its
    * energy the PC explains — the whitening/compression transform
    * actually APPLIED, and per-vector anisotropy flags (a vector
    * fully explained by the dominant direction carries no residual
    * signal for cosine). The component trains via
    * [[topPrincipalComponent]]'s exact-decimal iteration and rides
    * the scan as a broadcast literal (the ivfSearch trained-path
    * pattern); per-vector math is two in-order HOF folds + one IEEE
    * chain — bit-identical, scan-shaped, no shuffle beyond training.
    */
  def pcProject(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val pc = Materialize.named("collect Similarity.pcProject.loadings") {
      topPrincipalComponent(embeddings, iters).orderBy(col("dim")).collect()
    }.map(_.getAs[Double]("loading"))
    val vLit = array(pc.toSeq.map(lit): _*)
    embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("proj", dot(col("v"), vLit))
      .withColumn("n2", dot(col("v"), col("v")))
      .select(col("vec_id"),
        round(col("proj"), 6).as("projection"),
        round(when(col("n2") > 0.0, col("proj") * col("proj") / col("n2")), 6)
          .as("energy_share"))
  }

  /** Label-balance audit: per-label counts and shares plus the two
    * scalars every sampling decision needs — the imbalance ratio
    * (largest/smallest class) and the EFFECTIVE class count
    * exp(H(shares)) (10 classes at 9:1:...:1 behave like ~2, and the
    * stratified-sampling targets should know that). The corpus
    * reduces to one row per label; the entropy/extremes fold over
    * that bounded frame (broadcast back as a one-row dim); exact
    * longs, bounded-group 6dp floats.
    */
  def classBalance(embeddings: DataFrame): DataFrame = {
    val counts = embeddings.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val p = col("n_vecs").cast("double") / col("t").cast("double")
    val globals = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_vecs")).as("t"))))
      .agg(
        min(col("t")).as("n_total"),
        round(max(col("n_vecs")).cast("double") / min(col("n_vecs")).cast("double"), 6)
          .as("imbalance_ratio"),
        round(exp(-sum(p * log(p))), 6).as("effective_classes"))
    counts
      .crossJoin(broadcast(globals))
      .select(col("label"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total").cast("double"), 6).as("share"),
        col("imbalance_ratio"), col("effective_classes"))
  }

  /** Mislabeled-data detector: per label, the top-k vectors FARTHEST
    * from their own label's centroid — the vectors most likely to be
    * labeled wrong, the single highest-yield manual-review queue a
    * labeled corpus has. Centroids reduce per (label, dim) with
    * coordinates quantized to DECIMAL(18,6) (exact order-independent
    * sums — the welch recipe), image to double once, and come back
    * as a labels×d BROADCAST dim; per-vector distances then sum
    * exact-decimal squared terms (order-independent again), so every
    * distance is bit-identical at any partition count and the per-
    * label rank (dist desc, vec_id) is total. Volume: one n·d
    * explode + broadcast join + per-vec reduce; top-k is a per-label
    * window over the already-reduced distance frame.
    */
  def centroidOutliers(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val e = embeddings
      .select(col("vec_id"), col("label"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "xi")))
    val c = e.groupBy(col("label"), col("pos"))
      .agg((sum(col("xi").cast(dec)).cast("double") / count(lit(1)).cast("double")).as("ci"))
    val dist = e.join(broadcast(c), Seq("label", "pos"))
      .withColumn("t", ((col("xi") - col("ci")) * (col("xi") - col("ci"))).cast(dec))
      .groupBy(col("label"), col("vec_id"))
      .agg(sqrt(sum(col("t")).cast("double")).as("dist"))
    val w = Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id").asc)
    dist
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("label"), col("vec_id"), round(col("dist"), 6).as("dist"), col("rnk"))
  }

  /** Embedding drift per label between two corpus slices (vec_id
    * halves here; production: encoder version N vs N+1 or crawl day
    * N vs N+1): the L2 shift and cosine between the slice centroids —
    * the did-my-encoder-or-data-move tripwire run before mixing
    * embeddings from two pipelines. Same exact-decimal centroid
    * reduction as [[centroidOutliers]]; the per-label shift/cosine
    * chains fold d-bounded EXACT-DECIMAL term sums (quantized
    * products), so outputs are deterministic IEEE images with no
    * rounding ambiguity. Slices split at the median vec_id (one
    * broadcast scalar), mirroring q_vocab_shift's text-side split.
    */
  def embedDrift(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val half = embeddings.agg(percentile(col("vec_id"), lit(0.5)).as("cut"))
    val e = embeddings.crossJoin(broadcast(half))
      .select(col("label"), (col("vec_id") <= col("cut")).as("first_half"),
        posexplode(toDouble(col("embedding"))).as(Seq("pos", "xi")))
    val c = e.groupBy(col("label"), col("first_half"), col("pos"))
      .agg((sum(col("xi").cast(dec)).cast("double") / count(lit(1)).cast("double")).as("ci"))
    val a = c.filter(col("first_half")).select(col("label"), col("pos"), col("ci").as("ca"))
    val b = c.filter(!col("first_half")).select(col("label"), col("pos"), col("ci").as("cb"))
    a.join(b, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(
        sum(((col("ca") - col("cb")) * (col("ca") - col("cb"))).cast(dec)).as("d2"),
        sum((col("ca") * col("cb")).cast(dec)).as("dot"),
        sum((col("ca") * col("ca")).cast(dec)).as("na"),
        sum((col("cb") * col("cb")).cast(dec)).as("nb"))
      .select(col("label"),
        round(sqrt(col("d2").cast("double")), 6).as("l2_shift"),
        round(when(col("na") > 0 && col("nb") > 0,
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))), 6)
          .as("centroid_cos"))
  }

  /** Per-label embedding-norm profile: count, zero-vector count, and
    * norm distribution stats — the know-your-vectors audit run before
    * ANY cosine-based pass (zero vectors poison cosine, a wide norm
    * spread says the encoder was never normalized, a label whose
    * norms differ wildly from the rest often marks a modality mix-up).
    * Norms fold once per vector in element order (bit-identical in
    * both engines — the [[bruteForceTopK]] determinism contract).
    * Label groups grow WITH the corpus (n/|labels| vectors each), so
    * mean/std use the q_welch_ttest determinism recipe: the norm
    * quantizes ONCE to DECIMAL(18,6) and the moments (n, Σx, Σx²)
    * accumulate as exact, order-independent decimals — a double sum
    * over millions of norms drifts with partition order; min/max are
    * order-independent on the raw doubles. Scan-shaped: no join, no
    * window, nothing corpus-wide.
    */
  def embedNorms(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    embeddings
      .select(col("label"), norm(toDouble(col("embedding"))).as("nrm"))
      .withColumn("q", col("nrm").cast(dec))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("nrm") === 0.0).cast("long")).as("n_zero"),
        sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .select(
        col("label"), col("n").as("n_vecs"), col("n_zero"),
        round(col("s1").cast("double") / col("n").cast("double"), 6).as("mean_norm"),
        round(when(col("n") > 1, sqrt(
          (col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") /
            col("n").cast("double")) / (col("n") - 1).cast("double"))), 6).as("std_norm"),
        col("min_norm"), col("max_norm"))
  }

  /** Common-neighbor (structural) similarity over the [[knnGraph]]:
    * node pairs scored by shared out-neighbors, Jaccard over the
    * two top-k sets — the second-order signal graph clustering and
    * link prediction consume (two vectors can be structurally close
    * without being each other's neighbors). The pair space is NOT
    * the corpus²: candidates come from co-membership in some
    * neighbor's in-list — one equi-join of the k·n edge frame on dst
    * with volume Σ indeg(d)², and hub destinations (indeg > maxIn)
    * are capped out BEFORE the self-join (the q_containment df-cap
    * move) so one mega-hub cannot quadratic-blow the join at scale.
    * Counters and degrees are exact integers; Jaccard is one IEEE
    * division, UNROUNDED. The kNN edges themselves come from the
    * declared-quadratic exact sweep at gate scale (IVF/LSH candidate
    * edges are the 100 TB path, same tail).
    */
  def commonNeighbors(embeddings: DataFrame, k: Int = 5, maxIn: Int = 256, exact: Boolean = false,
                      minCommon: Int = 2): DataFrame = {
    val top = rankedEdges(embeddings, k, exact).select(col("src"), col("dst")).materialize("Similarity.commonNeighbors.top")
    val deg = top.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
    val ok  = top.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
      .filter(col("indeg") <= maxIn).select(col("dst"))
    val capped = top.join(ok, "dst")
    val cn = capped.select(col("dst"), col("src").as("a"))
      .join(capped.select(col("dst"), col("src").as("b")), "dst")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("common"))
      .filter(col("common") >= minCommon)
    cn
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"), col("da"), col("db"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double")).as("jaccard"))
  }

  /** Degree assortativity of the kNN graph: Pearson correlation of
    * (out-degree(src), out-degree(dst)) over directed edges — do
    * well-connected vectors point at other well-connected ones
    * (assortative, dense-core embedding) or at sparse satellites
    * (disassortative, hub-and-spoke)? One number that predicts how
    * graph-based dedup clusters will behave. Degrees are exact
    * integer counts (≤k), so all five edge moments are exact longs
    * and r is one IEEE chain, UNROUNDED. Two equi-joins of the k·n
    * edge frame against the tiny degree table.
    */
  def degreeAssortativity(embeddings: DataFrame, k: Int = 5, exact: Boolean = false): DataFrame = {
    val top = rankedEdges(embeddings, k, exact).select(col("src"), col("dst")).materialize("Similarity.degreeAssortativity.top")
    val deg = top.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
    val m = top
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    val nd = col("n_edges").cast("double")
    val covN = nd * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = nd * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n_edges"),
      when(vx > 0 && vy > 0, covN / sqrt(vx * vy)).as("assortativity"))
  }

  /** kNN label classification: every held-out query vector
    * (vec_id ≡ 0 mod `holdout`) gets the majority label of its k
    * nearest labeled neighbors — the standard embedding-quality
    * evaluation (a good space classifies its own labels) and the
    * label-transfer primitive for weakly-labeled corpora. Same scale
    * shape as [[bruteForceTopK]]: the bounded query slice broadcasts,
    * the labeled corpus scans once, scores are element-order
    * sequential dots (bit-identical across engines); voting is exact
    * integer counts with the (votes desc, label asc) deterministic
    * tie-break. At billion-vector scale the identical vote tail runs
    * over [[ivfSearch]] candidates instead of the exact scan.
    */
  def knnClassify(embeddings: DataFrame, holdout: Long = 20L, k: Int = 5,
                  exact: Boolean = false): DataFrame = {
    // celled default: queries score only same-cell candidates under
    // the shared two-level assignment ([[knnAssignCells]] — the
    // classify twin of [[knnCandidatePairs]]' linear candidate
    // volume, floor and all, so the two can never desynchronize);
    // exact = true restores the full broadcast-queries x corpus scan
    val e0 =
      if (exact)
        embeddings.select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
          .withColumn("cell", lit(0L))
      else knnAssignCells(embeddings, Seq("label"))
    val e = e0.withColumn("nrm", norm(col("v")))
    val q = broadcast(e.filter(pmod(col("vec_id"), lit(holdout)) === 0)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qnrm"), col("cell")))
    val scored = e.filter(pmod(col("vec_id"), lit(holdout)) =!= 0)
      .join(q, Seq("cell"))
      .filter(col("qnrm") * col("nrm") =!= 0)
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val wTop  = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    val votes = scored
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .groupBy(col("qid"), col("q_label"), col("label"))
      .agg(count(lit(1)).cast("long").as("votes"))
    val wWin = Window.partitionBy("qid").orderBy(col("votes").desc, col("label").asc)
    votes
      .withColumn("pr", row_number().over(wWin))
      .filter(col("pr") === 1)
      .select(col("qid"), col("q_label"), col("label").as("predicted_label"), col("votes"),
        (col("label") === col("q_label")).as("correct"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell–Goldstein): from
    * the query's top-`poolK` cosine candidates, greedily pick k
    * results maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) —
    * the RAG retrieval step that stops a context window filling
    * with five copies of the same paragraph ([[bruteForceTopK]]
    * optimizes pure relevance; MMR trades it against novelty).
    * Scale shape: ONE corpus scan ranks the pool (broadcast query),
    * then everything else — the poolK² pairwise sims and k greedy
    * argmax rounds — runs on bounded poolK-row frames; the greedy
    * loop never touches the corpus again. Determinism: cosines are
    * element-order sequential dots (bit-identical cross-engine),
    * the score chain λ·q − (1−λ)·m is mirrored literally (including
    * 1−0.7's IEEE value), ties break (score desc, vec_id asc).
    */
  def mmrRerank(embeddings: DataFrame, queryId: Long = 0L, poolK: Int = 20, k: Int = 5,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && poolK >= k, s"need poolK >= k >= 1: poolK=$poolK, k=$k")
    val pool = bruteForceTopK(embeddings, Seq(queryId), poolK)
      .select(col("vec_id"), col("cos").as("qsim"))
      .materialize("Similarity.mmrRerank.pool")
    val pv = withVecNorm(embeddings).join(pool, "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("qsim"))
    val sims = pv.as("a").join(pv.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("pa"), col("b.vec_id").as("pb"),
        when(col("a.nrm") * col("b.nrm") =!= 0,
          dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .materialize("Similarity.mmrRerank.sims")
    var selected = pool
      .orderBy(col("qsim").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("qsim"), col("qsim").as("mmr_score"), lit(1L).as("sel_rank"))
      .materialize("Similarity.mmrRerank.selected")
    for (r <- 2 to k) {
      val selIds = selected.select(col("vec_id").as("sid"))
      val maxSim = sims
        .join(broadcast(selIds.withColumnRenamed("sid", "pb")), "pb")
        .groupBy(col("pa")).agg(max(col("sim")).as("msim"))
      val pick = pool
        .join(selIds, col("vec_id") === col("sid"), "left_anti")
        .join(maxSim, col("vec_id") === col("pa"))
        .withColumn("mmr_score", lit(lambda) * col("qsim") - lit(1 - lambda) * col("msim"))
        .orderBy(col("mmr_score").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("qsim"), col("mmr_score"), lit(r.toLong).as("sel_rank"))
      selected = selected.unionByName(pick).materialize("Similarity.mmrRerank.selected")
    }
    selected.select(col("sel_rank"), col("vec_id"), col("qsim"), col("mmr_score"))
  }

  /** HITS hubs & authorities over the DIRECTED top-k kNN graph
    * (Kleinberg): a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each
    * side L1-renormalized per round. On an embedding graph the
    * authority score surfaces the vectors many neighborhoods POINT
    * AT (canonical cluster centers worth keeping in a dedup pass)
    * while hubs are the in-between vectors whose edges span
    * clusters. ALL-INTEGER fixed point like [[pageRankKnn]]:
    * contributions are exact long sums, the renormalization is
    * score·scale div total in 128-bit decimal (the product
    * overflows int64) — bit-identical at any partition count where
    * float HITS drifts. Edge build is [[knnGraph]]'s head (declared
    * quadratic at gate scale; IVF/LSH candidate edges at 100 TB);
    * each round is two co-partitioned join+aggregate passes over
    * the k·n edge frame with materialize lineage truncation.
    */
  def hitsKnn(embeddings: DataFrame, k: Int = 5, iters: Int = 3,
              scale: Long = 1000000000000L, exact: Boolean = false): DataFrame = {
    require(iters >= 1 && k >= 1, s"iters/k must be positive: iters=$iters, k=$k")
    val edges = rankedEdges(embeddings, k, exact)
      .select(col("src"), col("dst"))
      .materialize("Similarity.hitsKnn.edges") // the n² sweep runs once; every round re-reads this
    val (nodes, n) = embeddings.select(col("vec_id").as("node")).materializeCounted("Similarity.hitsKnn.nodes")
    val s0 = scale / n
    // SPARSE iterations, dense only at the output: the old renorm
    // left-joined the full node scan and broadcast the total every
    // round, and each round's output was eagerly checkpointed — ~77
    // driver-paced jobs per run (event-log measured), half the wall
    // in scheduling gaps. A node absent from raw has score 0, and a
    // 0 score contributes nothing through the inner edge joins and
    // nothing to the total, so the per-round node join changed
    // NOTHING until the final select — it is now done once at the
    // end. The checkpoint sits on RAW (it feeds both the broadcast
    // total and the renorm map; unmaterialized it would evaluate its
    // edges-join+aggregate once per consumer, guide §1.2); the renorm
    // itself is a NARROW crossJoin+projection — no shuffle, no
    // per-round checkpoint. Scores are bit-identical: 0·scale div t
    // = 0, the same zero the dense rounds carried.
    def renorm(raw: DataFrame, c: String): DataFrame = {
      val tot = raw.agg(sum(col(c)).as("t"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"CAST($c AS DECIMAL(38,0)) * $scale div t").as(c))
        .materialize("Similarity.hitsKnn.renorm")
    }
    var hub  = nodes.withColumn("h", lit(s0))
    var auth = nodes.withColumn("a", lit(s0))
    for (_ <- 1 to iters) {
      val araw = edges
        .join(hub.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("h"))
        .groupBy(col("node")).agg(sum(col("h")).as("a"))
      auth = renorm(araw, "a")
      val hraw = edges
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("a"))
        .groupBy(col("node")).agg(sum(col("a")).as("h"))
      hub = renorm(hraw, "h")
    }
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub_units"),
        coalesce(col("a"), lit(0L)).as("auth_units"),
        (coalesce(col("h"), lit(0L)).cast("double") / scale).as("hub"),
        (coalesce(col("a"), lit(0L)).cast("double") / scale).as("authority"))
  }

  /** Degree distribution of the MUTUAL kNN graph: node count and
    * share per degree (0..k) — the one-glance topology audit that
    * says whether an embedding space is clumped (mass at degree k),
    * frayed (mass at 0: nothing reciprocates), or healthy, BEFORE
    * trusting graph-based dedup/cluster passes on it. Zero-degree
    * nodes are included via a left join of the node scan against
    * the reduced degree frame. Counts exact longs, one IEEE share
    * division off a broadcast total. Edge build shares
    * [[knnGraph]]'s head.
    */
  def degreeHist(embeddings: DataFrame, k: Int = 5, exact: Boolean = false): DataFrame = {
    val und = mutualEdges(embeddings, k, exact)
      .materialize("Similarity.degreeHist.und")
    val ends = und.select(col("src").as("node"))
      .unionByName(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("degree"))
    val deg = embeddings.select(col("vec_id").as("node"))
      .join(ends, Seq("node"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).cast("long").as("n_nodes"))
    val tot  = hist.agg(sum(col("n_nodes")).as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("t").cast("double")).as("share"))
  }

  /** Majority-label propagation over the MUTUAL kNN graph (LPA
    * community detection, synchronous rounds): every node starts as
    * its own community (label = node id) and each round adopts the
    * most frequent label among self + neighbors, ties to the
    * SMALLEST label — communities emerge where [[Dedup.clusters]]'s
    * min-label components would glue everything reachable together.
    * ALL-INTEGER (counts + min tie-break ⇒ bit-identical at any
    * partition count, no float voting weights); each round is one
    * co-partitioned neighbor join + two aggregates over the ≤(k+1)·n
    * frame, materialize truncating lineage. Edge build shares
    * [[knnGraph]]'s head.
    */
  def labelPropagation(embeddings: DataFrame, k: Int = 5, iters: Int = 3, exact: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    // ONE checkpoint — withSelf, the frame every round re-reads (it
    // holds the knnGraph sweep, which must run once). und feeds only
    // nbrs, and nbrs is an EXPLODE (one subtree evaluation — a
    // union's two branches would run the sweep twice below the
    // checkpoint), so neither needs its own checkpoint; per-round
    // eager checkpoints measured as pure driver round-trips (the
    // q_pagerank pattern).
    val und = mutualEdges(embeddings, k, exact)
    val nbrs = und.select(explode(array(
        struct(col("src").as("node"), col("dst").as("nbr")),
        struct(col("dst").as("node"), col("src").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
    val nodes = embeddings.select(col("vec_id").as("node"))
    val withSelf = nbrs.unionByName(nodes.select(col("node"), col("node").as("nbr")))
      .materialize("Similarity.labelPropagation.withSelf")
    var labels = nodes.withColumn("community", col("node"))
    for (_ <- 1 to iters) {
      val votes = withSelf
        .join(labels.select(col("node").as("nbr"), col("community")), "nbr")
        .groupBy(col("node"), col("community"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      labels = votes
        .groupBy(col("node"))
        .agg(max_by(col("community"), struct(col("cnt"), -col("community"))).as("community"))
    }
    labels
  }

  /** One deterministic Lloyd (k-means) refinement step over the IVF
    * seed cells, surfaced per (cell, dimension): the new centroid
    * component, the seed component, and their drift — the
    * index-maintenance query an ANN deployment runs to decide when
    * to retrain ([[ivfTrain]]'s float avg() is fine for building an
    * index, but auditing drift cross-engine needs exact arithmetic).
    * Components quantize to micro-longs at the scan ⇒ per-cell sums
    * are exact at any partition count; the new mean is ONE IEEE
    * division of exact integers (bit-identical, UNROUNDED) and the
    * drift one further subtraction of bit-identical doubles. No
    * cross-dimension float sums anywhere — the (cell, dim) grid IS
    * the output. Scale: assignment is the codegen'd
    * [[assignCells]] scan; one (cell, dim) aggregate (nlist·dim
    * cells); the seed table broadcasts.
    */
  def kmeansStep(embeddings: DataFrame, nlist: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = ivfTrain(embeddings, nlist, iters = 0)
    val e = embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val g = assignCells(e, cents)
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("qu", floor(col("x") * 1000000).cast("long"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).cast("long").as("n_cell"), sum(col("qu")).as("s"))
    val old = cents.flatMap { case (cid, arr) =>
      arr.zipWithIndex.map { case (x, i) => (cid, i, x) }
    }.toSeq.toDF("cell", "dim", "mean_old")
    val mn = col("s").cast("double") / (col("n_cell").cast("double") * lit(1000000.0))
    g.join(broadcast(old), Seq("cell", "dim"))
      .select(col("cell"), col("dim"), col("n_cell"),
        mn.as("mean_new"), col("mean_old"), (mn - col("mean_old")).as("delta"))
  }

  /** Resource-Allocation link prediction over the MUTUAL kNN graph:
    * score(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z) — Adamic-Adar's
    * integer-friendly sibling (1/deg, not 1/log deg) and the
    * top performer of the classic local link-prediction indices.
    * ALL-INTEGER: each common neighbor contributes the exact long
    * 1e12 div deg(z) (floor division both engines), so the pair
    * score sum is order-free; the surfaced ra_score is ONE IEEE
    * division by 1e12, bit-identical. Pair space is wedge-bounded,
    * not corpus²: mutual degree ≤ k by construction, so the
    * center-join volume is ≤ n·k² at any SF. Edge build shares
    * [[knnGraph]]'s head (IVF/LSH candidate edges are the 100 TB
    * path, same tail).
    */
  def resourceAllocation(embeddings: DataFrame, k: Int = 5, minCommon: Int = 2, exact: Boolean = false): DataFrame = {
    val und = mutualEdges(embeddings, k, exact)
      .materialize("Similarity.resourceAllocation.und")
    val nb = und.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(und.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = nb.groupBy(col("node")).agg(count(lit(1)).cast("long").as("deg"))
    val nbd = nb.join(broadcast(deg), "node")
    val wedges = nbd.select(col("node"), col("nbr").as("a"), col("deg"))
      .join(nbd.select(col("node"), col("nbr").as("b")), "node")
      .filter(col("a") < col("b"))
    wedges
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("n_common"),
        sum(expr("1000000000000 div deg")).as("ra_micro"))
      .filter(col("n_common") >= minCommon)
      .select(col("a"), col("b"), col("n_common"), col("ra_micro"),
        (col("ra_micro").cast("double") / 1000000000000.0).as("ra_score"))
  }

  /** k-core decomposition of the MUTUAL kNN graph by synchronous
    * peeling: drop every node whose degree in the surviving subgraph
    * is < k, recompute, repeat — the standard density filter that
    * separates a graph's cohesive core from its tree-like fringe
    * (chains and leaves that LPA/dedup clustering glue on). FIXED
    * `rounds` synchronous iterations (the [[labelPropagation]] /
    * HITS unrolled-round convention — the spec asserts the fixture
    * converges well inside them, and mutual degree ≤ k_nn bounds
    * peel depth); ALL-INTEGER (membership + counts). Each round is
    * two semi-joins of the edge frame against the shrinking node
    * set + one aggregate, lineage truncated per round. Zero-degree
    * nodes surface as in_core=false via the node-scan left join.
    */
  def kCore(embeddings: DataFrame, k: Int = 2, knn: Int = 5, rounds: Int = 8, exact: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k and rounds must be positive: $k, $rounds")
    val und = mutualEdges(embeddings, knn, exact)
      .materialize("Similarity.kCore.und")
    // degs keeps its checkpoint (each round references it TWICE — the
    // src and dst activity joins — so an unmaterialized degs subtree
    // would double per round); edges is LINEAR (only the next round's
    // degs reads it), so its per-round checkpoint was pure driver
    // round-trips and is gone.
    var edges = und
    var degs: DataFrame = null
    // EARLY EXIT on the fixed point: peeling is monotone (the active
    // set only shrinks — every survivor of round i+1 was active in
    // round i), so an unchanged count means an unchanged SET, and
    // every later round recomputes the identical frame. The count
    // rides the degs checkpoint job (observe), and the fixture
    // converges in 2-3 of the 8 contract rounds — result
    // bit-identical to running all of them (guide §1.2 remove passes).
    var prevN  = -1L
    var stable = false
    var round  = 0
    while (round < rounds && !stable) {
      round += 1
      // explode, not union-of-two-selects: a union references the
      // unmaterialized edges subtree once per branch
      val (roundDegs, n) = edges.select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).cast("long").as("deg"))
        .filter(col("deg") >= k)
        .materializeCounted("Similarity.kCore.degs")
      degs = roundDegs
      if (n == prevN || n == 0) stable = true
      prevN = n
      val act = degs.select(col("node"))
      edges = und
        .join(act.select(col("node").as("src")), "src")
        .join(act.select(col("node").as("dst")), "dst")
        .select(col("src"), col("dst"))
    }
    // final membership = nodes still meeting the bar in the last
    // surviving subgraph; their core degree is the degree there
    embeddings.select(col("vec_id").as("node"))
      .join(degs.select(col("node"), col("deg").as("core_degree")), Seq("node"), "left")
      .select(col("node"), col("core_degree").isNotNull.as("in_core"), col("core_degree"))
  }

  /** Anisotropy audit: the mean pairwise cosine of the embedding
    * cloud — the is-cosine-meaningful number (an isotropic space
    * reads ~0; a common-direction space reads high, and then cosine
    * mostly measures that direction, not meaning). NO pair sweep:
    * with unit vectors, mean pairwise cos = (‖Σv̂‖² − n)/(n(n−1)),
    * so ONE aggregate suffices. Coordinates of v̂ floor-quantize to
    * micro longs, per-dimension sums are exact longs, Σ(sd²) is an
    * exact 128-bit decimal on the d-row frame, and the score is
    * (Σsd² − n·1e12)/(n(n−1)·1e12) — exact integers through the
    * splitDouble conversion, ONE IEEE division, UNROUNDED. Zero
    * vectors are excluded and counted.
    */
  def isotropy(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v   = toDouble(col("embedding"))
    val nrm = norm(v)
    val base = embeddings
      .select(nrm.as("nn"), v.as("v"))
      .withColumn("is_zero", (col("nn") === 0.0).cast("long"))
    val counts = base.agg(count(lit(1)).as("n_vecs"), sum(col("is_zero")).as("n_zero"))
    val byDim = base.filter(col("nn") =!= 0.0)
      .select(posexplode(transform(col("v"), x => floor(x / col("nn") * 1000000).cast("long")))
        .as(Seq("dim", "qx")))
      .groupBy(col("dim"))
      .agg(sum(col("qx")).as("sd"))
    val s2 = byDim.agg(sum(col("sd").cast(dec) * col("sd").cast(dec)).as("ss"))
    counts.crossJoin(s2)
      .select(col("n_vecs"), col("n_zero"),
        when(col("n_vecs") - col("n_zero") > 1, {
          val nu = col("n_vecs") - col("n_zero")
          // denominator multiplies as DOUBLES: n(n-1)·1e12 passes
          // 2^63 at ~20k vectors (hit by the x10 audit as a long)
          graft.operators.Stats.splitDouble(
            col("ss") - nu.cast(dec) * lit(1000000000000L).cast(dec)) /
            (nu.cast("double") * (nu - 1L).cast("double") * 1e12)
        }).as("mean_pairwise_cos"))
  }

  /** Per-dimension variance profile of the embedding cloud — the
    * dead-dimension detector (a dimension whose variance is ~0
    * carries no information but still costs index space and
    * bandwidth; a variance spike marks a dominant axis the
    * [[topPrincipalComponent]] will find). Coordinates quantize
    * ONCE to micro longs so per-dim (n, Σx, Σx²) are exact 128-bit
    * decimals (the welch recipe on the dimension axis); mean and
    * population variance are fixed IEEE chains via splitDouble,
    * UNROUNDED; the dead flag compares the exact integer numerator
    * n·Σx² − (Σx)² against the declared threshold — no float near
    * the boundary. One posexplode aggregate onto the d-row grid.
    */
  def dimVariance(embeddings: DataFrame, deadVar: Double = 1e-6): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = embeddings
      .select(posexplode(transform(toDouble(col("embedding")),
        x => floor(x * 1000000).cast("long"))).as(Seq("dim", "qx")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qx").cast(dec)).as("s1"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("s2"))
    val nd   = col("n").cast("double")
    val varN = col("n").cast(dec) * col("s2") - col("s1") * col("s1")
    g.select(col("dim"), col("n"),
        (graft.operators.Stats.splitDouble(col("s1")) / nd / 1e6).as("mean"),
        (graft.operators.Stats.splitDouble(varN) / (nd * nd) / 1e12).as("variance"),
        (graft.operators.Stats.splitDouble(varN) <
          lit(deadVar) * nd * nd * lit(1e12)).cast("int").as("is_dead"))
  }

  /** kNN-distance outlier screen: each vector's cosine to its kth
    * nearest neighbor, flagged when it falls below the corpus
    * p-quantile — the isolation detector (mislabeled, corrupted, or
    * genuinely novel points sit far from everything; LOF's cheap,
    * distributed cousin). Rides [[knnGraph]]'s edge frame (declared-
    * quadratic exact sweep at gate scale; IVF/LSH candidate edges at
    * 100 TB), so the score is one rnk = k filter; the threshold is
    * the exact interpolating percentile over the n-row score frame
    * (broadcast back one row — the adaptiveQualityGate shape), and
    * the flag compares UNROUNDED doubles that are bit-identical by
    * the cosine chain's determinism. Zero-norm vectors have no
    * edges and drop (they are [[embedNorms]]'s n_zero).
    */
  def knnOutliers(embeddings: DataFrame, k: Int = 5, p: Double = 0.05, exact: Boolean = false): DataFrame = {
    require(k >= 1 && p > 0 && p < 1, s"need k >= 1 and p in (0,1): $k, $p")
    val scores = rankedEdges(embeddings, k, exact)
      .filter(col("rnk") === k)
      .select(col("src").as("vec_id"), col("cos").as("kth_cos"))
      // the threshold aggregate and the flag projection both read
      // this n-row frame; materialize the SLIM score frame instead
      // of knnGraph's full edge frame (and skip its mutual self-join)
      .materialize("Similarity.knnOutliers.scores")
    val thr = broadcast(scores.agg(percentile(col("kth_cos"), lit(p)).as("thr")))
    scores.crossJoin(thr)
      .select(col("vec_id"), col("kth_cos"),
        round(col("thr"), 6).as("thr"),
        (col("kth_cos") < col("thr")).cast("int").as("is_outlier"))
  }

  /** Matryoshka-readiness audit: per label, the mean share of vector
    * ENERGY (‖v[:d]‖²/‖v‖²) captured by each prefix width — the
    * can-we-truncate panel before shipping shortened embeddings
    * (a matryoshka-trained space front-loads energy; a flat profile
    * means truncation destroys geometry). Per-row shares are one
    * fixed IEEE chain each (prefix and full dots are index-order
    * folds, the [[embedNorms]] determinism recipe), quantize ONCE to
    * DECIMAL(18,6) so per-label sums are exact and order-independent
    * (welch recipe), and each mean is one IEEE division at 6dp.
    * Zero vectors carry no share and report separately. Scan-shaped:
    * no join, no window, nothing corpus-wide.
    */
  def matryoshkaAudit(embeddings: DataFrame, dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"prefix widths must be positive: $dims")
    val dec  = org.apache.spark.sql.types.DecimalType(18, 6)
    val v    = toDouble(col("embedding"))
    val full = dot(v, v)
    val qCols = dims.map { d =>
      val p = slice(v, 1, d)
      when(full =!= 0.0, (dot(p, p) / full).cast(dec)).as(s"q_$d")
    }
    val base = embeddings.select(
      (col("label") +: (full === 0.0).cast("long").as("is_zero") +: qCols): _*)
    val aggs =
      sum(col("is_zero")).as("n_zero") +:
        dims.map(d => sum(col(s"q_$d")).as(s"s_$d")) ++:
        dims.map(d => count(col(s"q_$d")).as(s"c_$d"))
    val outs = dims.map(d =>
      round(col(s"s_$d").cast("double") / col(s"c_$d").cast("double"), 6)
        .as(s"mean_nf_$d"))
    base.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), aggs: _*)
      .select((col("label") +: col("n_vecs") +: col("n_zero") +: outs): _*)
  }
}
