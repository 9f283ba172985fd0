package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Deterministic text embedding + end-to-end RAG retrieval, closing
  * the reference's splitter -> embedder -> FAISS loop (reference
  * pdf_rag_chatbot.py:55-60) on raw documents with no model
  * download: the embedder is the feature-hashing trick (Weinberger
  * ICML'09) — token -> md5 -> (bucket, sign) -> signed count vector.
  *
  * Scale notes: embedding is a per-row fold over the token array
  * (one md5 per token, codegen'd higher-order functions) — zero
  * shuffle, the same shape as the MinHash/SimHash signatures.
  * Retrieval orders by score and LIMITs, which Spark plans as
  * TakeOrderedAndProject: per-partition partial top-k + a k-row
  * driver merge, never a global sort.
  */
object Embedding {

  /** Feature-hash embedding of a text column: each token lands in
    * bucket md5_lane1 % dim with sign +-1 from md5_lane2 — vector
    * components are small integers, so downstream dot/norm doubles
    * are exact and engine-identical.
    */
  def featureHashVec(text: Column, dim: Int): Column = {
    val toks = split(lower(text), " ")
    val hashed = transform(toks, t =>
      struct(
        pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(dim)).as("b"),
        (lit(1.0) - lit(2.0) * pmod(conv(substring(md5(t), 9, 1), 16, 10).cast("long"), lit(2)).cast("double")).as("sg")
      ))
    // ONE pass over the tokens with an array accumulator: the
    // per-dimension formulation (transform over sequence(0, dim-1))
    // re-evaluated the md5 token fold dim times per row
    aggregate(hashed, array_repeat(lit(0.0), dim), (acc, h) =>
      transform(acc, (x, j) => x + when(h("b") === j.cast("long"), h("sg")).otherwise(lit(0.0))))
  }

  /** Driver-side twin of [[featureHashVec]] for embedding literal
    * query strings: semantics mirror the column fold exactly (md5
    * lane 1 -> bucket, lane 2 -> sign), so a query embedded here is
    * bit-identical to the same text embedded distributed.
    */
  def featureHashVecLocal(text: String, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v  = new Array[Double](dim)
    // split limit -1 keeps trailing empty tokens, matching Spark's split
    text.toLowerCase.split(" ", -1).foreach { t =>
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b   = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim).toInt
      val sg  = 1.0 - 2.0 * (java.lang.Long.parseLong(hex.substring(8, 9), 16) % 2)
      v(b) += sg
    }
    v
  }

  /** (doc_id, chunk_id, v): embedding per chunk, via the codegen'd
    * graft_fh_embed kernel — one md5 per token, the embed
    * stays inside whole-stage codegen (the 100 TB path).
    */
  def embedChunks(chunks: DataFrame, dim: Int = 16): DataFrame = {
    graft.plans.GraftFunctions.register(chunks.sparkSession)
    chunks.select(col("doc_id"), col("chunk_id"), expr(s"graft_fh_embed(chunk, $dim)").as("v"))
  }

  /** Composed-plan twin of [[embedChunks]] (higher-order-function
    * fold) — kept as the cross-checkable reference; bit-identity with
    * the expression is asserted in spec.
    */
  def embedChunksComposed(chunks: DataFrame, dim: Int = 16): DataFrame =
    chunks.select(col("doc_id"), col("chunk_id"), featureHashVec(col("chunk"), dim).as("v"))

  /** The ±1 sign matrix for [[randomProject]]: entry (j, i) is +1
    * when the first hex digit of md5("j:i") is even — the same
    * parity recipe as the LSH hyperplanes, so any engine (or a SQL
    * oracle) regenerates the matrix bit-identically with no stored
    * or broadcast state.
    */
  def signMatrix(r: Int, d: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(r, d) { (j, i) =>
      val hex = md.digest(s"$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Signed random projection (Achlioptas '01, the database-friendly
    * Johnson-Lindenstrauss transform): compress d-dim float
    * embeddings to r dims with a ±1 matrix, preserving pairwise
    * distances in expectation (E[p_j²] = |v|² per output dim). The
    * 100 TB role is bandwidth: an 8x narrower vector column feeds
    * downstream ANN/dedup at 8x less shuffle and storage, and
    * because the matrix derives from md5 there is nothing to
    * broadcast, version, or keep consistent across jobs — re-runs
    * and late re-projections are byte-reproducible. Per-row
    * scan-stage work (r sign-folded dot products inside whole-stage
    * codegen via the zip_with/aggregate kernel), zero shuffle; the
    * sequential fold order makes each projection a pure function of
    * the vector, hash-matchable against a SQL oracle.
    */
  def randomProject(embeddings: DataFrame, r: Int = 8, d: Int = 64): DataFrame = {
    val signs = signMatrix(r, d)
    val v     = toDouble(col("embedding"))
    embeddings
      .select(col("vec_id"),
        explode(array((0 until r).map(j =>
          struct(lit(j.toLong).as("j"),
            // + 0.0: a ±1-sign dot can land on IEEE -0.0 and the
            // engines disagree on the rounded zero's sign bit
            (round(dot(v, array(signs(j).map(lit).toSeq: _*)), 6) + lit(0.0)).as("p"))): _*)).as("q"))
      .select(col("vec_id"), col("q.j").as("j"), col("q.p").as("p"))
  }

  /** Full RAG retrieval: chunk -> embed -> cosine top-k for a query
    * string, rank 1..k. The query vector is a literal fold — no
    * second scan, no join; scoring is narrow over the chunk stream.
    */
  def ragRetrieve(
      documents: DataFrame,
      query: String,
      size: Int = 100,
      overlap: Int = 20,
      dim: Int = 16,
      k: Int = 5
  ): DataFrame = {
    // the query embeds once on the driver and rides along as a
    // literal array — no per-row re-fold, no join
    val qv    = featureHashVecLocal(query, dim)
    val qnorm = math.sqrt(qv.map(x => x * x).sum)
    val qvCol = array(qv.map(lit).toSeq: _*)
    val scored = embedChunks(TextAnalysis.chunk(documents, size, overlap), dim)
      .withColumn("cos",
        when(norm(col("v")) * lit(qnorm) =!= 0, dot(col("v"), qvCol) / (norm(col("v")) * lit(qnorm))))
      .filter(col("cos").isNotNull)
      .select(col("doc_id"), col("chunk_id"), col("cos"))
    // TakeOrderedAndProject: partial top-k per partition, k-row merge
    val topk = scored.orderBy(col("cos").desc, col("doc_id").asc, col("chunk_id").asc).limit(k)
    topk.withColumn("rnk",
      // global order over the k-row top-k only
      row_number().over(Window.orderBy(col("cos").desc, col("doc_id").asc, col("chunk_id").asc)).cast("long"))
  }

  /** Batch retrieval — the retrieval-service shape: a (qid, query)
    * table of text queries answered in ONE pass over the corpus.
    * Queries embed distributed, broadcast to every chunk partition,
    * and the per-qid top-k comes from a rank window — the corpus is
    * scanned once regardless of query count.
    */
  def ragRetrieveBatch(
      documents: DataFrame,
      queries: DataFrame, // (qid, query)
      size: Int = 100,
      overlap: Int = 20,
      dim: Int = 16,
      k: Int = 5
  ): DataFrame = {
    val q = broadcast(
      queries.select(col("qid"), featureHashVec(col("query"), dim).as("qv"))
        .withColumn("qnrm", norm(col("qv"))))
    val emb = embedChunks(TextAnalysis.chunk(documents, size, overlap), dim)
      .withColumn("nrm", norm(col("v")))
    val scored = emb
      .join(q, col("nrm") * col("qnrm") =!= 0)
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("doc_id").asc, col("chunk_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("doc_id"), col("chunk_id"), col("cos"), col("rnk"))
  }

  /** The corpus vector width, read from one row on the driver. */
  private def dimOf(embeddings: DataFrame, op: String): Int =
    Materialize.named(s"head Embedding.$op.dim")(embeddings.select(size(col("embedding"))).head()).getInt(0)

  /** The (vec_id, vector) rows matching `pred`, collected in vec_id order. */
  private def vectorsWhere(embeddings: DataFrame, pred: Column, site: String): Array[(Long, Array[Double])] =
    Materialize.named(s"collect Embedding.$site") {
      embeddings.filter(pred).select(col("vec_id"), toDouble(col("embedding")).as("v")).collect()
    }.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** Product-quantization codes: split each d-dim vector into m
    * contiguous subvectors and assign each to its nearest codebook
    * entry — the memory layout ANN reranking and vector compression
    * build on (d doubles become m small ints; ~32x compression at
    * m=8, nc=16). The codebook is the deterministic SEED quantizer
    * (subvectors of the first `nc` vectors by vec_id, zero Lloyd
    * iterations — the [[Similarity.ivfTrain]] iters=0 pattern:
    * trained float means can never hash-match across engines, so the
    * trained path belongs to spec-land while the gate drives the
    * full assignment pipeline).
    *
    * Shape: (vector x subspace) rows join a BROADCAST m x nc
    * codebook; distance is an explicit left-associated 8-term sum of
    * squared differences (identical op order on the SQL oracle — no
    * HOF fold whose reduction order an engine could change); argmin
    * breaks ties on the smaller code via a (dist, code) min_by
    * struct. One scan, no shuffle beyond the (vec, j) aggregate.
    */
  def pqCodes(embeddings: DataFrame, m: Int = 8, nc: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val dim = dimOf(embeddings, "pqCodes")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // codebook rides the plan as literals (ivfTrain's tiny-result
    // pattern): m x nc rows of sub doubles
    val seeds = vectorsWhere(embeddings, col("vec_id") < nc, "pqCodes.seeds")
    import spark.implicits._
    val codebook = broadcast(
      seeds.flatMap { case (code, v) =>
        (0 until m).map(j => (j.toLong, code, v.slice(j * sub, (j + 1) * sub)))
      }.toSeq.toDF("cj", "code", "cent"))
    val exploded = embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j.toLong).as("j"),
            slice(col("v"), j * sub + 1, sub).as("s"))): _*)).as("q"))
      .select(col("vec_id"), col("q.j").as("j"), col("q.s").as("s"))
    // explicit left-associated squared-distance chain: element i of
    // both lists, (s_i - c_i)^2 accumulated in index order
    val dist = (1 to sub)
      .map { i =>
        val dx = element_at(col("s"), i) - element_at(col("cent"), i)
        dx * dx
      }
      .reduceLeft(_ + _)
    exploded
      .join(codebook, col("j") === col("cj"))
      .select(col("vec_id"), col("j"), col("code"), dist.as("dist"))
      .groupBy(col("vec_id"), col("j"))
      .agg(
        min_by(col("code"), struct(col("dist"), col("code"))).as("code"),
        round(min(col("dist")), 6).as("dist"))
  }

  /** PQ asymmetric-distance search (ADC, Jégou PAMI'11): approximate
    * top-k by L2 over the [[pqCodes]] compression — the query stays
    * FULL precision while the corpus is m small codes per vector.
    * Per query the m x nc lookup table (exact L2 from each query
    * subvector to each codebook entry, the same left-associated
    * squared-diff chain as pqCodes) is tiny and BROADCASTS; scoring
    * is then one equi-join of the code table against the LUT on
    * (j, code) + an m-term sum per (query, vector) — the corpus's
    * full vectors are never touched again, which is the entire point
    * at 100 TB: search bandwidth is m bytes/vector, not d floats.
    * The m-term per-pair sum is a bounded float group → 6dp (the
    * rollingStats recipe); rank breaks ties on vec_id.
    */
  def pqSearch(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
               m: Int = 8, nc: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val dim = dimOf(embeddings, "pqSearch")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    def fullVecs(pred: Column) = vectorsWhere(embeddings, pred, "pqSearch.vectors")
    val seeds   = fullVecs(col("vec_id") < nc)
    val queries = fullVecs(col("vec_id").isin(queryIds: _*))
    require(queries.length == queryIds.distinct.length,
      s"missing query vectors: wanted ${queryIds.distinct.length}, found ${queries.length}")
    // the per-query LUT: left-associated index-order accumulation,
    // the exact arithmetic the SQL oracle spells term by term
    val lutRows = for {
      (qid, qv)    <- queries.toSeq
      j            <- 0 until m
      (code, cv)   <- seeds
    } yield {
      var d = 0.0
      var i = 0
      while (i < sub) {
        val dx = qv(j * sub + i) - cv(j * sub + i)
        d += dx * dx
        i += 1
      }
      (qid, j.toLong, code, d)
    }
    import spark.implicits._
    val lut   = broadcast(lutRows.toDF("qid", "lj", "lcode", "d"))
    val codes = pqCodes(embeddings, m, nc)
    val adc = codes
      .join(lut, col("j") === col("lj") && col("code") === col("lcode"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("d")), 6).as("adc_dist"))
    val w = Window.partitionBy("qid").orderBy(col("adc_dist").asc, col("vec_id").asc)
    adc
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("adc_dist"), col("rnk"))
  }

  /** IVF-PQ search (the FAISS IndexIVFPQ analog): coarse-quantize the
    * corpus into `nlist` cells (codegen'd broadcast-literal argmin,
    * zero corpus shuffle), probe only the `nprobe` cells nearest each
    * query, and score the survivors by PQ asymmetric distance — the
    * two scale levers compose: the probe bounds the candidate set to
    * ~nprobe/nlist of the corpus and ADC bounds per-candidate cost to
    * m LUT lookups, so search cost is ~(nprobe/nlist)·n·m regardless
    * of dimension. The coarse quantizer is the deterministic SEED
    * ([[graft.operators.Similarity.ivfTrain]] iters=0 — trained float
    * means can't cross-engine hash-match; the trained path is
    * spec-land, the q_ann_ivf convention); probe lists and LUTs are
    * driver-computed over the literal centroid vectors with the same
    * left-associated chains the SQL oracle spells. Self-matches are
    * excluded (the [[graft.operators.Similarity.ivfSearch]]
    * convention).
    */
  def ivfPqSearch(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
                  nlist: Int = 16, nprobe: Int = 4, m: Int = 8, nc: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val dim = dimOf(embeddings, "ivfPqSearch")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe $nprobe outside [1, $nlist]")
    val sub   = dim / m
    val cents = Similarity.ivfTrain(embeddings, nlist, iters = 0)
    val cells = Similarity
      .assignCells(embeddings.select(col("vec_id"), toDouble(col("embedding")).as("v")), cents)
      .select(col("vec_id"), col("cell"))
    def fullVecs(pred: Column) = vectorsWhere(embeddings, pred, "ivfPqSearch.vectors")
    val seeds   = fullVecs(col("vec_id") < nc)
    val queries = fullVecs(col("vec_id").isin(queryIds: _*))
    // index-order accumulation — the oracle's sequential MAC
    def d2(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int, len: Int): Double = {
      var s = 0.0; var i = 0
      while (i < len) { val dx = a(aOff + i) - b(bOff + i); s += dx * dx; i += 1 }
      s
    }
    val probeRows = queries.toSeq.flatMap { case (qid, qv) =>
      cents.toSeq
        .map { case (cid, cv) => (d2(qv, 0, cv, 0, dim), cid) }
        .sorted.take(nprobe)
        .map { case (_, cid) => (qid, cid) }
    }
    val lutRows = for {
      (qid, qv)  <- queries.toSeq
      j          <- 0 until m
      (code, cv) <- seeds
    } yield (qid, j.toLong, code, d2(qv, j * sub, cv, j * sub, sub))
    import spark.implicits._
    val probes = broadcast(probeRows.toDF("pqid", "pcell"))
    val lut    = broadcast(lutRows.toDF("lqid", "lj", "lcode", "d"))
    val codes  = pqCodes(embeddings, m, nc)
    val survivors = cells
      .join(probes, col("cell") === col("pcell"))
      .filter(col("vec_id") =!= col("pqid"))
      .select(col("pqid").as("qid"), col("vec_id"))
    val adc = survivors
      .join(codes, "vec_id")
      .join(lut, col("qid") === col("lqid") && col("j") === col("lj") && col("code") === col("lcode"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("d")), 6).as("adc_dist"))
    val w = Window.partitionBy("qid").orderBy(col("adc_dist").asc, col("vec_id").asc)
    adc
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("adc_dist"), col("rnk"))
  }

  /** PQ distortion audit per subspace: how much L2 error each of the
    * m codebooks absorbs — the index-tuning readout that says WHICH
    * subspace needs more centroids before [[pqSearch]] accuracy is
    * blamed on k. Rides [[pqCodes]]' 6dp-rounded quantization
    * distances: each rounds back to an exact micro-long
    * (round, not floor — the stored double is the nearest
    * representation of a 6dp decimal, possibly just below it), so
    * the corpus-axis mean is an exact-integer quotient; max is
    * order-independent on the raw values. distortion_share is each
    * subspace's slice of the total error (one broadcast scalar).
    */
  def pqDistortion(embeddings: DataFrame, m: Int = 8, nc: Int = 16): DataFrame = {
    val codes = pqCodes(embeddings, m, nc)
      .withColumn("du", round(col("dist") * 1000000, 0).cast("long"))
    val perJ = codes.groupBy(col("j"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("du")).as("su"),
        max(col("du")).as("mxu"))
    val tot = perJ.agg(sum(col("su")).as("stot"))
    perJ.crossJoin(broadcast(tot))
      .select(col("j"), col("n_vecs"),
        (col("su").cast("double") / col("n_vecs").cast("double") / 1000000).as("mean_sq_dist"),
        (col("mxu").cast("double") / 1000000).as("max_sq_dist"),
        when(col("stot") > 0, col("su").cast("double") / col("stot").cast("double"))
          .as("distortion_share"))
  }
}
