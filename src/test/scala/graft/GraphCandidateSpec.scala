package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Subset-of-exact invariants for the graph family's celled DEFAULT
  * edge builder ([[Similarity.knnCandidatePairs]]) — the
  * q_semantic_dedup pattern applied to the kNN-graph head. Whatever
  * the quantizer does, three things must hold: every celled pair IS
  * an exact pair with a bit-equal score (same block kernel), the
  * candidate volume is strictly below the full pair space, and the
  * exact=true opt-in still produces the true k-regular kNN graph
  * that dominates the celled one edge-for-edge.
  */
class GraphCandidateSpec extends AnyFunSuite {
  import TestSession._

  private lazy val emb = Tables.embeddings(spark, sf)

  test("celled candidate pairs are a subset of the exact sweep with bit-equal scores") {
    // explicit 8-cell quantizer: the fixture (50 vectors) sits below
    // knnCandidatePairs' celling floor, so the genuinely-celled
    // invariants are pinned against ivfNearDupPairs directly
    val cents  = Similarity.ivfTrain(emb, nlist = 8, iters = 0)
    val celled = Similarity.ivfNearDupPairs(emb, -2.0, cents)
      .select(col("va"), col("vb"), col("cos").as("cc"))
    val exact = Similarity.cosineNearDupPairs(emb, -2.0).select(col("va"), col("vb"), col("cos").as("ce"))
    val nC = celled.count()
    val nE = exact.count()
    assert(nC > 0, "celled builder produced no candidate pairs")
    assert(nC < nE, s"candidate volume $nC not below the exact pair space $nE")
    val joined = celled.join(exact, Seq("va", "vb"))
    assert(joined.count() === nC, "a celled pair is missing from the exact sweep")
    val drift = joined.filter(col("cc") =!= col("ce")).count()
    assert(drift === 0, "celled scores drift from the exact kernel")
  }

  test("below the celling floor knnCandidatePairs IS the exact sweep (nlist = 1)") {
    val celled = Similarity.knnCandidatePairs(emb).select(col("va"), col("vb"), col("cos"))
    val exact  = Similarity.cosineNearDupPairs(emb, -2.0).select(col("va"), col("vb"), col("cos"))
    assert(emb.count() <= 512, "fixture grew past the floor: move this test to a smaller slice")
    assert(celled.exceptAll(exact).count() === 0 && exact.exceptAll(celled).count() === 0,
      "floor corpora must lose zero recall")
    // and a corpus too small to seed 16 cells must not throw
    val tiny = emb.limit(5)
    assert(Similarity.knnGraph(tiny, 2).count() > 0)
  }

  test("exact=true restores the k-regular kNN graph and dominates the celled graph per edge rank") {
    val k = 5
    val exactG  = Similarity.knnGraph(emb, k, exact = true)
      .select(col("src"), col("rnk"), col("cos").as("ce"))
    val celledG = Similarity.knnGraph(emb, k)
      .select(col("src"), col("rnk"), col("cos").as("cc"))
    val n = emb.count()
    // true kNN graph: every node has exactly min(k, n-1) out-edges
    val degBad = exactG.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") =!= math.min(k, n - 1)).count()
    assert(degBad === 0, "exact kNN graph is not k-regular")
    // rank dominance: at every (src, rnk) the exact neighbor is at
    // least as close as the celled one (the celled graph picks from
    // a subset of the exact candidate set)
    val dom = celledG.join(exactG, Seq("src", "rnk"))
    assert(dom.filter(col("ce") < col("cc")).count() === 0,
      "a celled edge outranks the exact graph at the same rank")
  }

  test("celled knnClassify votes only come from the query's own cell (constructed geometry)") {
    // 602 vectors (above the celling floor → nlist 16, ncoarse 4).
    // Coarse seeds are ids 0..3: the A-cluster query (id 0, label 1)
    // plus three B seeds. The A-ish coarse cell holds 115 members
    // (query + 3 decoys + 110 fillers + the mate), so PROPORTIONAL
    // allocation gives it fpc_0 = ceil(16·115/602) = 4 fine
    // centroids — the first four members by vec_id: the query and
    // the three label-2 DECOYS (offset +2 on distinct dims). The
    // fillers sit next to decoy 1 (they fine-assign there), and the
    // A mate at id 601 (label 1, offset +0.1 — too late by vec_id to
    // become a fine centroid, strictly nearest the QUERY's centroid)
    // lands in the query's fine cell. That cell then holds ONLY the
    // mate → the celled classifier predicts 1; the exact classifier
    // sees mate + 4 label-2 A-ish neighbors in its top-5 and
    // predicts 2 — only the cell restriction produces that split.
    val spark2 = TestSession.spark
    import spark2.implicits._
    def vecA(): Array[Float] = Array.tabulate(8)(d => 10f + d)
    def mate(): Array[Float] = { val a = vecA(); a(0) += 0.1f; a }
    def decoy(j: Int): Array[Float] = { val a = vecA(); a(j) += 2f; a }
    def filler(i: Int): Array[Float] = {
      val a = vecA(); a(1) += 2f; a(4) += 0.25f * ((i % 3) + 1); a
    }
    def vecB(seed: Int) = Array.tabulate(8)(d => -10f - 0.01f * seed - d)
    val rows =
      Seq((0L, vecA(), 1)) ++
        (1 to 3).map(i => (i.toLong, vecB(i), 2)) ++
        (4 to 6).map(j => (j.toLong, decoy(j - 3), 2)) ++
        (7 to 116).map(i => (i.toLong, filler(i), 2)) ++
        (117 until 601).map(i => (i.toLong, vecB(i), 2)) ++
        Seq((601L, mate(), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val celled = Similarity.knnClassify(df).filter(col("qid") === 0L).head()
    val exact  = Similarity.knnClassify(df, exact = true).filter(col("qid") === 0L).head()
    assert(celled.getAs[Int]("predicted_label") === 1,
      "celled classifier must vote only inside the A cell")
    assert(exact.getAs[Int]("predicted_label") === 2,
      "exact classifier must see the label-2 neighbors outvote the A mate")
  }

  private def bigFixture = {
    val spark2 = TestSession.spark
    import spark2.implicits._
    // 600 deterministic pseudo-spread vectors: above the celling
    // floor (nlist 16, ncoarse 4, fpc 4) with non-trivial geometry
    (0 until 600).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 7f))
    }.toDF("vec_id", "embedding")
  }

  test("two-level celled pairs are a subset of the exact sweep with bit-equal scores") {
    val df = bigFixture
    val celled = Similarity.knnCandidatePairs(df).select(col("va"), col("vb"), col("cos").as("cc"))
    val exact  = Similarity.cosineNearDupPairs(df, -2.0).select(col("va"), col("vb"), col("cos").as("ce"))
    val nC = celled.count()
    val nE = exact.count()
    assert(nC > 0, "two-level builder produced no candidate pairs")
    assert(nC < nE, s"candidate volume $nC not below the exact pair space $nE")
    val joined = celled.join(exact, Seq("va", "vb"))
    assert(joined.count() === nC, "a two-level celled pair is missing from the exact sweep")
    assert(joined.filter(col("cc") =!= col("ce")).count() === 0,
      "two-level celled scores drift from the exact kernel")
  }

  test("two-level assignment is partition-invariant, proportional, and lands inside the id space") {
    val df = bigFixture
    val nlist   = Similarity.knnNlist(600L)
    val ncoarse = Similarity.knnNcoarse(nlist)
    // proportional-allocation arithmetic pins
    assert(Similarity.knnFpcOf(nlist, 600L, 600L) === nlist.toLong,
      "a coarse cell holding the corpus gets all nlist fine centroids")
    assert(Similarity.knnFpcOf(nlist, 1L, 600L) === 1L,
      "a singleton coarse cell still gets one fine centroid")
    val a = Similarity.knnAssignCells(df.repartition(7)).select("vec_id", "cell")
    val b = Similarity.knnAssignCells(df.repartition(3)).select("vec_id", "cell")
    assert(a.count() === 600L, "two-level assignment dropped rows")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "two-level assignment is partition-dependent")
    val outOfRange = a.filter(col("cell") < 0 ||
      col("cell") >= ncoarse.toLong * (nlist + 1L)).count()
    assert(outOfRange === 0, "a cell id escaped [0, ncoarse*(nlist+1))")
    // sum of proportional allocations is bounded: nlist rounding-up
    // once per coarse cell
    val nCells = a.select("cell").distinct().count()
    assert(nCells <= nlist.toLong + ncoarse,
      s"$nCells fine cells exceed the nlist+ncoarse allocation bound")
  }

  test("past the seed cap the SAMPLED-quantizer rung engages: still subset-of-exact, still partition-invariant") {
    val df = bigFixture // 600 vectors: nlist 16, ncoarse 4
    // force routing rung 3: a cap of 2 makes the single-pass prefix
    // too short for ncoarse=4, the shape a >4.3e9-vector corpus hits
    // at the default cap — this must ROUTE, not throw
    val assigned = Similarity.knnAssignCells(df.repartition(7), seedCap = 2).select("vec_id", "cell")
    assert(assigned.count() === 600L, "sampled-rung assignment dropped rows")
    // partition invariance: the hash-sampled seeds are a total
    // order on ids, so the assignment cannot depend on layout
    val b = Similarity.knnAssignCells(df.repartition(3), seedCap = 2).select("vec_id", "cell")
    assert(assigned.exceptAll(b).count() === 0 && b.exceptAll(assigned).count() === 0,
      "sampled-rung assignment is partition-dependent")
    // the sampled seeds differ from the prefix seeds, so the rung
    // genuinely engaged (cells differ from the prefix-rung cells)
    val prefixCells = Similarity.knnAssignCells(df).select("vec_id", "cell").collect().toSet
    assert(assigned.collect().toSet !== prefixCells,
      "cap=2 did not change the quantizer — the sampled rung never engaged")
    // subset-of-exact with bit-equal scores on the sampled rung
    // knnCandidatePairs' body with the cap forced
    val celled = Similarity.inCellPairs(Similarity.knnAssignCells(df, seedCap = 2), -2.0, 512,
      "knnCandidatePairs").select(col("va"), col("vb"), col("cos").as("cc"))
    val exact  = Similarity.cosineNearDupPairs(df, -2.0).select(col("va"), col("vb"), col("cos").as("ce"))
    val nC = celled.count()
    assert(nC > 0 && nC < exact.count(), "sampled-rung candidate volume not strictly between 0 and exact")
    val joined = celled.join(exact, Seq("va", "vb"))
    assert(joined.count() === nC, "a sampled-rung pair is missing from the exact sweep")
    assert(joined.filter(col("cc") =!= col("ce")).count() === 0,
      "sampled-rung scores drift from the exact kernel")
  }
}
