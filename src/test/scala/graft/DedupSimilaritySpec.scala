package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("pair-sweep key cap: fires on a wide key universe, silent on the fixture, off by default") {
    import graft.operators.{Guards, TimeSeries}
    val emb = Tables.embeddings(spark, sf)
    // the guard is IN-PLAN (that is what makes it free — no extra
    // Spark job at operator-build time), so the violation surfaces at
    // action time wrapped in Spark's task-failure chain: walk causes
    // for the named message
    def guardMessage(body: => Unit): String = {
      val t = intercept[Throwable] { body }
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    }
    try {
      // cap far above the fixture's vector count: silent
      spark.conf.set(Guards.PairSweepMaxKeys, "1000000")
      assert(Similarity.cosineNearDupPairs(emb, 0.45).limit(1).count() >= 0)
      // cap below it: the sweep must fail loudly on its own action,
      // naming the quadratic semantics — before the O(n^2) sweep runs
      spark.conf.set(Guards.PairSweepMaxKeys, "10")
      val m1 = guardMessage { Similarity.cosineNearDupPairs(emb, 0.45).collect() }
      assert(m1.contains("O(keys^2)") && m1.contains("cosineNearDupPairs"), m1)
      val m2 = guardMessage { TimeSeries.correlationMatrix(Tables.events(spark, sf)).collect() }
      assert(m2.contains("O(keys^2)") && m2.contains("correlationMatrix"), m2)
      // the bucketed sweep's variant: a degenerate one-cell quantizer
      // holds the whole corpus in one bucket and must fail the same way
      val m3 = guardMessage {
        Similarity.ivfNearDupPairs(emb, 0.45, Similarity.ivfTrain(emb, nlist = 1, iters = 0)).collect()
      }
      assert(m3.contains("O(occupancy^2)") && m3.contains("ivfNearDupPairs"), m3)
      // an empty frame under an enabled cap is a pass, not an NPE
      // (zero occupancy cannot exceed any cap)
      import spark.implicits._
      val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      assert(Similarity.cosineNearDupPairs(none, 0.45).count() === 0)
    } finally spark.conf.unset(Guards.PairSweepMaxKeys)
    // conf unset (the default): contract documented but unenforced
    assert(Similarity.cosineNearDupPairs(emb, 0.45).limit(1).count() >= 0)
  }

  test("minhash-LSH candidates cover the high-jaccard pairs") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf)
    val truth = Dedup.ngramJaccardPairs(docs, 3, 0.9).select($"da", $"db")
    val cand  = Dedup.minhashLshCandidates(docs).select($"da", $"db")
    val missed = truth.except(cand).count()
    val total  = truth.count()
    assert(total > 0, "no ground-truth near-dup pairs in the corpus")
    // 4 bands x 2 rows at j>=0.9: P(candidate) ~ 1-(1-j^2)^4 > 0.999
    assert(missed <= total / 10, s"LSH missed $missed of $total high-sim pairs")
  }

  test("ppjoin prefix filter is exact: pairs identical to the naive all-shared-shingle join") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // naive oracle: every doc pair sharing ANY shingle, jaccard from
    // exact intersection counts — no prefix filter, no size bound
    val sh = Dedup.shingles(docs, 3)
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val naive = sh.as("a")
      .join(sh.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select($"doc_id".as("da"), $"n".as("na")), "da")
      .join(sz.select($"doc_id".as("db"), $"n".as("nb")), "db")
      .select($"da", $"db", ($"i".cast("double") / ($"na" + $"nb" - $"i")).as("jaccard"))
      .filter($"jaccard" >= 0.8)
    val fast = Dedup.ngramJaccardPairs(docs, 3, 0.8)
    assert(naive.count() > 0, "no naive pairs — threshold too strict for this corpus")
    assert(fast.exceptAll(naive).count() === 0 && naive.exceptAll(fast).count() === 0)
  }

  test("banded jaccard IS the exact sweep restricted to LSH candidates, with bit-equal scores") {
    import spark.implicits._
    val docs   = Tables.documents(spark, sf)
    val banded = Dedup.ngramJaccardPairsBanded(docs, 3, 0.8)
    val exact  = Dedup.ngramJaccardPairs(docs, 3, 0.8)
    val cand   = Dedup.minhashLshCandidatesFast(docs)
    // the subset-exactness argument (same as simhash banding):
    // banded = exact ∩ candidates, scores INCLUDED — banding decides
    // which pairs are examined, never what a pair scores
    val want = exact.join(cand, Seq("da", "db"))
    assert(banded.count() > 0, "no banded pairs — vacuous check")
    assert(banded.exceptAll(want).count() === 0 && want.exceptAll(banded).count() === 0)
    // recall on the fixture: 4 bands x 2 rows at j>=0.8 gives
    // P(candidate) ~ 1-(1-j^2)^4 ~ 0.98 — the banded result must
    // carry nearly all exact pairs, or banding is not a usable default
    val total  = exact.count()
    val missed = exact.select($"da", $"db").except(banded.select($"da", $"db")).count()
    assert(missed <= total / 5, s"banded jaccard missed $missed of $total exact pairs")
  }

  test("trained semantic dedup gate: subset/score/volume invariants hold end-to-end") {
    import spark.implicits._
    val got = SparkEntry.queries("q_semantic_dedup_trained")(spark, sf).collect()
    assert(got.length === 1)
    val r = got.head
    val nExact = Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf), 0.45).count()
    assert(r.getLong(0) === nExact)
    assert(r.getBoolean(1), "within-cell pairs escaped the exact sweep")
    assert(r.getBoolean(2), "within-cell scores diverged from the exact sweep")
    assert(r.getBoolean(3), "trained cells left more than half the full pair space")
  }

  test("simhash distance small for near-dup pairs, larger for random pairs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val sims = Dedup.simhash(docs).cache()
    val near = Dedup.ngramJaccardPairs(docs, 3, 0.9).select($"da", $"db")
    val dist = near
      .join(sims.select($"doc_id".as("da"), $"simhash".as("ha")), "da")
      .join(sims.select($"doc_id".as("db"), $"simhash".as("hb")), "db")
      .select(bit_count($"ha".bitwiseXOR($"hb")).as("d"))
    val avgNear = dist.agg(avg($"d")).head().getDouble(0)
    assert(avgNear < 12, s"near-dup avg simhash distance $avgNear too high")
  }

  test("custom simhash expression is bit-identical to the composed plan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val a    = Dedup.simhash(docs)
    val b    = Dedup.simhashFast(docs)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("custom minhash expression yields the same LSH candidates as the composed plan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val a    = Dedup.minhashLshCandidates(docs)
    val b    = Dedup.minhashLshCandidatesFast(docs)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("banded hamming join is exact: identical to the all-pairs simhash sweep") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf)
    val naive = Dedup.simhashPairs(Dedup.simhash(docs), 4)
      .select($"da", $"db", $"dist".cast("long").as("dist"))
    val banded = Dedup.simhashNearDupPairs(docs, 4)
    assert(naive.count() > 0, "no dist<=4 pairs in the corpus")
    assert(banded.exceptAll(naive).count() === 0 && naive.exceptAll(banded).count() === 0)
  }

  test("cluster resolution matches a local union-find on the candidate graph") {
    import spark.implicits._
    val pairs = Dedup.minhashLshCandidates(Tables.documents(spark, sf))
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local union-find ground truth
    val edges  = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    assert(edges.nonEmpty && got === want)
    // every cluster id is the min member of its cluster
    assert(got.groupBy(_._2).forall { case (cid, ms) => ms.keys.min == cid })
  }

  test("large-star/small-star converges on a long path where min-label propagation's cap trips") {
    import spark.implicits._
    // path graph 0-1-2-...-63: diameter 63, the adversarial shape for
    // O(diameter) label propagation
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("da", "db")
    intercept[IllegalStateException] {
      Dedup.clusters(path, maxIters = 4).count()
    }
    val got = Dedup.clustersBigStar(path).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 64)
    assert(got.forall(_._2 === 0L), "every path node must label to the component min")
  }

  test("large-star/small-star agrees with min-label propagation on real near-dup pairs") {
    import spark.implicits._
    val pairs = Dedup.minhashLshCandidatesFast(Tables.documents(spark, sf))
    val a = Dedup.clusters(pairs).orderBy("doc_id").collect().toSeq
    val b = Dedup.clustersBigStar(pairs).orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("repeatedSpans finds cross-document spans whole-doc dedup cannot see") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf)
    val spans = Dedup.repeatedSpans(docs, n = 3, minDocs = 2)
    assert(spans.count() > 0)
    assert(spans.filter($"n_docs" < 2).count() === 0)
    // first_doc really carries the span (re-derive that doc's 3-grams)
    val tok = graft.functions.TextFunctions
    val docSpans = docs.select($"doc_id".as("first_doc"),
      explode(array_distinct(tok.ngrams(split(lower($"text"), " "), 3))).as("span"))
    assert(spans.join(docSpans, Seq("first_doc", "span"), "left_anti").count() === 0)
    // the granularity claim: these docs are NOT exact duplicates of
    // each other, yet they share spans — doc-level dedup keeps both
    val exactDupDocs = docs.groupBy(md5($"text")).count().filter($"count" > 1).count()
    assert(exactDupDocs === 0 || spans.count() > exactDupDocs)
  }

  test("brute-force topk returns k ranked neighbors per query") {
    import spark.implicits._
    val topk = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), Seq(0L, 1L, 2L), 5)
    assert(topk.count() === 15)
    assert(topk.groupBy($"qid").agg(max($"rnk").as("m")).filter($"m" =!= 5).count() === 0)
  }

  test("containment: subset doc scores 1.0 where jaccard is low, df cap drops stop-shingles") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b c d e f"),
      (2L, "z a b c d e f q"),
      (3L, "u v w x y z")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(tiny, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    // doc 1's shingle set is fully inside doc 2's: C = 1.0 while
    // J = 4/6 — the asymmetric case Jaccard misses at 0.8
    assert(out.get((1L, 2L)).contains(1.0), s"subset pair must score 1.0: $out")
    assert(!out.keys.exists(k => k._1 == 3L || k._2 == 3L))
    // a df cap of 1 drops every SHARED shingle: no pair can survive
    assert(graft.operators.Dedup.containmentPairs(tiny, threshold = 0.1, maxDf = 1).count() === 0)
    // fixture: deterministic, well-formed, bounded
    val docs = Tables.documents(spark, sf)
    val a = graft.operators.Dedup.containmentPairs(docs)
    assert(a.exceptAll(graft.operators.Dedup.containmentPairs(docs)).count() === 0)
    assert(a.filter($"containment" <= 0 || $"containment" > 1.0 || $"da" >= $"db").count() === 0)
  }

  test("strip repeated spans: keep-first, hand-checked removal, token conservation") {
    import spark.implicits._
    // doc 1 and 2 share "a b c"; doc 1 (min id) keeps everything,
    // doc 2 loses exactly the covered tokens
    val tiny = Seq((1L, "a b c d"), (2L, "x a b c y"), (3L, "p q r")).toDF("doc_id", "text")
    val out  = graft.operators.Dedup.stripRepeatedSpans(tiny)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out(1L) === ("a b c d", 0L), s"first holder must keep its text: ${out(1L)}")
    assert(out(2L) === ("x y", 3L), s"covered tokens must be struck: ${out(2L)}")
    assert(out(3L) === ("p q r", 0L))
    // fixture: untouched docs round-trip lowercased text verbatim,
    // and surviving token counts reconcile with the accounting
    val docs  = Tables.documents(spark, sf)
    val strip = graft.operators.Dedup.stripRepeatedSpans(docs)
    val joined = strip.join(docs, "doc_id")
    assert(joined.filter($"n_removed" === 0 && $"clean_text" =!= lower($"text")).count() === 0)
    assert(strip.filter($"n_removed" > 0 && $"n_removed" < $"n_toks" &&
      size(split($"clean_text", " ")) =!= $"n_toks" - $"n_removed").count() === 0)
    assert(strip.filter($"n_removed" === $"n_toks" && $"clean_text" =!= "").count() === 0)
    // something was actually removed on this fixture (it has near-dups)
    assert(strip.filter($"n_removed" > 0).count() > 0)
  }

  test("hard negatives: band respected, near-dups excluded, subset of banded topk") {
    import spark.implicits._
    val emb  = Tables.embeddings(spark, sf)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val hn   = Similarity.hardNegatives(emb, qids, 5)
    // every mined negative sits inside the [floor, dup) band, ranked
    // hardest-first, at most k per anchor, never the anchor itself
    assert(hn.filter($"cos" >= 0.95 || $"cos" < 0.3).count() === 0)
    assert(hn.filter($"anchor_id" === $"negative_id").count() === 0)
    assert(hn.groupBy($"anchor_id").count().filter($"count" > 5).count() === 0)
    // with the band wide open it degrades to exactly bruteForceTopK
    val open = Similarity.hardNegatives(emb, qids, 5, dupThreshold = 2.0, floorThreshold = -2.0)
      .select($"anchor_id".as("qid"), $"negative_id".as("vec_id"), $"cos", $"rnk")
    val bf = Similarity.bruteForceTopK(emb, qids, 5)
    assert(open.exceptAll(bf).count() === 0 && bf.exceptAll(open).count() === 0)
    // a mined negative is never a near-duplicate of its anchor: the
    // excluded pairs are exactly those the dedup threshold names
    val dup = Similarity.hardNegatives(emb, qids, 1000, dupThreshold = 0.5, floorThreshold = 0.3)
    assert(dup.filter($"cos" >= 0.5).count() === 0)
  }

  test("int8 topk: quantized levels in [-127,127], integral, and recall vs float is high") {
    import spark.implicits._
    val emb  = Tables.embeddings(spark, sf)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val i8   = Similarity.int8BruteForceTopK(emb, qids, 5)
    assert(i8.count() === 25)
    assert(i8.filter($"qcos" < -1.0001 || $"qcos" > 1.0001).count() === 0)
    // recall@5 vs the float path: int8 quantization on 64-d unit-ish
    // vectors should rarely flip a top-5 member (24/25 on this
    // fixture; bound leaves one extra flip of slack)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (ids(i8) & ids(Similarity.bruteForceTopK(emb, qids, 5))).size
    assert(overlap >= 23, s"int8 recall dropped: $overlap/25 shared with float top-5")
    // determinism: integer math + sqrt — two runs collect identically
    assert(Similarity.int8BruteForceTopK(emb, qids, 5).exceptAll(i8).count() === 0)
  }

  test("IVF: full probe equals brute force exactly; half probe keeps useful recall") {
    val emb   = Tables.embeddings(spark, sf)
    val cents = Similarity.ivfTrain(emb, nlist = 8, iters = 3)
    val qids  = Seq(0L, 1L, 2L, 3L, 4L)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val bf   = keyed(Similarity.bruteForceTopK(emb, qids, 5))
    val full = keyed(Similarity.ivfSearch(emb, cents, qids, 5, nprobe = 8))
    assert(full === bf, "probing every cell must reduce to exact brute force")
    val part   = Similarity.ivfSearch(emb, cents, qids, 5, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfIds  = bf.map(t => (t._1, t._2))
    val recall = (part & bfIds).size.toDouble / bfIds.size
    assert(recall >= 0.4, s"recall@5 with half the cells probed: $recall")
  }

  test("ivf recall audit: monotone nondecreasing in nprobe, exactly 1 at full probe") {
    val emb   = Tables.embeddings(spark, sf)
    val cents = Similarity.ivfTrain(emb, nlist = 8, iters = 3)
    val qids  = Seq(0L, 1L, 2L, 3L, 4L)
    def recalls(nprobe: Int): Map[Long, Double] =
      Similarity.ivfRecall(emb, cents, qids, 5, nprobe).collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("recall")).toMap
    val byProbe = Seq(1, 2, 4, 8).map(p => p -> recalls(p))
    byProbe.foreach { case (p, m) =>
      qids.foreach(q => assert(m(q) >= 0.0 && m(q) <= 1.0, s"recall bounds at nprobe=$p qid=$q"))
    }
    byProbe.sliding(2).foreach { case Seq((pLo, lo), (pHi, hi)) =>
      qids.foreach(q =>
        assert(lo(q) <= hi(q) + 1e-9, s"recall must not drop: qid=$q $pLo->$pHi ${lo(q)} > ${hi(q)}"))
    }
    qids.foreach(q => assert(byProbe.last._2(q) === 1.0, s"full probe must be exact for qid=$q"))
  }

  test("intrinsic dimension: a line reads ~1, a plane reads ~2") {
    import spark.implicits._
    // TwoNN assumes locally Poisson samples — a REGULAR lattice
    // (both neighbors equidistant, r2/r1 -> 1) blows the estimate
    // up, so the fixtures use deterministic pseudo-uniform draws
    def u(i: Int, salt: Int) = ((((i * 31L + salt) * 2654435761L) >>> 13) % 100000) / 100000.0
    // 1-D: Poisson-like gaps via -ln(u)
    val xs = (0 until 300).scanLeft(0.0)((x, i) => x - math.log(u(i, 1) max 1e-6)).tail
    val line = xs.zipWithIndex.map { case (x, i) => (i.toLong, Array(x.toFloat, 0.0f)) }
      .toDF("vec_id", "embedding")
    val idLine = Similarity.intrinsicDim(line).head().getAs[Double]("id_twonn")
    assert(idLine > 0.4 && idLine < 1.6, s"a 1-D manifold must read ~1, got $idLine")
    // 2-D: pseudo-uniform points in a square
    val plane = (0 until 300).map(i =>
      (i.toLong, Array((u(i, 2) * 100).toFloat, (u(i, 3) * 100).toFloat)))
      .toDF("vec_id", "embedding")
    val idPlane = Similarity.intrinsicDim(plane).head().getAs[Double]("id_twonn")
    assert(idPlane > 1.4 && idPlane < 3.2, s"a 2-D manifold must read ~2, got $idPlane")
    assert(idPlane > idLine, "the plane must read higher than the line")
  }

  test("cluster purity: perfectly separated labels score 1, population conserved") {
    import spark.implicits._
    // two tight clusters with distinct labels + one mislabeled vector
    val vecs = Seq(
      (0L, Array(0.1f, 0.0f), 7), (1L, Array(-0.1f, 0.1f), 7), (2L, Array(0.0f, -0.1f), 7),
      (3L, Array(10.0f, 10.1f), 9), (4L, Array(9.9f, 10.0f), 9), (5L, Array(10.1f, 9.9f), 3)
    ).toDF("vec_id", "embedding", "label")
    val cents = Array((0, Array(0.0, 0.0)), (1, Array(10.0, 10.0)))
    val got = Similarity.clusterPurity(vecs, cents).orderBy($"cell").collect()
    assert(got.map(_.getAs[Long]("n")).sum === 6L)
    assert(got(0).getAs[Int]("majority_label") === 7 && got(0).getAs[Double]("purity") === 1.0)
    assert(got(1).getAs[Int]("majority_label") === 9)
    assert(math.abs(got(1).getAs[Double]("purity") - 2.0 / 3) < 1e-12)
    // fixture: purity bounded and populations conserve
    val emb = Tables.embeddings(spark, sf)
    val c8  = Similarity.ivfTrain(emb, nlist = 8, iters = 2)
    val full = Similarity.clusterPurity(emb, c8).collect()
    assert(full.map(_.getAs[Long]("n")).sum === emb.count())
    full.foreach(r => assert(r.getAs[Double]("purity") > 0.0 && r.getAs[Double]("purity") <= 1.0))
  }

  test("retrieval precision: hits bounded by k, self-label fixture scores reasonably") {
    val emb  = Tables.embeddings(spark, sf)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val got  = Similarity.retrievalPrecision(emb, qids, 5).collect()
    assert(got.length === qids.size)
    got.foreach { r =>
      val hits = r.getAs[Long]("hits")
      assert(hits >= 0L && hits <= 5L)
      assert(math.abs(r.getAs[Double]("precision") - hits / 5.0) < 1e-12)
    }
  }

  test("feature-label corr: a dimension that encodes the label reads ~1, noise reads ~0") {
    import spark.implicits._
    val n = 200
    val vecs = (0 until n).map { i =>
      val label = i % 10
      // dim 0 = label exactly; dim 1 = deterministic pseudo-noise
      (i.toLong, Array(label.toFloat, (((i * 2654435761L) >>> 16) % 1000 / 1000.0f)), label)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.featureLabelCorr(vecs).orderBy($"dim").collect()
    assert(got.length === 2)
    assert(got(0).getAs[Double]("corr") > 0.9999, s"label dim must read 1: ${got(0)}")
    assert(math.abs(got(1).getAs[Double]("corr")) < 0.2, s"noise dim must read ~0: ${got(1)}")
  }

  test("bfs layers: matches a local BFS over the collected knn edges, seeds at depth 0") {
    import spark.implicits._
    /** bfsLayers against a local reference BFS over knnGraph's edges; returns the result. */
    def check(emb: org.apache.spark.sql.DataFrame, seeds: Seq[Long], k: Int, maxDepth: Int,
              exact: Boolean = false): Map[Long, Long] = {
      val edges = Similarity.knnGraph(emb, k, exact).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSet }
      var depth = seeds.map(_ -> 0L).toMap
      var frontier = seeds.toSet
      for (d <- 1 to maxDepth) {
        val next = frontier.flatMap(n => edges.getOrElse(n, Set.empty)) -- depth.keySet
        depth ++= next.map(_ -> d.toLong)
        frontier = next
      }
      val got = Similarity.bfsLayers(emb, seeds, k, maxDepth, exact).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === depth, s"distributed BFS must equal the local reference (seeds $seeds, maxDepth $maxDepth)")
      seeds.foreach(s => assert(got(s) === 0L))
      got
    }
    val emb = Tables.embeddings(spark, sf)
    check(emb, Seq(0L, 1L, 2L), 5, 3)
    // maxDepth 0: the seeds alone
    assert(check(emb, Seq(0L, 1L, 2L), 5, 0) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    // a seed absent from the corpus stays a depth-0 row and reaches nothing
    val absent = Long.MaxValue
    assert(check(emb, Seq(absent), 5, 3) === Map(absent -> 0L))
    assert(check(emb, Seq(0L, absent), 5, 3)(absent) === 0L)
    // maxDepth past the graph's reach: two far-apart clusters, and the
    // exact k = 2 sweep keeps every edge inside its cluster, so the
    // frontier empties after a few rounds and cluster b is never reached
    val clusters = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.2f)), (3L, Array(0.7f, 0.3f)),
      (10L, Array(-1.0f, 0.0f)), (11L, Array(-0.9f, -0.1f)), (12L, Array(-0.8f, -0.2f)), (13L, Array(-0.7f, -0.3f))
    ).toDF("vec_id", "embedding")
    val far = check(clusters, Seq(0L), 2, 10, exact = true)
    assert(far.keySet === Set(0L, 1L, 2L, 3L))
    assert(far.values.max < 10L, "the frontier must empty before maxDepth")
  }

  test("bfs layers: a repeated seed counts once, one row per vec_id") {
    val emb = Tables.embeddings(spark, sf)
    def rows(seeds: Seq[Long]) = Similarity.bfsLayers(emb, seeds, 5, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val repeated = rows(Seq(0L, 0L, 1L))
    assert(repeated === rows(Seq(0L, 1L)))
    assert(repeated.map(_._1).distinct.length === repeated.length, "one row per vec_id")
  }

  test("cluster silhouette: separated clusters score near 1, population conserved, s bounded") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.1f, 0.0f)), (1L, Array(-0.1f, 0.1f)), (2L, Array(0.0f, -0.1f)),
      (3L, Array(10.0f, 10.1f)), (4L, Array(9.9f, 10.0f)), (5L, Array(10.1f, 9.9f))
    ).toDF("vec_id", "embedding")
    val cents = Array((0, Array(0.0, 0.0)), (1, Array(10.0, 10.0)))
    val got = Similarity.clusterSilhouette(vecs, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._2).sum === 6L, "every vector lands in exactly one cell")
    got.foreach { case (cell, _, s) =>
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9, s"cell $cell s=$s out of range")
      assert(s > 0.95, s"tight separated clusters must score near 1, cell $cell got $s")
    }
    // the fixture corpus: bounds hold and counts conserve
    val emb  = Tables.embeddings(spark, sf)
    val c16  = Similarity.ivfTrain(emb, nlist = 8, iters = 2)
    val full = Similarity.clusterSilhouette(emb, c16).collect()
    assert(full.map(_.getLong(1)).sum === emb.count())
    full.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("edit near-dup: single-char edits pair, heavy edits and cross-block dups do not") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 4).trim // 179 chars < cmpLen
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(2)),                       // tiny tail edit -> pair with 1
      (3L, base.take(100) + ("z" * 100)),            // same block, >20% edits -> no pair
      (4L, "completely different head " + base),     // identical tail, different block -> no pair
      (5L, "completely different head " + base)      // exact dup of 4 -> pair
    ).toDF("doc_id", "text")
    val got = Dedup.editNearDup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("dist"))).toList.sorted
    assert(got.map(p => (p._1, p._2)) === List((1L, 2L), (4L, 5L)), s"pairs: $got")
    assert(got.find(p => p._1 == 1L).get._3 === 2L, "dropping 2 chars is distance 2")
    assert(got.find(p => p._1 == 4L).get._3 === 0L, "exact dup is distance 0")
    // block cap: an oversized block produces no pairs at maxBlock=2
    val flood = (0L to 3L).map(i => (10L + i, base + s" tail$i")).toDF("doc_id", "text")
    assert(Dedup.editNearDup(flood, maxBlock = 2).count() === 0L)
  }

  test("wide simhash: lane identity, composed-plan bit-identity, banding exact vs quadratic sweep") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val wide = Dedup.simhashWide(docs)
    // lane 0 IS the 60-bit simhash (same md5 hex chars, same votes)
    val lane0 = wide.select($"doc_id", $"sh_lo".as("simhash"))
    val nar   = Dedup.simhashFast(docs)
    assert(lane0.except(nar).count() === 0 && nar.except(lane0).count() === 0)
    // lane 1 matches the composed-plan fold over hex chars 16-30
    val lane1 = wide.select($"doc_id", $"sh_hi".as("simhash"))
    val comp1 = Dedup.simhash(docs, hexOff = 16)
    assert(lane1.except(comp1).count() === 0 && comp1.except(lane1).count() === 0)
    // banded candidates are EXACT: identical to the quadratic sweep
    // over the same 120-bit signature
    val fast = Dedup.simhashNearDupPairsWide(docs, maxDist = 4, bands = 6)
    val quad = wide.as("a").join(wide.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("dist",
        (bit_count($"a.sh_lo".bitwiseXOR($"b.sh_lo")) +
          bit_count($"a.sh_hi".bitwiseXOR($"b.sh_hi"))).cast("long"))
      .filter($"dist" <= 4)
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"), $"dist")
    assert(fast.exceptAll(quad).count() === 0 && quad.exceptAll(fast).count() === 0)
    // invalid band layouts fail loudly, not degrade
    intercept[IllegalArgumentException] { Dedup.simhashNearDupPairsWide(docs, 6, 6) }
    intercept[IllegalArgumentException] { Dedup.simhashNearDupPairsWide(docs, 4, 7) }
    // bands=5 tiles 120 but its 24-bit width straddles the lane longs
    intercept[IllegalArgumentException] { Dedup.simhashNearDupPairsWide(docs, 4, 5) }
  }

  test("trained-IVF gate query: full probe hash-safe, half-probe recall bound holds with margin") {
    import spark.implicits._
    val got = SparkEntry.queries("q_ann_ivf_trained")(spark, sf)
    // full-probe trained output must BE the brute-force ranking —
    // that is what makes the trained path oracle-checkable at all
    val bf = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), Seq(0L, 1L, 2L, 3L, 4L), 5)
    assert(got.select($"qid", $"vec_id", $"cos", $"rnk")
      .exceptAll(bf.select($"qid", $"vec_id", $"cos", $"rnk")).count() === 0)
    assert(got.count() === 25)
    // the gate flag asserts hits >= 1 of 5 (guards total collapse
    // only); CI pins the real margin here — training is run-
    // nondeterministic, so the gate bound must sit well under what a
    // healthy quantizer delivers
    assert(got.filter(!$"half_recall_ok").count() === 0, "half-probe recall below the gate bound")
    val cents = Similarity.ivfTrain(Tables.embeddings(spark, sf), nlist = 16, iters = 3)
    val full  = Similarity.ivfSearch(Tables.embeddings(spark, sf), cents, Seq(0L, 1L, 2L, 3L, 4L), 5, nprobe = 16)
    val half  = Similarity.ivfSearch(Tables.embeddings(spark, sf), cents, Seq(0L, 1L, 2L, 3L, 4L), 5, nprobe = 8)
    val perQid = full.select($"qid", $"vec_id")
      .join(half.select($"qid", $"vec_id"), Seq("qid", "vec_id"))
      .groupBy($"qid").count().select($"count").as[Long].collect()
    assert(perQid.length === 5 && perQid.forall(_ >= 3L),
      s"per-qid half-probe hits ${perQid.mkString(",")} leave <2 hits of margin over the gate's >=1")
  }

  test("semantic dedup (within-IVF-cell pairs): subset of exact, identical at nlist=1, useful recall") {
    import spark.implicits._
    val emb   = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineNearDupPairs(emb, 0.45)
    // nlist=1: every vector in the one cell — the operator must BE
    // the exact sweep (same pairs, bit-equal cos)
    val one = Similarity.ivfTrain(emb, nlist = 1, iters = 0)
    val all = Similarity.ivfNearDupPairs(emb, 0.45, one)
    assert(all.exceptAll(exact).count() === 0 && exact.exceptAll(all).count() === 0)
    // nlist=16: pairs are a strict SUBSET with bit-equal cos values
    // — and NON-EMPTY, or the subset check (and the driver gate's
    // oracle compare, which runs this same configuration) would pass
    // vacuously on a regression that drops every within-cell pair
    val cents  = Similarity.ivfTrain(emb, nlist = 16, iters = 0)
    val within = Similarity.ivfNearDupPairs(emb, 0.45, cents)
    assert(within.count() > 0, "seed-quantizer within-cell pairs vanished — vacuous gate")
    assert(within.exceptAll(exact).count() === 0,
      "within-cell pairs must all be exact near-dup pairs with identical scores")
    // the operator's purpose is bounded CANDIDATE VOLUME: the pair
    // space examined must collapse from n²/2 to ~n²/(2·nlist).
    // (A recall bound is NOT asserted on this fixture: its exact
    // pairs top out near cos 0.45-0.6 — vectors ~60° apart, which no
    // coarse quantizer co-locates; semantic dedup's recall story is
    // about near-parallel pairs at dedup-grade thresholds.)
    val trained = Similarity.ivfTrain(emb, nlist = 16, iters = 3)
    assert(Similarity.ivfNearDupPairs(emb, 0.45, trained).exceptAll(exact).count() === 0)
    val occ = Similarity.assignCells(
        emb.select($"vec_id", graft.functions.VectorFunctions.toDouble($"embedding").as("v")), trained)
      .groupBy($"cell").count().select($"count").as[Long].collect()
    val n          = occ.sum
    val candidates = occ.map(c => c * (c - 1) / 2).sum
    val allPairs   = n * (n - 1) / 2
    assert(candidates * 4 <= allPairs,
      s"within-cell candidate volume $candidates/$allPairs — cells too skewed to bound the sweep")
  }

  test("codegen'd IVF cell assignment is bit-identical to the interpreted HOF argmin") {
    import spark.implicits._
    val emb   = Tables.embeddings(spark, sf)
    val cents = Similarity.ivfTrain(emb, nlist = 8, iters = 3)
    val e = emb.select($"vec_id", graft.functions.VectorFunctions.toDouble($"embedding").as("v"))
    val fast = Similarity.assignCells(e, cents).select($"vec_id", $"cell")
    val slow = Similarity.assignCellsInterpreted(e, cents).select($"vec_id", $"cell")
    assert(fast.count() > 0)
    assert(fast.except(slow).count() === 0 && slow.except(fast).count() === 0)
    // the registered SQL surface resolves to the same expression
    graft.plans.GraftFunctions.register(spark)
    val centsSql = cents.sortBy(_._1)
      .map(_._2.map(d => s"${d}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val viaSql = e.selectExpr("vec_id", s"graft_ivf_assign(v, $centsSql) AS cell")
    assert(viaSql.except(fast).count() === 0 && fast.except(viaSql).count() === 0)
  }

  test("IVF assignment rejects wrong-dimension vectors and null elements loudly") {
    import spark.implicits._
    val cents = Array(0 -> Array(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)) // one dim-8 centroid
    // dim-4 vectors divide the flat table (8 doubles) — the old
    // %-only check accepted them and argmin'd a garbage (2,4) slice
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    val bad = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "v")
    val e1 = intercept[Exception] {
      graft.operators.Similarity.assignCells(bad, cents).collect()
    }
    assert(messages(e1).exists(_.contains("4 elements")), messages(e1).mkString(" | "))
    // a null element would read as 0.0 and corrupt the distance
    val withNull = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)))
      .toDF("vec_id", "v")
    val e2 = intercept[Exception] {
      graft.operators.Similarity.assignCells(withNull, cents).collect()
    }
    assert(messages(e2).exists(_.contains("null element")), messages(e2).mkString(" | "))
  }

  test("bloom bitset: deterministic, no false negatives, false-positive rate within bound") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf)
    val known = graft.operators.Dedup.shingles(docs, 3)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .filter($"source".isin("src0", "src1")).select($"s").distinct()
    val m = 1 << 16
    val bits  = graft.operators.Dedup.bloomBitset(known, "s", m, 5)
    val bits2 = graft.operators.Dedup.bloomBitset(known, "s", m, 5)
    assert(java.util.Arrays.equals(bits, bits2), "bitset must be partitioning-independent")
    // no false negatives: every known member probes true
    val misses = known.filter(!graft.operators.Dedup.bloomProbe($"s", bits, 5)).count()
    assert(misses === 0, s"$misses known members missed the bloom — impossible for a correct bloom")
    // false-positive rate on definite non-members (salted strings)
    val nonMembers = known.select(concat($"s", lit(" not-a-shingle-xyzzy")).as("s"))
    val nKnown = known.count()
    val fp = nonMembers.filter(graft.operators.Dedup.bloomProbe($"s", bits, 5)).count()
    val rate = fp.toDouble / nKnown
    assert(rate < 0.01, s"bloom FPR $rate out of bound (m=$m, k=5, n=$nKnown)")
    // the decontamination gate is consistent on the fixture
    val q = graft.operators.Dedup.bloomDecontaminate(docs, Seq("src0", "src1"))
    assert(q.filter($"bloom_consistent" =!= 1).count() === 0)
  }

  test("keepBest picks the max-quality member per cluster, one keeper per cluster") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLshCandidatesFast(docs)
    val q     = graft.operators.TextAnalysis.qualityScore(docs)
    val best  = Dedup.keepBest(docs, pairs, q)
    val members = docs.select("doc_id")
      .join(Dedup.clusters(pairs), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
      .join(q, "doc_id")
    val mx = members.groupBy("cluster_id").agg(max("quality").as("mq"))
    assert(best.count() > 0)
    assert(best.join(mx, "cluster_id").filter($"quality" =!= $"mq").count() === 0)
    assert(best.select("cluster_id").distinct().count() === best.count())
    assert(best.count() === mx.count())
  }

  test("decontaminate flags eval-overlapping docs and keeps eval docs out") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "zeta eta theta iota"),
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "completely different words entirely here")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, Seq(0L, 1L), 3).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(10L, 11L))
    val m = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // doc 10 shares "alpha beta gamma" and "beta gamma delta" with eval doc 0
    assert(m(10L) === ((2L, 1)))
    assert(m(11L) === ((0L, 0)))
  }

  test("bigstar emits self-pair-only nodes as singletons, like clusters()") {
    import spark.implicits._
    // node 99 appears ONLY in a self-pair; 1-2-3 is a chain
    val pairs = Seq((1L, 2L), (2L, 3L), (99L, 99L)).toDF("da", "db")
    val a = Dedup.clusters(pairs).orderBy("doc_id").collect().toSeq
    val b = Dedup.clustersBigStar(pairs).orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(b.exists(r => r.getLong(0) == 99L && r.getLong(1) == 99L))
  }

  test("lsh near-dup pairs are a subset of exact near-dup pairs") {
    import spark.implicits._
    val emb   = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).select($"va", $"vb")
    val lsh   = Similarity.lshNearDupPairs(emb, 0.4, 4).select($"va", $"vb")
    assert(lsh.except(exact).count() === 0)
  }

  test("knn graph: k per node, rank 1 agrees with brute-force topk, mutual flag symmetric") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val g   = Similarity.knnGraph(emb, k = 3).cache()
    val n   = emb.count()
    // exactly min(k, n-1) edges per source, ranks 1..k
    assert(g.groupBy($"src").count().filter($"count" =!= math.min(3, n - 1)).count() === 0)
    assert(g.filter($"rnk" < 1 || $"rnk" > 3).count() === 0)
    // the rank-1 edge of the first 3 nodes is brute-force topk's first hit
    val bf = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 1)
      .select($"qid".as("src"), $"vec_id".as("dst"))
    val r1 = g.filter($"rnk" === 1 && $"src" < 3).select($"src", $"dst")
    assert(r1.except(bf).count() === 0 && bf.except(r1).count() === 0)
    // mutuality is symmetric: every mutual edge's reverse exists and is mutual
    val mut = g.filter($"mutual").select($"src", $"dst")
    val rev = g.filter($"mutual").select($"dst".as("src"), $"src".as("dst"))
    assert(mut.except(rev).count() === 0 && rev.except(mut).count() === 0)
    g.unpersist()
  }

  test("triangle stats match a local recount of the mutual knn graph") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val und = Similarity.knnGraph(emb, 3)
      .filter($"mutual" && $"src" < $"dst")
      .select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // local brute-force recount
    val adj = und.foldLeft(Map.empty[Long, Set[Long]]) { case (m, (a, b)) =>
      m.updated(a, m.getOrElse(a, Set.empty) + b).updated(b, m.getOrElse(b, Set.empty) + a)
    }
    val localTri = adj.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2).count(p => und.contains((math.min(p(0), p(1)), math.max(p(0), p(1)))))
    }
    val got = Similarity.triangleStats(emb, 3).collect()
    assert(got.length === adj.size)
    got.foreach { r =>
      val v = r.getLong(0)
      assert(r.getAs[Long]("degree") === adj(v).size.toLong, s"degree of $v")
      assert(r.getAs[Long]("n_triangles") === localTri(v).toLong, s"triangles of $v")
      val d = adj(v).size
      if (d >= 2) {
        val want = BigDecimal(2.0 * localTri(v) / (d.toLong * (d - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("clustering_coef") === want)
      } else assert(r.isNullAt(r.fieldIndex("clustering_coef")))
    }
  }

  test("top principal component: planted direction recovered, unit norm, rank-1 cloud explained 1.0") {
    import spark.implicits._
    // rank-1 cloud: every vector is a multiple of e1 -> one iteration
    // already lands exactly on e1 with explained share 1.0
    val rank1 = Seq.tabulate(8)(i => (i.toLong, Array(2.0f + i, 0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.topPrincipalComponent(rank1).orderBy("dim").collect()
    assert(r1.map(_.getAs[Double]("loading")).toSeq === Seq(1.0, 0.0, 0.0, 0.0))
    assert(r1.head.getAs[Double]("explained_share") === 1.0)
    // planted dominant axis + orthogonal noise: PC aligns with it
    val planted = Seq.tabulate(40)(i =>
      (i.toLong, Array(if (i % 2 == 0) 10.0f else -10.0f,
        (i % 3 - 1).toFloat * 0.5f, (i % 5 - 2).toFloat * 0.3f, 0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val rp = Similarity.topPrincipalComponent(planted).orderBy("dim").collect()
    val loadings = rp.map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(loadings(0)) - 1.0) < 0.01, s"axis not recovered: ${loadings.toSeq}")
    assert(math.abs(loadings.map(l => l * l).sum - 1.0) < 1e-6, "PC must be unit norm")
    assert(rp.head.getAs[Double]("explained_share") > 0.95)
  }

  test("centroid outliers: planted far vector ranks first in its label") {
    import spark.implicits._
    // label 0: ten vectors near (1,0) plus one at (9,0) -> the plant
    // is the rank-1 outlier; label 1: a tight pair, both reported
    val vecs = (0 until 10).map(i => (i.toLong, Array(1.0f + 0.01f * i, 0.0f), 0)) ++
      Seq((99L, Array(9.0f, 0.0f), 0), (200L, Array(0.0f, 1.0f), 1), (201L, Array(0.0f, 1.1f), 1))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(emb, k = 3).collect()
    val l0 = got.filter(_.getAs[Int]("label") === 0).sortBy(_.getAs[Long]("rnk"))
    assert(l0.head.getAs[Long]("vec_id") === 99L, s"plant not ranked first: ${l0.toSeq}")
    assert(l0.length === 3)
    val l1 = got.filter(_.getAs[Int]("label") === 1)
    assert(l1.length === 2, "a 2-vector label reports both")
    assert(got.forall(r => r.getAs[Long]("rnk") <= 3 && r.getAs[Double]("dist") >= 0))
  }

  test("embed drift: hand-built centroid shift and rotation recovered exactly") {
    import spark.implicits._
    // label 0: (1,0) -> (3,0): shift 2, cos 1; label 1: (1,0) -> (0,1): shift sqrt2, cos 0
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (10L, Array(3.0f, 0.0f), 0), (11L, Array(3.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1), (12L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embedDrift(emb).orderBy("label").collect()
    assert(got(0).getAs[Double]("l2_shift") === 2.0)
    assert(got(0).getAs[Double]("centroid_cos") === 1.0)
    assert(math.abs(got(1).getAs[Double]("l2_shift") - math.sqrt(2.0)) < 1e-6)
    assert(got(1).getAs[Double]("centroid_cos") === 0.0)
  }

  test("dup rate by source: within-source and cross-source masses counted exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t1", "A"), (2L, "t1", "A"), (3L, "t2", "A"),
      (4L, "t2", "B"), (5L, "t3", "B"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.dupRateBySource(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got.toSeq === Seq(
      ("A", 3L, 2L, 1L, 1L, 0.333333),   // t1 dup within; t2 shared with B
      ("B", 2L, 2L, 0L, 1L, 0.0)))
  }

  test("pc project: rank-1 cloud projects to its own norm with energy share 1") {
    import spark.implicits._
    val rank1 = Seq.tabulate(6)(i => (i.toLong, Array(3.0f + i, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.pcProject(rank1).orderBy("vec_id").collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("projection") === 3.0 + i, s"vec $i projection")
      assert(r.getAs[Double]("energy_share") === 1.0, s"vec $i share")
    }
  }

  test("class balance: shares, imbalance ratio, and effective classes hand-checked") {
    import spark.implicits._
    // labels: 0 x6, 1 x2 -> shares .75/.25, imbalance 3,
    // effective = exp(-(3/4 ln 3/4 + 1/4 ln 1/4))
    val emb = (Seq.fill(6)(0) ++ Seq.fill(2)(1)).zipWithIndex
      .map { case (l, i) => (i.toLong, Array(1.0f), l) }
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.classBalance(emb).orderBy("label").collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((0, 6L, 0.75), (1, 2L, 0.25)))
    assert(got.head.getAs[Double]("imbalance_ratio") === 3.0)
    val h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(got.head.getAs[Double]("effective_classes") - math.exp(h)) < 1e-6)
  }

  test("embed norms: labels partition the corpus, stats bounded and cross-checked on one label") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.embedNorms(emb).collect()
    assert(got.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    got.foreach { r =>
      assert(r.getAs[Double]("min_norm") <= r.getAs[Double]("mean_norm") + 1e-6)
      assert(r.getAs[Double]("mean_norm") <= r.getAs[Double]("max_norm") + 1e-6)
      assert(r.getAs[Long]("n_zero") === 0L, "fixture has no zero vectors")
    }
    // direct cross-check of one label's mean over DECIMAL(18,6)-quantized norms
    val label0 = got.minBy(_.getAs[Int]("label"))
    val norms = emb.filter($"label" === label0.getAs[Int]("label"))
      .select(graft.functions.VectorFunctions.norm(
        graft.functions.VectorFunctions.toDouble($"embedding")).as("n"))
      .collect().map(r => BigDecimal(r.getDouble(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    val wantMean = (norms.sum / norms.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(label0.getAs[Double]("mean_norm") - wantMean) < 2e-6)
  }

  test("source overlap: hand-built shared shingle gives exact counts; disjoint sources emit no row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "A"), (2L, "a b c x", "B"), (3L, "z z z z", "C"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(docs, 3).orderBy($"sa", $"sb").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    // A = {abc, bcd}, B = {abc, bcx} share exactly {abc}; C = {zzz} is disjoint
    assert(got.toSeq === Seq(("A", "B", 2L, 2L, 1L, 1.0 / 3, 0.5)))
  }

  test("cluster size profile: components plus singletons cover the corpus exactly") {
    import spark.implicits._
    val docs  = Seq(1L, 2L, 3L, 4L, 5L).map(id => (id, s"doc $id")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val got = Dedup.clusterSizeProfile(docs, pairs).orderBy($"cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, 0.4),   // docs 4, 5 are singletons
      (3L, 1L, 3L, 0.6)))  // {1,2,3} via the chain
    assert(got.map(_._3).sum === 5L) // covers every doc exactly once
  }

  test("pagerank: fixed-point mass is conserved within integer-floor loss, runs reproduce") {
    val emb   = Tables.embeddings(spark, sf)
    val scale = 1000000000000L
    val a = Similarity.pageRankKnn(emb, 5, 3, scale).collect()
    val n = emb.count()
    assert(a.length.toLong === n)
    val total = a.map(_.getAs[Long]("rank_units")).sum
    // every div floors: loss < 1 unit per edge contribution and per
    // damping step, far under 5% of scale at any corpus size here
    assert(total <= scale && total >= (scale * 95L) / 100L,
      s"mass $total not within [0.95, 1.0] of $scale")
    assert(a.forall(_.getAs[Long]("rank_units") > 0L))
    val b = Similarity.pageRankKnn(emb, 5, 3, scale).collect()
    val am = a.map(r => r.getLong(0) -> r.getAs[Long]("rank_units")).toMap
    val bm = b.map(r => r.getLong(0) -> r.getAs[Long]("rank_units")).toMap
    assert(am === bm, "pagerank must be bit-identical across runs")
  }

  test("mmr: rank 1 is the pure top hit, scores never increase, a duplicate gets displaced") {
    import TestSession.spark
    import spark.implicits._
    val got = Similarity.mmrRerank(Tables.embeddings(spark, sf), 0L, 20, 5).collect()
      .sortBy(_.getAs[Long]("sel_rank"))
    val top = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), Seq(0L), 1).head()
    assert(got.head.getLong(1) === top.getAs[Long]("vec_id"), "rank 1 must be the pure top hit")
    assert(got.map(_.getLong(1)).distinct.length === 5)
    val scores = got.map(_.getAs[Double]("mmr_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "greedy scores never increase")
    // diversity: with an exact duplicate of the top hit in the pool, a
    // diversity-weighted lambda picks the different doc second
    val toy = Seq(
      (0L, Array(1.0f, 0.0f)),       // query
      (1L, Array(0.99f, 0.1f)),      // top hit
      (2L, Array(0.99f, 0.1f)),      // its exact duplicate
      (3L, Array(0.5f, 0.5f))        // the different doc
    ).toDF("vec_id", "embedding").withColumn("label", lit("x"))
    val sel = Similarity.mmrRerank(toy, 0L, 3, 2, 0.3).collect().sortBy(_.getAs[Long]("sel_rank"))
    assert(sel(0).getLong(1) === 1L)
    assert(sel(1).getLong(1) === 3L, "the duplicate must be displaced by the diverse doc")
  }

  test("hits: both sides renormalize to scale within floor loss, runs are bit-identical") {
    val emb   = Tables.embeddings(spark, sf)
    val scale = 1000000000000L
    val a = Similarity.hitsKnn(emb, 5, 3, scale).collect()
    assert(a.length.toLong === emb.count())
    val hubTot  = a.map(_.getAs[Long]("hub_units")).sum
    val authTot = a.map(_.getAs[Long]("auth_units")).sum
    // each renormalization floors once per node: loss < n units of 1e12
    assert(hubTot <= scale && hubTot >= scale - a.length,
      s"hub mass $hubTot outside [scale-n, scale]")
    assert(authTot <= scale && authTot >= scale - a.length)
    assert(a.forall(_.getAs[Long]("auth_units") >= 0L))
    val b = Similarity.hitsKnn(emb, 5, 3, scale).collect()
    assert(a.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap ===
      b.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap,
      "hits must be bit-identical across runs")
  }

  test("degree hist: shares sum to 1 and degree mass equals twice the mutual edge count") {
    val emb  = Tables.embeddings(spark, sf)
    val hist = Similarity.degreeHist(emb, 5).collect()
    assert(math.abs(hist.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    assert(hist.forall { r => val d = r.getAs[Long]("degree"); d >= 0 && d <= 5 })
    val mass = hist.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_nodes")).sum
    val mutualEdges = Similarity.knnGraph(emb, 5)
      .filter(col("mutual") && col("src") < col("dst")).count()
    assert(mass === 2 * mutualEdges)
  }

  test("label prop: every node labeled once, isolated nodes keep their own id, runs reproduce") {
    val emb = Tables.embeddings(spark, sf)
    val lp  = Similarity.labelPropagation(emb, 5, 3).collect()
    assert(lp.length.toLong === emb.count())
    assert(lp.map(_.getLong(0)).distinct.length === lp.length)
    val comm = lp.map(r => r.getLong(0) -> r.getAs[Long]("community")).toMap
    // zero-degree nodes only ever see their self-vote
    val und = Similarity.knnGraph(emb, 5).filter(col("mutual")).select("src").collect().map(_.getLong(0)).toSet
    comm.keys.filterNot(und.contains).foreach { n =>
      assert(comm(n) === n, s"isolated node $n must keep its own community")
    }
    val again = Similarity.labelPropagation(emb, 5, 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("community")).toMap
    assert(comm === again)
  }

  test("cdc chunks: identical twins read dup_ratio 0.5; a shifted twin still resyncs shared chunks") {
    import spark.implicits._
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "merge", "batch", "spark", "line", "sort", "window")
    val t = (0 until 120)
      .map(i => words((i * i + i) % 16) + words((i * 13 + 5) % 16) + (i % 10)).mkString(" ")
    def cdc(rows: (Long, String)*) =
      Dedup.cdcChunks(rows.map { case (id, tx) => (id, tx, "s") }.toDF("doc_id", "text", "source")).head()
    val s1 = cdc(1L -> t)
    val s2 = cdc(1L -> ("zz " + t))
    // exact twins: the unique-chunk set is exactly one doc's
    val twin = cdc(1L -> t, 2L -> t)
    assert(twin.getAs[Long]("n_chunks") === 2 * s1.getAs[Long]("n_chunks"))
    assert(twin.getAs[Long]("n_unique") === s1.getAs[Long]("n_unique"))
    // a 3-char prefix insertion shifts every byte, but the rolling
    // window resyncs: content-defined boundaries recover shared
    // chunks where fixed-width windows would share none
    val pair = cdc(1L -> t, 2L -> ("zz " + t))
    assert(pair.getAs[Long]("n_unique") <
      s1.getAs[Long]("n_unique") + s2.getAs[Long]("n_unique"),
      "shifted twin must share resynced chunks")
  }

  test("cdc bounds kernel: codegen'd fold is bit-identical to the composed HOF on edge inputs") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value")
    val long  = (0 until 400).map(i => words((i * 7 + 3) % 8) + (i % 10)).mkString(" ")
    val texts = Seq(
      "", "a", "ab", "abcdefghijklmnop", long,
      "café naïve 中文文档 mixed", // 2- and 3-byte UTF-8
      new String(Character.toChars(0x1F600)) + " astral " + new String(Character.toChars(0x10348)),
      "x" * 100, // constant run: h cycles, mask hits depend on exact mod chain
      (0 until 300).map(i => ('a' + i % 26).toChar).mkString)
    for ((mask, minLen) <- Seq((64L, 16), (2L, 1), (4L, 2), (16L, 5))) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = df.select(col("doc_id"),
          expr(s"graft_cdc_bounds(text, ${mask}L, $minLen)").as("b"),
          Dedup.cdcBoundsHof(col("text"), mask, minLen).as("ref"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"mask=$mask minLen=$minLen doc=${r.getLong(0)}: kernel ${r.getSeq[Int](1)} != HOF ${r.getSeq[Int](2)}")
      }
    }
  }

  test("kmeans step: cell masses partition the corpus and one cell's mean matches a local recompute") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.kmeansStep(emb, 8).collect()
    val byCell = got.groupBy(_.getInt(0))
    // every cell reports the same n_cell on all dims, masses sum to the corpus
    byCell.values.foreach(rs => assert(rs.map(_.getAs[Long]("n_cell")).distinct.length === 1))
    assert(byCell.map(_._2.head.getAs[Long]("n_cell")).sum === emb.count())
    // local recompute of cell 0's dim-0 mean from the same assignment
    val cents = Similarity.ivfTrain(emb, 8, iters = 0)
    val assigned = Similarity.assignCells(
      emb.select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")), cents)
      .filter(col("cell") === 0).select("v").collect()
      .map(_.getSeq[Double](0).head)
    val want = assigned.map(x => math.floor(x * 1e6).toLong).sum.toDouble /
      (assigned.length.toDouble * 1e6)
    val row0 = got.find(r => r.getInt(0) === 0 && r.getInt(1) === 0).get
    assert(row0.getAs[Double]("mean_new") === want)
    assert(row0.getAs[Double]("delta") === want - row0.getAs[Double]("mean_old"))
  }

  test("resource allocation: scores match a local adjacency recompute exactly") {
    val emb = Tables.embeddings(spark, sf)
    val und = Similarity.knnGraph(emb, 5)
      .filter(col("mutual") && col("src") < col("dst"))
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    und.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val want = (for {
      (a, na) <- adj.toSeq; (b, nb) <- adj.toSeq if a < b
      common = na.intersect(nb) if common.size >= 2
    } yield (a, b) -> (common.size.toLong, common.toSeq.map(z => 1000000000000L / adj(z).size).sum)).toMap
    val got = Similarity.resourceAllocation(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("n_common"), r.getAs[Long]("ra_micro"))).toMap
    assert(got === want, "RA must equal the exact integer recompute")
  }

  test("k-core: fixture converges inside the unrolled rounds; members carry degree >= k") {
    val emb = Tables.embeddings(spark, sf)
    val r8 = Similarity.kCore(emb, 2, 5, 8).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getAs[java.lang.Long]("core_degree")))).toMap
    val r7 = Similarity.kCore(emb, 2, 5, 7).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getAs[java.lang.Long]("core_degree")))).toMap
    assert(r8 === r7, "the peel must have converged before the last unrolled round")
    assert(r8.values.forall { case (in, d) => if (in) d.exists(_ >= 2L) else d.isEmpty })
    // the 2-core is a subset of nodes with mutual degree >= 2
    val deg2 = Similarity.degreeHist(emb, 5) // reuse only for a sanity count
    val mutDeg = Similarity.knnGraph(emb, 5).filter(col("mutual"))
      .groupBy("src").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    r8.foreach { case (n, (in, _)) =>
      if (in) assert(mutDeg.getOrElse(n, 0L) >= 2L, s"core node $n has mutual degree < 2")
    }
    assert(deg2.count() > 0)
  }

  test("pq ADC search matches a local reimplementation over the same codes") {
    import spark.implicits._
    import graft.operators.Embedding
    val emb = Tables.embeddings(spark, sf)
    val got = Embedding.pqSearch(emb, Seq(0L, 1L, 2L), 5, 8, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val vecs = emb
      .select($"vec_id", graft.functions.VectorFunctions.toDouble($"embedding").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val (m, nc, sub) = (8, 16, 8)
    val seeds = vecs.filter(_._1 < nc).toSeq.sortBy(_._1)
    def d2(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int): Double = {
      var s = 0.0; var i = 0
      while (i < sub) { val dx = a(aOff + i) - b(bOff + i); s += dx * dx; i += 1 }
      s
    }
    // local codes: per (vec, j) the argmin codebook entry, (dist, code) tiebreak
    val codes = vecs.map { case (id, v) =>
      id -> (0 until m).map { j =>
        seeds.map { case (c, cv) => (d2(v, j * sub, cv, j * sub), c) }.min._2
      }
    }
    val want = Seq(0L, 1L, 2L).flatMap { qid =>
      val qv = vecs(qid)
      val lut = (0 until m).map(j => seeds.map { case (c, cv) => c -> d2(qv, j * sub, cv, j * sub) }.toMap)
      val scored = codes.toSeq.map { case (vid, cs) =>
        (vid, (0 until m).map(j => lut(j)(cs(j))).sum)
      }.sortBy { case (vid, s) => (s, vid) }.take(5)
      scored.zipWithIndex.map { case ((vid, s), i) => (qid, vid, s, i.toLong + 1) }
    }
    assert(got.length === want.length)
    got.sortBy(r => (r._1, r._4)).zip(want).foreach {
      case (g: (Long, Long, Double, Long), w: (Long, Long, Double, Long)) =>
        assert(g._1 === w._1 && g._2 === w._2 && g._4 === w._4, s"$g vs $w")
        assert(math.abs(g._3 - w._3) < 2e-6, s"adc dist $g vs $w")
    }
  }

  test("ivf-pq at full probe equals plain ADC search minus self-matches") {
    import graft.operators.Embedding
    val emb = Tables.embeddings(spark, sf)
    val qids = Seq(0L, 1L, 2L)
    val got = Embedding.ivfPqSearch(emb, qids, 5, nlist = 16, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // expected: pqSearch over the whole corpus with the self hit
    // dropped and ranks recompacted
    val want = Embedding.pqSearch(emb, qids, 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(_._4).filter(_._2 != qid).take(5)
          .zipWithIndex.map { case ((q, v, d, _), i) => (q, v, d, i.toLong + 1) }
      }
    assert(got.sortBy(r => (r._1, r._4)).toSeq === want.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("jaccard estimate: identical docs score est 1.0 == exact 1.0; error bounded by lane count") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base), (2L, base),                          // exact duplicates
      (3L, base + " iota kappa"),                      // high-overlap superset
      (4L, "one two three four five six seven eight")) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.jaccardEstimatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("match_lanes"),
        r.getAs[Double]("est"), r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err")))
    val dup = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(dup.isDefined, "identical docs must be LSH candidates")
    assert(dup.get._3 === 8L && dup.get._4 === 1.0 && dup.get._5 === 1.0 && dup.get._6 === 0.0)
    got.foreach { p =>
      assert(p._4 >= 0.0 && p._4 <= 1.0 && p._5 >= 0.0 && p._5 <= 1.0)
      assert(math.abs(p._6 - math.abs(p._4 - p._5)) < 1e-12)
    }
    // estimator lanes are k=8: est is always a multiple of 1/8
    got.foreach(p => assert((p._4 * 8).isWhole, s"est ${p._4} not a lane multiple"))
  }

  test("incremental dedup: is_new exact vs a plain registry join, even with a saturated bloom") {
    import spark.implicits._
    val docs     = Tables.documents(spark, sf)
    val registry = docs.filter($"doc_id" < 250)
    val batch    = docs.filter($"doc_id" >= 250)
    val want = batch.select($"doc_id", md5(lower($"text")).as("fp"))
      .join(registry.select(md5(lower($"text")).as("fp")).distinct()
        .withColumn("in_reg", lit(1)), Seq("fp"), "left")
      .select($"doc_id", $"fp", when($"in_reg".isNull, 1).otherwise(0).as("is_new"))
    def check(mBits: Int, k: Int): Unit = {
      val got = Dedup.incrementalDedup(registry, batch, mBits, k)
      assert(got.count() === batch.count(), s"mBits=$mBits: one row per batch doc")
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"mBits=$mBits: bloom shortcut changed an answer")
    }
    check(1 << 16, 5)
    // 64-bit filter over ~250 registry fps is saturated (every probe
    // positive): the shortcut degrades to the plain join, never to a
    // wrong flag — bloom has no false NEGATIVES to miss a duplicate
    check(64, 2)
    // a re-ingested crawl slice (registry texts under fresh ids) must
    // flag 0 while genuinely new docs flag 1
    val reingested = registry.limit(5).withColumn("doc_id", $"doc_id" + 100000L)
    val flags = Dedup.incrementalDedup(registry, batch.unionByName(reingested))
      .groupBy($"is_new").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(flags.getOrElse(1, 0L) > 0, "batch has new docs")
    assert(flags.getOrElse(0, 0L) >= 5, "re-ingested registry docs flagged as duplicates")
  }

  test("sim histogram: buckets in 0..10, shares sum to 1, tail >= 8 equals the banded 0.8 pair count") {
    import TestSession.spark
    import spark.implicits._
    val docs = Tables.documents(spark, TestSession.sf)
    val hist = graft.operators.Dedup.dedupSimHistogram(docs).collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      val b = r.getLong(0)
      assert(b >= 0 && b <= 10, s"decile bucket out of range: $b")
    }
    assert(math.abs(hist.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
    // the exact tie to the production path: candidates with
    // (10*i) div u >= 8 are precisely the jaccard >= 0.8 pairs
    val tail = hist.filter(_.getLong(0) >= 8).map(_.getAs[Long]("n_pairs")).sum
    val banded = graft.operators.Dedup.ngramJaccardPairsBanded(docs, 3, 0.8).count()
    assert(tail === banded,
      s"histogram tail $tail must equal the banded >=0.8 pair count $banded")
  }

  test("isotropy: identical directions read exactly 1, an orthogonal basis exactly 0") {
    import spark.implicits._
    val same = (0 until 3).map(i => (i.toLong, Array(2f, 0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.isotropy(same).head()
    assert(r1.getAs[Long]("n_vecs") === 3L && r1.getAs[Long]("n_zero") === 0L)
    assert(r1.getAs[Double]("mean_pairwise_cos") === 1.0)
    val ortho = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 1), (2L, Array(0f, 1f, 0f, 0f), 1),
      (3L, Array(0f, 0f, 1f, 0f), 1), (4L, Array(0f, 0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r2 = Similarity.isotropy(ortho).head()
    assert(r2.getAs[Long]("n_zero") === 1L, "the zero vector is excluded and counted")
    assert(r2.getAs[Double]("mean_pairwise_cos") === 0.0)
  }

  test("dim variance: a constant dimension flags dead with variance exactly 0; moments match hand") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 5f), 1), (2L, Array(3f, 5f), 1), (3L, Array(5f, 5f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.dimVariance(emb).orderBy("dim").collect()
    assert(got.length === 2)
    val d0 = got(0)
    assert(d0.getAs[Double]("mean") === 3.0)
    assert(d0.getAs[Double]("variance") === 24e12 / (3.0 * 3.0) / 1e12, "pop var 8/3 via the chain")
    assert(d0.getAs[Int]("is_dead") === 0)
    val d1 = got(1)
    assert(d1.getAs[Double]("variance") === 0.0)
    assert(d1.getAs[Int]("is_dead") === 1, "a constant dimension is dead")
  }

  test("knn outliers: the orthogonal vector is the single flagged point; the boundary score is safe") {
    import spark.implicits._
    // 20 near-parallel vectors + 1 orthogonal: only the orthogonal
    // one sits below the 5% threshold (which lands ON the 2nd-lowest
    // score — strict < keeps the boundary point)
    val pack = (0 until 20).map(i => (i.toLong, Array(1f, 0.01f * i, 0f, 0f), 1))
    val far  = Seq((99L, Array(0f, 0f, 1f, 0f), 2))
    val got = Similarity.knnOutliers((pack ++ far).toDF("vec_id", "embedding", "label"), exact = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === 21)
    val outliers = got.values.filter(_.getAs[Int]("is_outlier") === 1).toSeq
    assert(outliers.map(_.getLong(0)) === Seq(99L), s"only the orthogonal vector flags: $outliers")
    assert(got(99L).getAs[Double]("kth_cos") < 0.1)
    got.values.foreach(r => assert(r.getAs[Double]("kth_cos") <= 1.0 + 1e-9))
  }

  test("matryoshka audit: front-loaded energy reads 1.0 at width 8; uniform reads exact dyadic shares") {
    import spark.implicits._
    val front = Array.fill(8)(1f) ++ Array.fill(56)(0f)
    val flat  = Array.fill(64)(1f)
    val zero  = Array.fill(64)(0f)
    val emb = Seq((1L, front, 1), (2L, flat, 2), (3L, zero, 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.matryoshkaAudit(emb).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val a = got(1)
    assert(a.getAs[Double]("mean_nf_8") === 1.0 && a.getAs[Double]("mean_nf_32") === 1.0)
    assert(a.getAs[Long]("n_zero") === 0L)
    val b = got(2)
    assert(b.getAs[Long]("n_vecs") === 2L && b.getAs[Long]("n_zero") === 1L,
      "the zero vector reports separately")
    assert(b.getAs[Double]("mean_nf_8") === 0.125, "8/64 of uniform energy")
    assert(b.getAs[Double]("mean_nf_16") === 0.25)
    assert(b.getAs[Double]("mean_nf_32") === 0.5)
  }
}
