package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Similarity operators: the native cosine kernel must be bit-identical to
  * the declarative sequential fold (the determinism contract the DuckDB
  * oracle relies on), and top-k must rank correctly on known vectors. */
class SimilaritySpec extends GraftSparkSpec {

  private lazy val vectors = {
    val rnd = new scala.util.Random(123)
    val rows = (0L until 50L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), (i % 5).toInt)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  test("native cosine kernel is BIT-identical to the HOF sequential fold") {
    val pairs = vectors.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(vectors.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b"))
    val diff = pairs.select(
      Similarity.cosineSeq(col("va"), col("vb")).as("native"),
      Similarity.cosineSeqHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof")) // exact equality, not tolerance
    // the DOUBLE-element kernel path (derived vectors, e.g. MIPS
    // augmentation) must hold the same bit-equality contract
    val dPairs = pairs.select(
      transform(col("va"), x => x.cast("double")).as("da"),
      transform(col("vb"), x => x.cast("double")).as("db"))
    val dDiff = dPairs.select(
      Similarity.cosineSeq(col("da"), col("db")).as("native"),
      Similarity.cosineSeqHof(col("da"), col("db")).as("hof"))
      .filter(col("native") =!= col("hof"))
    onBothPaths {
      assert(diff.count() === 0)
      assert(dDiff.count() === 0)
    }
  }

  test("lshBucket packs the hyperplane sign bits of float and double vectors") {
    val planes = Similarity.hyperplanes(8, 16)
    // bit b set iff the sequential-fold dot product with plane b is > 0
    val expected = vectors.collect().map { r =>
      val v = r.getSeq[Float](1)
      r.getLong(0) -> planes.indices.map { b =>
        val dot = v.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * planes(b)(i))
        if (dot > 0) 1L << b else 0L
      }.sum
    }.toMap
    onBothPaths {
      Seq(col("embedding"), transform(col("embedding"), x => x.cast("double")))
        .foreach { v =>
          val got = vectors.select(col("vec_id"), Similarity.lshBucket(v, 8, 16))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got === expected)
        }
    }
  }

  test("cosine of identical and opposite vectors") {
    val df = spark.createDataFrame(Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(-1.0f, 0.0f, 0.0f)))).toDF("a", "b")
    val out = df.select(Similarity.cosineSeq(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) + 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks an identical vector first") {
    val planted = spark.createDataFrame(Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (101L, Array(1.0f, 0.001f, 0.0f, 0.0f), 0), // near-identical to 100
      (102L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (103L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2))).toDF("vec_id", "embedding", "label")
    val topk = Similarity.bruteForceTopK(planted,
      planted.filter(col("vec_id") === 100L), 2).collect()
    assert(topk(0).getLong(2) === 101L) // rank-1 neighbor
    assert(topk(0).getDouble(3) > 0.999)
  }

  test("SQ8 reconstruction error is bounded by half a quantization step") {
    val deq = Similarity.sq8Dequantized(vectors)
      .select(col("vec_id"), posexplode(col("qv")).as(Seq("pos", "xh")))
    val orig = vectors
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), col("x").cast("double").as("x"))
    val steps = orig.groupBy(col("pos"))
      .agg(((max(col("x")) - min(col("x"))) / 255.0).as("step"))
    val bad = deq.join(orig, Seq("vec_id", "pos")).join(steps, Seq("pos"))
      .filter(abs(col("xh") - col("x")) > col("step") / 2 * 1.0000001)
    assert(bad.count() === 0)
  }

  test("SQ8 top-k: high recall vs exact, recall column consistent") {
    val queries = vectors.filter(col("vec_id") % 5 === 0)
    val r = Similarity.sq8TopK(vectors, queries, 3).collect()
    assert(r.length === 30) // 10 queries x k=3
    // recall_at_k is constant per query and the mean is high (8-bit error)
    val perQ = r.groupBy(_.getLong(0)).map { case (_, rows) =>
      val rc = rows.map(_.getDouble(4)).distinct
      assert(rc.length === 1)
      rc.head
    }
    assert(perQ.sum / perQ.size >= 0.8)
  }

  test("PQ: singleton codebooks reproduce micro-rounded originals exactly") {
    // 4 maximally-separated constant vectors, ksub=4 → stride 1, every
    // vector is its own codeword; each subvector stays nearest its own
    // codeword, and the singleton Lloyd mean is round(x·1e6)/1e6 — exact
    // for these integer coordinates. Reconstruction == original.
    val vs = spark.createDataFrame(
      (0L until 4L).map(i => (i, Array.fill(8)((10f * (i + 1))))))
      .toDF("vec_id", "embedding")
    val rec = Similarity.pqDequantized(vs, subDim = 4, ksub = 4)
      .select(col("vec_id"), posexplode(col("qv")).as(Seq("pos", "xh")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(rec.length === 32) // 4 vectors x 8 dims: dimension preserved
    rec.foreach { case (id, _, xh) => assert(xh === 10.0 * (id + 1)) }
  }

  test("PQ top-k: recall column consistent per query, codes not degenerate") {
    val queries = vectors.filter(col("vec_id") % 5 === 0)
    val r = Similarity.pqTopK(vectors, queries, 3, subDim = 4, ksub = 16)
      .collect()
    assert(r.length === 30) // 10 queries x k=3
    val perQ = r.groupBy(_.getLong(0)).map { case (_, rows) =>
      val rc = rows.map(_.getDouble(4)).distinct
      assert(rc.length === 1)
      rc.head
    }
    // 16 codewords per 4-dim subspace resolves 50 gaussians well enough
    // that ADC ranking is far from random (recall floor is deliberately
    // loose — the oracle gate checks exact values)
    assert(perQ.sum / perQ.size >= 0.3)
    r.foreach(row => assert(math.abs(row.getDouble(3)) <= 1.0000001))
  }

  test("pqRefineTopK: refine never lowers recall vs plain PQ, per query") {
    // law, not luck: plain PQ's top-k is the shortlist's ADC-best k and
    // the shortlist is a superset, so every true neighbor PQ surfaces is
    // still in the shortlist — and exact re-ranking always promotes true
    // top-k members within it. Hence recall_refine >= recall_pq per query.
    val queries = vectors.filter(col("vec_id") % 5 === 0)
    val pq = Similarity.pqTopK(vectors, queries, 3, subDim = 4, ksub = 16)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.head.getDouble(4) }
    val rf = Similarity.pqRefineTopK(vectors, queries, 3,
      shortlistFactor = 3, subDim = 4, ksub = 16)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.head.getDouble(4) }
    assert(rf.keySet === pq.keySet)
    rf.foreach { case (q, r) => assert(r >= pq(q) - 1e-12, s"query $q") }
    // and the refined scores are EXACT cosines: each row's qcos must
    // equal the brute-force cosine for that (query, neighbor)
    val exact = Similarity.bruteForceTopK(vectors, queries, 49)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Similarity.pqRefineTopK(vectors, queries, 3, 3, 4, 16).collect()
      .foreach(r => assert(r.getDouble(3) ===
        exact((r.getLong(0), r.getLong(2)))))
  }

  test("IVF-PQ + refine: never lowers recall vs IVF-PQ, refined scores exact") {
    // same law as pqRefine-vs-pq, inside the shared probed-cell world:
    // IVF-PQ's top-k is the ADC-best k of the probed candidates, the
    // refine shortlist is a 3k superset of it, and exact re-ranking
    // promotes true (probed-exact) top-k members within the shortlist —
    // so per query recall_refine >= recall_pqivf against the SAME
    // float-exact probed-cell contract.
    val queries = vectors.filter(col("vec_id") % 5 === 0)
    val pqivf = Similarity.pqIvfTopK(vectors, queries, 3, nCells = 4, nProbe = 2)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.head.getDouble(4) }
    val rf = Similarity.pqIvfRefineTopK(vectors, queries, 3, nCells = 4, nProbe = 2)
      .collect()
    assert(rf.groupBy(_.getLong(0)).forall(_._2.length === 3))
    val rfRecall = rf.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.head.getDouble(4) }
    assert(rfRecall.keySet === pqivf.keySet)
    rfRecall.foreach { case (q, r) => assert(r >= pqivf(q) - 1e-12, s"query $q") }
    // refined scores are EXACT cosines (brute-force lookup)
    val exact = Similarity.bruteForceTopK(vectors, queries, 49)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rf.foreach(r => assert(r.getDouble(3) === exact((r.getLong(0), r.getLong(2)))))
  }

  test("IVF-PQ: k rows per query, recall within [0,1]") {
    val queries = vectors.filter(col("vec_id") % 5 === 0)
    val r = Similarity.pqIvfTopK(vectors, queries, 3, nCells = 4, nProbe = 2)
      .collect()
    assert(r.groupBy(_.getLong(0)).forall(_._2.length === 3))
    r.foreach(row => {
      val rc = row.getDouble(4)
      assert(rc >= 0.0 && rc <= 1.0)
    })
  }

  test("LSH top-k results are a subset of brute-force rankings' candidates" +
    " and identical vectors always collide") {
    val dup = spark.createDataFrame(Seq(
      (200L, Array.fill(16)(0.5f), 0),
      (201L, Array.fill(16)(0.5f), 0))).toDF("vec_id", "embedding", "label")
    val all = vectors.union(dup)
    val out = Similarity.lshTopK(all, all.filter(col("vec_id") === 200L), 1,
      nBits = 8, dim = 16).collect()
    assert(out.length === 1 && out(0).getLong(2) === 201L)
  }

  test("multi-probe LSH recall@1 >= single-probe and matches brute force " +
    "on clustered data") {
    val rnd = new scala.util.Random(7)
    val dirs = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0L until 80L).map { i =>
      val d = dirs((i % 4).toInt)
      (i, d.map(x => (x + rnd.nextGaussian() * 0.05).toFloat), (i % 4).toInt)
    }
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") < 16)
    val brute = Similarity.bruteForceTopK(corpus, queries, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def recall(probe: Int): Double = {
      val got = Similarity.lshTopK(corpus, queries, 1, nBits = 8, dim = 16,
        probeHamming = probe).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      got.count { case (q, n) => brute.get(q).contains(n) }.toDouble / brute.size
    }
    val r0 = recall(0)
    val r1 = recall(1)
    assert(r1 >= r0, s"multi-probe $r1 < single $r0")
    assert(r1 >= 0.9, s"multi-probe recall@1 $r1")
  }

  test("IVF top-k achieves full recall@1 on well-separated clusters") {
    val rnd = new scala.util.Random(99)
    // 4 well-separated cluster directions in 16-d, 20 members each
    val dirs = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0L until 80L).map { i =>
      val d = dirs((i % 4).toInt)
      val v = d.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      (i, v, (i % 4).toInt)
    }
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(corpus, queries, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf = Similarity.ivfTopK(corpus, queries, 1, nCells = 4, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // every query's true nearest neighbor is found by the probed cells
    assert(ivf === brute)
  }

  test("IVF is bit-deterministic across runs and repartitionings") {
    val rnd = new scala.util.Random(99)
    val rows = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), 0)
    }
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") % 7 === 0)
    def run(c: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      Similarity.ivfTopK(c, queries, 2, nCells = 4, nProbe = 2)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val a = run(corpus)
    // different physical layout → different aggregation/merge order; the
    // integer-micros centroid arithmetic must make the result identical
    // anyway (doubles compared bit-exactly, not approximately)
    val b = run(corpus.repartition(7))
    val c = run(corpus.repartition(1))
    assert(a === b)
    assert(a === c)
  }

  test("LSH near-dup pairs: exact precision (subset of brute force), planted dup found") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0L until 40L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)
    } :+ ((100L, base, 0)) :+
      ((101L, base.map(x => x + rnd.nextGaussian().toFloat * 0.01f), 0))
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val t = 0.9
    val lsh = Similarity.embeddingDupPairsLsh(corpus, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.embeddingDupPairs(corpus, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact: every bucketed pair is a true near-dup pair
    assert(lsh.subsetOf(brute))
    // the planted near-identical pair shares all 8 sign bits -> found
    assert(lsh.contains((100L, 101L)))
  }

  test("MIPS reduction: augmented-cosine top-k IS the inner-product top-k") {
    val queries = vectors.filter(col("vec_id") % 10 === 0)
    val got = Similarity.mipsTopK(vectors, queries, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // brute-force IP ranking on the driver
    val all = vectors.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qids = all.keys.filter(_ % 10 == 0).toSeq.sorted
    qids.foreach { q =>
      val expect = all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          // same left-fold order as dotSeq
          (id, all(q).zip(v).foldLeft(0.0) { case (a, (x, y)) => a + x * y })
        }
        .sortBy { case (id, ip) => (-ip, id) }.take(5)
      expect.zipWithIndex.foreach { case ((id, ip), i) =>
        val (gid, gip) = got((q, i + 1))
        assert(gid === id, s"query $q rank ${i + 1}")
        assert(gip === ip) // bit-exact: identical fold order
      }
    }
    // every augmented corpus vector has the same norm (= M): aug_cosine
    // times ||q||·M must reproduce ip up to one rounding — spot-check the
    // max-norm vector augments with exactly 0 (no NaN from M² rounding)
    val aug = Similarity.mipsTopK(vectors, queries, 5)
      .select(col("aug_cosine")).collect()
    assert(aug.forall(r => !r.getDouble(0).isNaN))
  }

  test("semDedup: subset of exact pairs, planted co-located dup found") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), 0)
    } :+ ((100L, base, 0)) :+
      ((101L, base.map(x => x + rnd.nextGaussian().toFloat * 0.01f), 0))
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val sem = Similarity.semDedup(corpus, 0.9).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.embeddingDupPairs(corpus, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-cluster search can only LOSE boundary pairs, never invent
    assert(sem.subsetOf(exact))
    // a near-identical pair shares its nearest centroid → found
    assert(sem.contains((100L, 101L)))
  }

  test("MIPS via LSH: finds the large-norm target, scores match exact MIPS") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val q = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 40L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), 0)
    } :+ ((100L, q, 0)) :+
      ((102L, q.map(_ * 3.0f), 0)) // same direction, 3x norm: IP champion
    val corpus = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 100L)
    val lshGot = Similarity.mipsTopKLsh(corpus, queries, 3, dim = 16)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // the co-directional large-norm vector shares the query's bucket
    // exactly (identical sign pattern) -> rank 1
    assert(lshGot.head._1 === 1 && lshGot.head._2 === 102L)
    // every LSH hit carries the BIT-identical augmented cosine of the
    // exact path (same 65-element folds)
    val exact = Similarity.mipsTopK(corpus, queries, 50)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    lshGot.foreach { case (_, id, sc) => assert(exact(id) === sc) }
  }

  test("kmeansStats: partition of the corpus, bounds ordered, mean in range") {
    val stats = Similarity.kmeansStats(vectors, nCells = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(5)))
    assert(stats.map(_._2).sum === 50L) // every vector in exactly one cell
    stats.foreach { case (cell, n, mn, mx, mean) =>
      assert(n > 0, s"cell $cell")
      assert(mn <= mx)
      // micros rounding moves the mean < 1e-6 past the true bounds
      assert(mean >= mn - 1e-6 && mean <= mx + 1e-6)
    }
  }

  test("embeddingDupPairs finds only the planted duplicate pair") {
    val dup = spark.createDataFrame(Seq(
      (200L, Array.fill(16)(0.5f), 0),
      (201L, Array.fill(16)(0.5f), 0))).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embeddingDupPairs(vectors.union(dup), 0.99).collect()
    assert(pairs.length === 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) === (200L, 201L))
  }

  test("pcaTopComponent: variance on one axis → exactly that axis") {
    // dim 0 carries all variance (x₀ = i/1000); every other dim is the
    // CONSTANT 0.1 → its centered scatter is exactly 0 (n·S − m² = 0 in
    // exact integers), so the component is e₁ exactly: loading (1, 0…),
    // var_share exactly 1.0 — an all-integer-cancellation pin that a
    // float moment pass would miss by ulps.
    val vecs = spark.createDataFrame((0L until 40L).map { i =>
      (i, (Array(i / 1000.0f) ++ Array.fill(15)(0.1f)), 0)
    }).toDF("vec_id", "embedding", "label")
    val ckptsBefore = spark.sparkContext.getPersistentRDDs.size
    val out = CacheScope.scoped(
      Similarity.pcaTopComponent(vecs, iters = 8, dim = 16).collect())
      .sortBy(_.getLong(0))
    // storage hygiene: the 17 per-iteration localCheckpoints must not
    // outlive the scope (the CacheScopeSpec zero-blocks precondition)
    assert(spark.sparkContext.getPersistentRDDs.size === ckptsBefore)
    assert(out.length === 16)
    assert(out.head.getDouble(1) === 1.0) // loading on dim 1
    out.tail.foreach(r => assert(r.getDouble(1) === 0.0))
    assert(out.head.getDouble(4) === 1.0) // var_share
    assert(out.head.getDouble(2) > 0.0)   // eigval = N₀₀ > 0
  }

  test("withRecall: hand-computed recall, zero hits read 0.0, approx rows kept") {
    import spark.implicits._
    // query 1 finds 2 of its 3 exact neighbors (10 and 11, not 12);
    // query 2 finds none of its 2
    val approx = Seq((1L, 1, 10L, 0.9), (1L, 2, 11L, 0.8), (1L, 3, 19L, 0.7),
      (2L, 1, 20L, 0.6), (2L, 2, 21L, 0.5)).toDF("query_id", "rank", "neighbor_id", "qcos")
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 30L), (2L, 31L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.withRecall(approx, exact, "qcos", 3)
    assert(out.columns.toSeq ===
      Seq("query_id", "rank", "neighbor_id", "qcos", "recall_at_k"))
    onBothPaths {
      val rows = out.collect()
      assert(rows.length === 5)
      val recall = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(r => Option(r.get(4))).toSeq
      }
      assert(recall(1L) === Seq.fill(3)(Some(2.0 / 3)))
      assert(recall(2L) === Seq(Some(0.0), Some(0.0))) // not NULL
    }
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion, missing ranks, ties") {
    import spark.implicits._
    // text list: docs 1,2,3 at ranks 1,2,3; vec list: docs 3,4 at 1,2
    val text = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val vec = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(text, vec, 10, k0 = 60)
      .orderBy(col("fused_rank")).collect()
    assert(out.length === 4)
    // doc 3 is in both lists: 1/63 + 1/61 — must rank first
    assert(out(0).getLong(1) === 3L)
    assert(out(0).getDouble(4) === (1.0 / 63.0 + 1.0 / 61.0))
    // doc 1: text-only 1/61; doc 4: vec-only 1/62; doc 2: 1/62 —
    // docs 2 and 4 TIE on score, so doc_id breaks the tie (2 before 4)
    assert(out(1).getLong(1) === 1L)
    assert(out(1).getDouble(4) === 1.0 / 61.0)
    assert(out(2).getLong(1) === 2L && out(3).getLong(1) === 4L)
    assert(out(2).getDouble(4) === out(3).getDouble(4))
    // missing-list rank columns surface as NULL, not 0
    assert(out(1).isNullAt(3) && out(3).isNullAt(2))
  }

  test("tripletMine: axis geometry picks the same-label positive and cross-label hard negative") {
    // label 0: e1-ish vectors 0,1 (cos(0,1)≈1); label 1: e2 vector 2 and a
    // 45° vector 3. Anchor 0: positive=1; hard negative=3 (45° beats 90°)
    val corpus = spark.createDataFrame(Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(2f, 0f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(1f, 1f), 1)))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.tripletMine(corpus).orderBy("anchor").collect()
    val a0 = rows(0)
    assert(a0.getLong(1) === 1L && a0.getDouble(2) === 1.0)
    assert(a0.getLong(3) === 3L)
    // margin is exactly pos − neg for the same doubles
    assert(a0.getDouble(5) === a0.getDouble(2) - a0.getDouble(4))
  }

  test("tripletMine: unique label yields NULL positive, never drops the anchor") {
    val corpus = spark.createDataFrame(Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 1), (2L, Array(1f, 1f), 1)))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.tripletMine(corpus).orderBy("anchor").collect()
    assert(rows.length === 3)
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2) && rows(0).isNullAt(5))
    assert(!rows(0).isNullAt(3)) // hard negative still mined
  }

  test("tripletMineLsh: bucket candidates are a recall subset of the exact pass") {
    // law: LSH mining can only see FEWER candidates, so for every anchor
    // it emits, its positive/negative cosines are <= the exact pass's
    val exact = Similarity.tripletMine(vectors).collect()
      .map(r => r.getLong(0) -> r).toMap
    val lsh = Similarity.tripletMineLsh(vectors, dim = 16).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val e = exact(r.getLong(0))
      if (!r.isNullAt(2) && !e.isNullAt(2))
        assert(r.getDouble(2) <= e.getDouble(2))
      if (!r.isNullAt(4) && !e.isNullAt(4))
        assert(r.getDouble(4) <= e.getDouble(4))
    }
  }

  test("tripletMine: cosine ties break on the smaller candidate id") {
    // 1 and 2 are the same direction as anchor 0 — exact tie; pick 1
    val corpus = spark.createDataFrame(Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(3f, 0f), 0), (2L, Array(5f, 0f), 0),
      (9L, Array(0f, 1f), 1)))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.tripletMine(corpus).orderBy("anchor").collect()
    assert(rows(0).getLong(1) === 1L)
  }
}
