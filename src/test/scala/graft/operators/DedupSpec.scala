package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Dedup operators on a micro-corpus with planted exact and near
  * duplicates; MinHash/SimHash sketch paths must agree with the exact
  * jaccard baseline. */
class DedupSpec extends GraftSparkSpec {

  private def doc(words: String*): String = words.mkString(" ")
  private val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
    "pi", "rho", "sigma", "tau", "upsilon")

  private lazy val docs = {
    val texts = Seq(
      0L -> doc(base: _*),
      1L -> doc(base: _*), // exact dup of 0
      2L -> doc((base.init :+ "CHANGED"): _*), // near dup of 0 (1 token)
      3L -> doc(base.reverse: _*), // same tokens, different order
      4L -> doc("completely", "different", "content", "entirely", "unrelated",
        "tokens", "nothing", "shared", "here", "at", "all", "really"),
      5L -> doc("short", "doc"), // < 3 tokens -> empty shingles
    )
    spark.createDataFrame(texts.map { case (id, t) => (id, t, "src0") })
      .toDF("doc_id", "text", "source")
  }

  test("exact stats and groups find the planted exact duplicate") {
    val stats = Dedup.exactStats(docs).head()
    assert(stats.getLong(1) === 6) // n_docs
    assert(stats.getLong(2) === 5) // n_distinct
    assert(stats.getLong(3) === 1) // n_dups
    val groups = Dedup.dropExact(docs).filter(col("group_size") > 1).head()
    assert(groups.getLong(1) === 0L) // keep lowest doc_id
    assert(groups.getLong(2) === 2L)
  }

  test("exact jaccard pairs: exact dup = 1.0, near dup high, reorder ≠ shingle match") {
    val pairs = Dedup.jaccardPairsExact(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.8 && pairs((0L, 2L)) < 1.0)
    assert(pairs.contains((1L, 2L)))
    // reversed doc shares tokens but (almost) no trigram shingles
    assert(!pairs.contains((0L, 3L)))
    assert(pairs.size === 3)
  }

  test("containment flags an embedded doc that jaccard misses") {
    val emb = spark.createDataFrame(Seq(
      (0L, doc(base.take(8): _*), "src0"), // 8 tokens, 6 shingles
      (1L, doc((base.take(8) ++ Seq("plus", "much", "more", "trailing",
        "content", "added", "here", "beyond", "the", "original")): _*), "src0"),
      (2L, doc("unrelated", "words", "only", "in", "this", "one"), "src0")))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.containmentPairs(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(pairs.keySet === Set((0L, 1L)))
    val (containment, jaccard) = pairs((0L, 1L))
    assert(containment === 1.0) // every shingle of 0 appears in 1
    assert(jaccard < 0.5) // symmetric metric dilutes the embedding
  }

  test("dedupCorpus keeps canonical docs: exact dup and near-dup victims dropped") {
    // exact stage drops 1 (dup of 0, lower id wins); near-dup stage
    // clusters {0, 2} and keeps canonical 0; reorder/unrelated/short docs
    // are their own singleton clusters and survive
    val kept = Dedup.dedupCorpus(docs, 0.8).collect().map(_.getLong(0)).sorted
    assert(kept === Array(0L, 3L, 4L, 5L))
  }

  test("ppjoin pairs == count-sharing exact pairs across thresholds") {
    for (t <- Seq(0.3, 0.5, 0.8, 0.95)) {
      val exact = Dedup.jaccardPairsExact(docs, t)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val pp = Dedup.ppjoinPairs(docs, t)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(pp === exact, s"threshold $t")
    }
  }

  test("minhash LSH pairs == exact blocking pairs on the micro-corpus") {
    val exact = Dedup.jaccardPairsExact(docs, 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val lsh = Dedup.minhashPairs(docs, 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(lsh === exact)
  }

  test("minhash signature is 128 longs, deterministic, null for empty shingles") {
    val sig = Dedup.minhashSignature(Dedup.shingleSets(docs))
    val rows = sig.orderBy("doc_id").collect()
    val s0 = rows(0).getSeq[Long](1)
    assert(s0.length === 128)
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1)) // identical docs
    assert(rows(5).isNullAt(1)) // "short doc" has no trigrams
    // re-evaluation is stable
    val again = Dedup.minhashSignature(Dedup.shingleSets(docs))
      .orderBy("doc_id").collect()(0).getSeq[Long](1)
    assert(again === s0)
  }

  test("simhash: identical docs hamming 0, near dup small, unrelated large") {
    val pairs = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 1L)) === 0)
    assert(pairs.get((0L, 4L)).isEmpty)
    // the signature is a StaticInvoke kernel: check both evaluation paths
    onBothPaths {
      val sigDf = Dedup.simhashSignature(Dedup.shingleSets(docs))
      // shingle-less docs get a NULL signature (never bucket together)
      assert(sigDf.filter(col("doc_id") === 5L).head().isNullAt(1))
      val sigs = sigDf.filter(col("sig").isNotNull)
        .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(0L) === sigs(1L)) // identical docs, identical signature
      assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(4L)) > 10)
    }
  }

  test("jaccard helper matches definition on known sets") {
    val df = spark.createDataFrame(Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j === 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("winnowing: shared >= w+k-1-token run guarantees a shared fingerprint") {
    // k=3, w=4: the guarantee threshold is a 6-token shared run. Doc 11
    // embeds doc 10's 8-token run behind different prefixes; doc 12 is
    // disjoint content.
    val run = Seq("one", "two", "three", "four", "five", "six", "seven", "eight")
    val wdocs = spark.createDataFrame(Seq(
      10L -> (Seq("p1", "p2") ++ run).mkString(" "),
      11L -> (Seq("q1", "q2", "q3") ++ run ++ Seq("q4")).mkString(" "),
      12L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(wdocs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    // the embedded-run pair is found, the disjoint doc pairs with no one
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((10L, 11L)))
    val (_, _, nShared, overlap) = pairs.head
    assert(nShared >= 1L)
    assert(overlap > 0.0 && overlap <= 1.0)
  }

  test("winnowing: identical docs share every fingerprint (overlap 1.0)") {
    val txt = base.mkString(" ")
    val wdocs = spark.createDataFrame(Seq(20L -> txt, 21L -> txt))
      .toDF("doc_id", "text")
    val p = Dedup.winnowingPairs(wdocs, minShared = 1).collect()
    assert(p.length === 1)
    assert(p.head.getDouble(5) === 1.0)
    assert(p.head.getLong(3) === p.head.getLong(4)) // nfp_a == nfp_b
  }

  test("bloomScreen: no false negatives, disjoint content passes clean") {
    val s = spark
    import s.implicits._
    // history: two docs; batch: one exact copy of hist doc 0, one doc
    // sharing a full 32-token chunk, one disjoint doc
    def words(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val hist = Seq((0L, words("h", 64)), (2L, words("k", 40)))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, words("h", 64)), // exact copy: both chunks seen
      (3L, words("h", 32) + " " + words("z", 10)), // first chunk shared
      (5L, words("q", 50))) // disjoint
      .toDF("doc_id", "text")
    val got = Dedup.bloomScreen(hist, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))).toMap
    // one-sided error: every truly-seen chunk is flagged
    got.values.foreach { case (_, nMaybe, nSeen, maybe, seen) =>
      assert(nSeen <= nMaybe)
      assert(!seen || maybe)
    }
    assert(got(1L)._3 === 2L && got(1L)._5) // both chunks truly seen
    assert(got(3L)._3 === 1L && got(3L)._5)
    assert(got(5L)._3 === 0L)
    // at this fill (~4 chunks × 4 bits in 2^16) false positives are
    // ~(16/65536)^4 — the disjoint doc must pass clean
    assert(!got(5L)._4 && !got(5L)._5)
  }
}
