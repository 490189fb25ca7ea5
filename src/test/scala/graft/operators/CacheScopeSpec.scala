package graft.operators

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** Library-usage cache-lifecycle contract: a dedup operator invoked inside
  * CacheScope.scoped must leave ZERO cached blocks behind after the block
  * returns, and the result computed inside the scope must equal the
  * unscoped (session-lifetime cache) result. */
class CacheScopeSpec extends GraftSparkSpec {

  private lazy val docs = {
    val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val texts = Seq(
      0L -> base.mkString(" "),
      1L -> base.mkString(" "),
      2L -> (base.init :+ "CHANGED").mkString(" "),
      3L -> Seq("totally", "different", "set", "of", "words", "no", "overlap",
        "with", "anything", "above", "for", "sure").mkString(" "))
    spark.createDataFrame(texts.map { case (id, t) => (id, t, "src0") })
      .toDF("doc_id", "text", "source")
  }

  // The session is shared across suites (TestSpark.spark), and earlier suites
  // legitimately pin localCheckpoint RDDs that catalog.clearCache() does not
  // (and must not) drop. The contract under test is therefore a DELTA: no
  // persistent RDD *created inside the scope* may outlive it — not that the
  // whole session is cache-free.
  private def leakedAfter(baseline: Set[Int]): Set[Int] =
    persistentRddIds() -- baseline

  test("CacheScope.scoped releases every operator cache after the block") {
    spark.catalog.clearCache()
    val baseline = persistentRddIds()
    val operators = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "jaccard" -> (() => Dedup.jaccardPairsExact(docs, 0.5)),
      "ppjoin" -> (() => Dedup.ppjoinPairs(docs, 0.5)),
      "containment" -> (() => Dedup.containmentPairs(docs, 0.9)),
      "minhash" -> (() => Dedup.minhashPairs(docs, 0.5)),
      "simhash" -> (() => Dedup.simhashPairs(docs, 3, portable = true)),
      "dedupCorpus" -> (() => Dedup.dedupCorpus(docs, 0.8)))
    operators.foreach { case (name, build) =>
      val n = CacheScope.scoped {
        val c = build().count() // materializes the operator's lazy cache()s
        assert(leakedAfter(baseline).nonEmpty,
          s"$name: expected live caches inside the scope")
        c
      }
      assert(n >= 0)
      assert(leakedSince(baseline) === Set.empty[Int],
        s"$name: cached blocks outlived the CacheScope.scoped block")
    }
  }

  test("scoped result is identical to the unmanaged default") {
    val unmanaged = Dedup.ppjoinPairs(docs, 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val scoped = CacheScope.scoped {
      Dedup.ppjoinPairs(docs, 0.5).orderBy("doc_a", "doc_b").collect().toSeq
    }
    assert(scoped === unmanaged)
    spark.catalog.clearCache()
  }

  test("release is exception-safe: caches freed when the loan block throws") {
    spark.catalog.clearCache()
    val baseline = persistentRddIds()
    intercept[RuntimeException] {
      CacheScope.scoped {
        Dedup.minhashPairs(docs, 0.5).count()
        throw new RuntimeException("boom")
      }
    }
    assert(leakedSince(baseline) === Set.empty[Int])
  }

  test("concurrent scopes on one session: equal plans, correct results, nothing left") {
    // Verify's shape: threads scope their own queries on the shared
    // session. Equal plans share one CacheManager entry, so one scope's
    // release can drop an entry the other thread still reads; that may
    // only cost a recompute, never a wrong answer or a leaked block.
    spark.catalog.clearCache()
    val expected = Dedup.ppjoinPairs(docs, 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    spark.catalog.clearCache()
    val baseline = persistentRddIds()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
          def call(): Seq[org.apache.spark.sql.Row] = {
            start.await()
            CacheScope.scoped {
              Dedup.ppjoinPairs(docs, 0.5)
                .orderBy("doc_a", "doc_b").collect().toSeq
            }
          }
        })
      }
      start.countDown()
      runs.foreach(r => assert(r.get(120, java.util.concurrent.TimeUnit.SECONDS) === expected))
    } finally pool.shutdown()
    assert(leakedSince(baseline) === Set.empty[Int],
      "cached blocks outlived both concurrent scopes")
  }
}
