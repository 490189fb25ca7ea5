package graft

import graft.operators.CacheScope

/** Engine-wide determinism law: every registered query returns the
  * IDENTICAL result multiset under different shuffle-partition counts.
  *
  * This is the strongest cheap probe for the whole determinism contract
  * (ARCHITECTURE.md "Cross-engine determinism"): order-dependent double
  * summation, `spark_partition_id` leaking into output, partitioning-
  * sensitive sampling, or a non-total sort order would all surface here
  * as a diff between the two runs. Rows compare by full string render —
  * Java 17 `Double.toString` is shortest-roundtrip, so bit-different
  * doubles never collide.
  *
  * Every execution runs inside `CacheScope.scoped`, and after each one
  * the suite asserts the storage law too: the cache manager is empty and
  * no persistent RDD (cache or checkpoint block) created by the query
  * remains — so an operator storage site that bypasses `CacheScope`
  * fails here under the query's name.
  */
class PartitionInvarianceSpec extends GraftSparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("all registry queries are shuffle-partition-count invariant") {
    spark.catalog.clearCache() // earlier suites' caches are not this test's
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val baseline = persistentRddIds()
    def runAll(parts: Int): Map[String, Seq[String]] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val out = SparkEntry.queries.map { case (name, fn) =>
        val rows = CacheScope.scoped {
          fn(s, sf).collect().map(_.toString).sorted.toSeq
        }
        assert(cacheManager.isEmpty,
          s"query $name left a cache entry behind (partitions=$parts)")
        val leaked = leakedSince(baseline)
        assert(leaked.isEmpty,
          s"query $name left persistent RDDs $leaked behind (partitions=$parts)")
        name -> rows
      }
      out
    }
    val a = runAll(3)
    val b = runAll(17)
    assert(a.keySet === b.keySet)
    a.keys.toSeq.sorted.foreach { k =>
      assert(a(k) === b(k), s"query $k differs between partition counts")
    }
  }
}
