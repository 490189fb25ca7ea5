package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine

/** Local scale-up generator: replicate the driver's sf0.1 testdata
  * `factor`× into a new directory, for measuring per-query scaling
  * ratios (SCALING.md) without touching the read-only driver data.
  *
  * Replication must not distort the scaling measurement, so each
  * replica is a KEY-SHIFTED, CONTENT-DECORRELATED copy:
  *
  *   - every key column gains `i * OFF` where OFF = 4·lcm(1..20)
  *     (931,170,240) — far above any sf0.1 key, and divisible by every
  *     modulus ≤ 20, so all `key % m` derived distributions (mime
  *     rotation, bucket assignment, sampling gates) are IDENTICAL in
  *     every replica;
  *   - document text is Caesar-rotated per replica (letters and digits,
  *     length-preserving): within a replica the planted dup/near-dup
  *     structure survives byte-for-byte, across replicas every shingle
  *     differs — dup clusters scale linearly instead of picking up
  *     factor² cross-replica candidate pairs that would fake
  *     superlinearity in the dedup family;
  *   - embeddings are cyclically component-shifted per replica
  *     (norm-preserving): within-replica geometry is exact, across
  *     replicas LSH buckets and cosine neighborhoods decorrelate, so
  *     ANN candidate generation also scales linearly;
  *   - `region`/`nation` stay fixed (TPC-H dims don't scale with SF);
  *   - timestamps are left unchanged: a bigger corpus over the same
  *     time range = higher event density per window, which is what a
  *     real 10× traffic scale-up looks like.
  */
object ScaleUp {

  private val OFF = 931170240L // 4 * lcm(1..20)

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase
  private val digits = "0123456789"

  private def rot(s: String, i: Int): String =
    s.drop(i % s.length) + s.take(i % s.length)

  /** Length-preserving per-replica text decorrelation. */
  private def caesar(c: org.apache.spark.sql.Column, i: Int) =
    translate(c, lower + upper + digits,
      rot(lower, i) + rot(upper, i) + rot(digits, i))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    val spark = Engine.session(cores = 32)

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(name: String, keyCols: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = read(name)
      val copies = (0 until factor).map { i =>
        val shifted = keyCols.foldLeft(perReplica(base, i)) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * OFF))
        }
        shifted
      }
      write(copies.reduce(_ unionByName _), name)
      println(s"[scaleup] $name x$factor")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"),
      (df, i) => df.withColumn("text", caesar(col("text"), i)))
    replicate("embeddings", Seq("vec_id"), (df, i) => {
      if (i == 0) df
      else {
        // shift stride 7 is coprime to the 64-dim vectors: every replica
        // i < 64 gets a DISTINCT rotation (i%8 would collide at i=8,
        // re-creating exact cross-replica duplicates)
        val k = (i * 7) % 64
        val rotated =
          if (k == 0) df
          else df.withColumn("embedding",
            concat(expr(s"slice(embedding, ${k + 1}, size(embedding))"),
              expr(s"slice(embedding, 1, $k)")))
        // rotation alone leaves PERIODIC vectors (notably the planted
        // constant-valued dup groups) byte-identical across replicas —
        // measured at the first 10× sweep as ~100× exact-dup PAIR growth
        // (dd_embedding rows 920 → 96,589) that cascaded into the whole
        // graph-over-dup-pairs family (dd_harmonic TIMEOUT: the near-dup
        // graph gained factor² cross-replica edges). A per-replica
        // deterministic SIGN pattern (splitmix64 of i) fixes this
        // exactly: ⟨s∘u, s∘v⟩ = ⟨u,v⟩ for s ∈ {±1}ⁿ, so every
        // within-replica inner product — hence every cosine, LSH sign,
        // and exact-dup relation — is preserved bit-for-bit in
        // magnitude, while no non-zero vector can equal its own flip on
        // the ~32 flipped coordinates across replicas.
        var p = i.toLong * 0x9E3779B97F4A7C15L
        p ^= (p >>> 30); p *= 0xBF58476D1CE4E5B9L
        p ^= (p >>> 27); p *= 0x94D049BB133111EBL
        p ^= (p >>> 31)
        val signs = array((0 until 64).map { j =>
          lit(if (((p >>> j) & 1L) == 1L) -1.0f else 1.0f)
        }: _*)
        rotated.withColumn("embedding",
          zip_with(col("embedding"), signs, (x, s) => x * s))
      }
    })
    spark.stop()
  }
}
