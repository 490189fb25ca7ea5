package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** One-pass SimHash signature kernel.
  *
  * Two hash kinds:
  *  - `xx` (default): xxhash64 — fastest, engine-internal.
  *  - `md5`: the top 60 bits of MD5 (== first 15 hex digits), numerically
  *    identical to DuckDB's `('0x' || substr(md5(s),1,15))::BIGINT` — a
  *    PORTABLE hash that lets the whole SimHash pipeline be verified
  *    against a SQL oracle bit-for-bit.
  */
object SimHashKernel {

  /** 60-bit portable hash: big-endian u64 of md5 bytes 0..7, >>> 4.
    * `digest()` resets the instance, so one MessageDigest serves a whole
    * signature (not one allocation per shingle). */
  def md5Hash60(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xFFL); j += 1 }
    v >>> 4
  }

  /** The `bits`-bit signature of one shingle array; null when it is empty. */
  def signature(sh: ArrayData, bits: Int, useMd5: Boolean): java.lang.Long = {
    val n = sh.numElements()
    if (n == 0) return null
    val md = if (useMd5) MessageDigest.getInstance("MD5") else null
    val w = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      val h =
        if (useMd5) md5Hash60(md, s.getBytes)
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) w(j) += 1 else w(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (w(j) > 0) sig |= (1L << j); j += 1 }
    java.lang.Long.valueOf(sig)
  }

  /** `simhash_signature(array<string>) -> long`, null on an empty array,
    * as a Catalyst `StaticInvoke`: codegen emits the direct static call
    * to [[signature]], the interpreted path finds it by reflection, and a
    * null array gives a null result without calling it. */
  def simhashSignature(shingles: Column, bits: Int, useMd5: Boolean): Column = {
    require(bits > 0 && bits <= 64)
    Bridge.column(StaticInvoke(getClass, LongType, "signature",
      Seq(Bridge.expression(shingles), Literal(bits), Literal(useMd5)),
      propagateNull = true, returnNullable = true))
  }
}
