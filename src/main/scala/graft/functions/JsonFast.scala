package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Allocation-free scalar extraction from a flat JSON object.
  *
  * `get_json_object` / `from_json` construct a Jackson parser (reader +
  * stream decoder) PER ROW — measured at ~1 ms/row under contention on this
  * host, and in general a needless allocation storm on a 100 TB scan. For
  * the extremely common "pull one scalar out of a small flat JSON props
  * column" access pattern (reference: the event `props` column,
  * FIXTURES.md §B), this expression scans the UTF-8 string once with zero
  * allocations until the output value.
  *
  * Semantics (subset of get_json_object, by design):
  *   - top-level, flat object; first occurrence of `"key"` wins;
  *   - scalar values only: numbers, strings (no escape handling), literals;
  *   - returns NULL on missing key, JSON null, or non-scalar value.
  * General/nested JSON should use `from_json` with a schema.
  */
object JsonFast {

  /** Runtime kernel, also called from generated code. */
  def extract(json: UTF8String, key: UTF8String): UTF8String = {
    if (json == null) return null
    val s = json
    val n = s.numBytes()
    // search for  "key"  (quoted) FOLLOWED BY ':' — a string VALUE that
    // happens to equal the key (e.g. {"a": "k", "k": 5}) fails the colon
    // check and the scan resumes
    val k = key
    val kn = k.numBytes()
    var i = 0
    var found = -1
    while (i < n && found < 0) {
      if (s.getByte(i) == '"' && i + kn + 1 < n && s.getByte(i + kn + 1) == '"'
        && matchesAt(s, i + 1, k, kn)) {
        var j = i + kn + 2
        while (j < n && isWs(s.getByte(j))) j += 1
        if (j < n && s.getByte(j) == ':') found = j + 1
      }
      if (found < 0) i += 1
    }
    if (found < 0) return null
    i = found
    while (i < n && isWs(s.getByte(i))) i += 1
    if (i >= n) return null
    val c = s.getByte(i)
    if (c == '"') { // string value (no escape handling)
      val start = i + 1
      var j = start
      while (j < n && s.getByte(j) != '"') j += 1
      if (j >= n) return null
      byteSlice(s, start, j)
    } else if (c == '{' || c == '[') {
      null // non-scalar
    } else { // number / literal
      val start = i
      var j = i
      while (j < n && !isEnd(s.getByte(j))) j += 1
      val tok = byteSlice(s, start, j)
      if (tok.toString == "null") null else tok
    }
  }

  /** Byte-offset slice. UTF8String.substring indexes CODE POINTS — byte
    * positions from the scanner would overshoot on multibyte text. */
  private def byteSlice(s: UTF8String, from: Int, until: Int): UTF8String = {
    val out = new Array[Byte](until - from)
    var i = 0
    while (i < out.length) { out(i) = s.getByte(from + i); i += 1 }
    UTF8String.fromBytes(out)
  }

  private def matchesAt(s: UTF8String, off: Int, k: UTF8String, kn: Int): Boolean = {
    var j = 0
    while (j < kn) {
      if (s.getByte(off + j) != k.getByte(j)) return false
      j += 1
    }
    true
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  @inline private def isEnd(b: Byte): Boolean =
    b == ',' || b == '}' || b == ']' || isWs(b)

  /** Column API: `json_get(col("props"), "k")`. */
  def json_get(json: Column, key: String): Column =
    Bridge.column(JsonGet(Bridge.expression(json), key))
}

/** `json_get(string, key) -> string`: the optimizer replaces it with the
  * kernel call [[JsonFast.extract]] (a static call inside whole-stage
  * codegen, no parser objects). The key is a parameter, not a
  * child, so an unaliased call is named `json_get(<json>)`. */
case class JsonGet(child: Expression, key: String)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def prettyName: String = "json_get"

  override lazy val replacement: Expression = GraftFunctions.kernel(JsonFast,
    "extract", StringType, Seq(child, Literal(key)), returnNullable = true)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
