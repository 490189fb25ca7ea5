package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType,
  IntegerType, LongType, StructField, StructType}

/** Native vector kernels for the similarity/dedup hot path.
  *
  * The declarative formulation (`aggregate(zip_with(...))`) evaluates
  * higher-order functions interpretively — measured ~20 µs per 64-dim
  * cosine; a 100 TB ANN pass would spend its life in lambda dispatch.
  * [[cosineFloat]] and [[cosineDouble]] run the identical IEEE operation sequence
  * (sequential left fold: ((0+x₁)+x₂)+…, sqrt, multiply, divide) as a tight
  * primitive loop inside whole-stage codegen — bit-identical results,
  * ~100× faster.
  */
object VectorKernels {

  /** Cosine over float arrays, accumulating in double, sequential order. */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val av = a.toFloatArray()
    val bv = b.toFloatArray()
    val n = math.min(av.length, bv.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = av(i).toDouble; val y = bv(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine over double arrays (same fold order). */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val av = a.toDoubleArray()
    val bv = b.toDoubleArray()
    val n = math.min(av.length, bv.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = av(i); val y = bv(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sign-LSH bucket bits in one pass: bit b set iff v · plane_b > 0. */
  def lshBits(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val av = v.toFloatArray()
    var bits = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(av.length, p.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += av(i).toDouble * p(i); i += 1 }
      if (dot > 0) bits |= 1L << b
      b += 1
    }
    bits
  }

  def lshBitsDouble(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val av = v.toDoubleArray()
    var bits = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(av.length, p.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += av(i) * p(i); i += 1 }
      if (dot > 0) bits |= 1L << b
      b += 1
    }
    bits
  }

  /** PQ codeword argmin (round 16): for one subvector `sv` and a
    * code-sorted codeword array `cws` (array<struct<code, cw>>), the
    * lexicographic (dist, code) minimum with dist the SEQUENTIAL-fold
    * L2² — `acc += (x−y)·(x−y)` in element order, the identical IEEE
    * sequence as the declarative `aggregate(zip_with(...))` it replaces
    * (strict-less keeps the earlier = lower code on exact ties, the
    * struct-MIN rule). One tight loop instead of ksub interpreted
    * higher-order-function folds per (vec, sub) row. */
  def pqArgmin(sv: ArrayData, cws: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val v = sv.toDoubleArray()
    var bestDist = Double.MaxValue
    var bestCode = Long.MaxValue
    var bestCw: ArrayData = null
    var i = 0
    val n = cws.numElements()
    while (i < n) {
      val e = cws.getStruct(i, 2)
      val code = e.getLong(0)
      val cw = e.getArray(1)
      val w = cw.toDoubleArray()
      val m = math.min(v.length, w.length)
      var acc = 0.0
      var j = 0
      while (j < m) { val d = v(j) - w(j); acc += d * d; j += 1 }
      if (acc < bestDist || (acc == bestDist && code < bestCode)) {
        bestDist = acc; bestCode = code; bestCw = cw
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestDist, bestCode, if (bestCw == null) null else bestCw.copy()))
  }

  /** IVF nearest-centroid argmax (round 16): for `v` and a cell-sorted
    * centroid array (array<struct<cell, cv>>), the cell of the
    * lexicographic (−nanvl(cosine, −2.0), cell) minimum — cosine via
    * [[cosineDouble]] (the bit-exact sequential fold), the identical
    * selection rule as the declarative fold it replaces, in one loop
    * instead of nCells interpreted lambda dispatches per corpus row. */
  def ivfArgmax(v: ArrayData, cents: ArrayData): Int = {
    var bestNeg = 3.0 // above any real candidate (negsim ≤ 2.0)
    var bestCell = -1
    var i = 0
    val n = cents.numElements()
    while (i < n) {
      val e = cents.getStruct(i, 2)
      val cell = e.getInt(0)
      val c = cosineDouble(v, e.getArray(1))
      val s = if (java.lang.Double.isNaN(c)) -2.0 else c
      val neg = -s
      if (neg < bestNeg || (neg == bestNeg && cell < bestCell)) {
        bestNeg = neg; bestCell = cell
      }
      i += 1
    }
    bestCell
  }

  /** Top-`nProbe` probe cells (round 17): one pass over the cell-sorted
    * centroid array keeping the nProbe lexicographically smallest
    * (−sim, cell) candidates — replaces the interpreted
    * `array_sort(transform(...))` + `slice` per query row with a
    * codegen'd selection (no full sort; identical first-nProbe prefix
    * since the (−sim, cell) order is total — cells are distinct).
    * NaN sentinel: a NaN cosine maps to +4.0 (above any real cosine), so
    * NaN-cosine cells rank FIRST — the pre-r16 window ordering (Spark
    * sorts NaN largest under sim DESC) and the DuckDB oracle's ORDER BY
    * cosine DESC both rank NaN first; the r16 array_sort form silently
    * ranked them last (ADVICE r16). Comparisons go through
    * Double.compare (Spark's total order, −0.0 < 0.0) — note the cosine
    * fold itself cannot produce −0.0 (the accumulator starts at +0.0 and
    * (+0.0) + (−0.0) = +0.0), so this is defensive, not load-bearing. */
  def ivfProbeCells(qv: ArrayData, cents: ArrayData, nProbe: Int): ArrayData = {
    val n = cents.numElements()
    val k = math.min(nProbe, n)
    val negs = new Array[Double](k)
    val cells = new Array[Int](k)
    var size = 0
    def less(n1: Double, c1: Int, n2: Double, c2: Int): Boolean = {
      val d = java.lang.Double.compare(n1, n2)
      d < 0 || (d == 0 && c1 < c2)
    }
    var i = 0
    while (i < n) {
      val e = cents.getStruct(i, 2)
      val cell = e.getInt(0)
      val c = cosineDouble(qv, e.getArray(1))
      val s = if (java.lang.Double.isNaN(c)) 4.0 else c
      val neg = -s
      if (size < k) {
        var j = size
        while (j > 0 && less(neg, cell, negs(j - 1), cells(j - 1))) {
          negs(j) = negs(j - 1); cells(j) = cells(j - 1); j -= 1
        }
        negs(j) = neg; cells(j) = cell; size += 1
      } else if (k > 0 && less(neg, cell, negs(k - 1), cells(k - 1))) {
        var j = k - 1
        while (j > 0 && less(neg, cell, negs(j - 1), cells(j - 1))) {
          negs(j) = negs(j - 1); cells(j) = cells(j - 1); j -= 1
        }
        negs(j) = neg; cells(j) = cell
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(cells, size))
  }

  /** SQ8 quantize+dequantize of one vector against the broadcast
    * pos-sorted stats array (round 17): the identical IEEE sequence as
    * the declarative `transform` it replaces — mn + floor(t·255 + 0.5) ·
    * (mx − mn) / 255 with the same left-associated operation order (the
    * Long round-trip of Spark's FLOOR is value-identity for in-range
    * integral doubles) — in one codegen'd loop instead of dim
    * interpreted lambda dispatches per row. */
  def sq8Dequant(v: ArrayData, st: ArrayData): ArrayData = {
    val x = v.toDoubleArray()
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      val s = st.getStruct(i, 3) // (pos, mn, mx), pos-dense by construction
      val mn = s.getDouble(1)
      val mx = s.getDouble(2)
      out(i) =
        if (mx == mn) mn
        else mn + Math.floor((x(i) - mn) / (mx - mn) * 255.0 + 0.5) *
          (mx - mn) / 255.0
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Multiset overlap of two arrays sorted by the same total key — the
    * containment/PPJoin verify prefilter (round 17). Inputs are the
    * dedup operators' (df, h)-sorted struct arrays (one entry per
    * shingle; df is a function of h, so the order is consistent across
    * documents); the two-pointer merge counts Σ_h min(mult_A, mult_B).
    * Every shared SHINGLE contributes a matched (df, h) entry on both
    * sides, so the count is an EXACT UPPER BOUND on |A∩B| over the
    * original shingle strings (hash collisions can only inflate it,
    * never deflate) — filtering candidates on `overlap ≥ ⌈t·bound⌉`
    * keeps recall exact while the expensive string-array verify runs
    * only on survivors. O(|A|+|B|) long comparisons, whole-stage
    * codegen. */
  def sortedOverlapCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val ea = a.getStruct(i, 2)
      val eb = b.getStruct(j, 2)
      val dfa = ea.getLong(0)
      val dfb = eb.getLong(0)
      if (dfa < dfb) i += 1
      else if (dfa > dfb) j += 1
      else {
        val ha = ea.getLong(1)
        val hb = eb.getLong(1)
        if (ha < hb) i += 1
        else if (ha > hb) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }

  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def lsh_bucket(v: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(LshBucketBits(Bridge.expression(v), planes))

  /** `pq_argmin(array<double>, array<struct<code:long, cw:array<double>>>)
    * -> struct<dist, code, cw>` — [[pqArgmin]]. */
  def pq_argmin(sv: Column, cws: Column): Column =
    Bridge.column(GraftFunctions.kernel(this, "pqArgmin", StructType(Seq(
      StructField("dist", DoubleType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("cw", ArrayType(DoubleType), nullable = true))),
      Seq(sv, cws).map(Bridge.expression)))

  /** `ivf_argmax(array<double>, array<struct<cell:int, cv:array<double>>>)
    * -> int` — [[ivfArgmax]]. */
  def ivf_argmax(v: Column, cents: Column): Column =
    Bridge.column(GraftFunctions.kernel(this, "ivfArgmax", IntegerType,
      Seq(v, cents).map(Bridge.expression)))

  /** `ivf_probes(array<double>, array<struct<cell:int, cv:array<double>>>)
    * -> array<int>` — [[ivfProbeCells]]. */
  def ivf_probes(qv: Column, cents: Column, nProbe: Int): Column = {
    require(nProbe >= 1, "nProbe must be >= 1")
    Bridge.column(GraftFunctions.kernel(this, "ivfProbeCells",
      ArrayType(IntegerType, containsNull = false),
      Seq(Bridge.expression(qv), Bridge.expression(cents), Literal(nProbe))))
  }

  /** `sq8_dequant(array<double>, array<struct<pos:int, mn:double, mx:double>>)
    * -> array<double>` — [[sq8Dequant]]. */
  def sq8_dequant(v: Column, st: Column): Column =
    Bridge.column(GraftFunctions.kernel(this, "sq8Dequant",
      ArrayType(DoubleType, containsNull = false), Seq(v, st).map(Bridge.expression)))

  /** `sorted_overlap(array<struct<df,h>>, array<struct<df,h>>) -> int` —
    * [[sortedOverlapCount]]. */
  def sorted_overlap(a: Column, b: Column): Column =
    Bridge.column(GraftFunctions.kernel(this, "sortedOverlapCount", IntegerType,
      Seq(a, b).map(Bridge.expression)))

  /** The float or double variant of a kernel, by a vector's element type. */
  private[functions] def byElement(v: Expression, float: String, double: String): String =
    v.dataType match {
      case ArrayType(FloatType, _) => float
      case _ => double
    }
}

/** `cosine(array<float|double>, array<float|double>) -> double`:
  * [[VectorKernels.cosineFloat]] or [[VectorKernels.cosineDouble]] as a
  * kernel call, chosen from the resolved element type. Null-intolerant on
  * the array itself; element nulls are not supported (dense vectors). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def prettyName: String = "cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && (lt == FloatType || lt == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine requires two array<float> or two array<double>, " +
            s"got ${left.dataType.sql} / ${right.dataType.sql}")
    }

  override lazy val replacement: Expression = GraftFunctions.kernel(VectorKernels,
    VectorKernels.byElement(left, "cosineFloat", "cosineDouble"), DoubleType,
    Seq(left, right))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `lsh_bucket(array<float|double>) -> long`: all hyperplane sign bits in
  * one pass ([[VectorKernels.lshBits]] / [[VectorKernels.lshBitsDouble]];
  * float corpus columns and double derived vectors, e.g. the MIPS
  * norm-augmented view, bucket through the same plane constants). */
case class LshBucketBits(child: Expression, planes: Array[Array[Double]])
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def prettyName: String = "lsh_bucket"

  override lazy val replacement: Expression = GraftFunctions.kernel(VectorKernels,
    VectorKernels.byElement(child, "lshBits", "lshBitsDouble"), LongType,
    Seq(child, Literal.fromObject(planes)))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
