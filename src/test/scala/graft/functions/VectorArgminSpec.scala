package graft.functions

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** The native kernels ([[VectorKernels.pqArgmin]],
  * [[VectorKernels.ivfArgmax]], [[VectorKernels.ivfProbeCells]],
  * [[VectorKernels.sq8Dequant]], [[VectorKernels.sortedOverlapCount]])
  * must select EXACTLY what the declarative forms they replaced
  * selected — same sequential IEEE fold, same strict-less (dist/negsim,
  * id) tie-break, same NaN sentinel — or the oracle's bit-exact
  * Lloyd/assignment replicas break. This spec pins kernel == declarative
  * form on random data, exact ties, and the zero-norm NaN guard; every
  * comparison runs on both evaluation paths
  * ([[graft.GraftSparkSpec.onBothPaths]]) and a null input gives a null
  * output. */
class VectorArgminSpec extends GraftSparkSpec {

  private val rnd = new scala.util.Random(13)

  private def vec(dim: Int): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())

  test("pq_argmin == declarative aggregate fold on random codebooks") {
    import spark.implicits._
    val dim = 16
    val cws = (0L until 16L).map(c => (c, vec(dim)))
    val rows = (1 to 200).map(i => (i.toLong, vec(dim))) :+
      (999L, null: Seq[Double])
    val df = rows.toDF("vec_id", "sv")
      .crossJoin(cws.toDF("code", "cw")
        .groupBy().agg(array_sort(collect_list(struct(col("code"), col("cw"))))
          .as("cws")))
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z)
    val declarative = aggregate(col("cws"),
      struct(lit(Double.MaxValue).as("dist"), lit(Long.MaxValue).as("code")),
      (acc, c) => {
        val cand = struct(l2sq(col("sv"), c.getField("cw")).as("dist"),
          c.getField("code").as("code"))
        when(cand < acc, cand).otherwise(acc)
      })
    onBothPaths {
      val got = df.select(col("vec_id"),
        VectorKernels.pq_argmin(col("sv"), col("cws")).as("k"),
        declarative.as("d"))
        .select(col("vec_id"), col("k.dist"), col("k.code").as("kcode"),
          col("d.dist").as("ddist"), col("d.code").as("dcode"),
          col("k.cw"), col("k").isNull)
        .collect()
      assert(got.length === 201)
      got.foreach { r =>
        if (r.getLong(0) == 999L) assert(r.getBoolean(6), "null sv must give null")
        else {
          assert(r.getDouble(1) === r.getDouble(3), s"dist mismatch at ${r.getLong(0)}")
          assert(r.getLong(2) === r.getLong(4), s"code mismatch at ${r.getLong(0)}")
          assert(r.getSeq[Double](5).nonEmpty)
        }
      }
    }
  }

  test("pq_argmin exact-tie keeps the lower code (struct-MIN rule)") {
    import spark.implicits._
    val w = Seq(1.0, 2.0)
    // codes 5 and 2 carry IDENTICAL codewords -> identical dist; the
    // lexicographic (dist, code) min must pick code 2
    val df = Seq((Seq(0.0, 0.0), Seq((5L, w), (2L, w), (7L, Seq(9.0, 9.0)))))
      .toDF("sv", "cwsRaw")
      .select(col("sv"), array_sort(col("cwsRaw")).as("cws"))
      .select(VectorKernels.pq_argmin(col("sv"),
        transform(col("cws"), c =>
          struct(c.getField("_1").as("code"), c.getField("_2").as("cw"))))
        .getField("code"))
    onBothPaths(assert(df.head().getLong(0) === 2L))
  }

  test("ivf_argmax == declarative fold incl. the NaN (zero-norm) sentinel") {
    import spark.implicits._
    val dim = 8
    val cents = (0 until 12).map(c => (c, vec(dim))) :+
      (12, Seq.fill(dim)(0.0)) // zero-norm centroid: cosine is NaN
    val rows = (1 to 200).map(i => (i.toLong, vec(dim))) :+
      (999L, Seq.fill(dim)(0.0)) :+ // zero-norm point: ALL cosines NaN
      (998L, null: Seq[Double])
    val df = rows.toDF("vec_id", "v")
      .crossJoin(cents.toDF("cell", "cv")
        .groupBy().agg(array_sort(collect_list(struct(col("cell"), col("cv"))))
          .as("cents")))
    val declarative = aggregate(col("cents"),
      struct(lit(3.0).as("negsim"), lit(-1).as("cell")),
      (acc, c) => {
        val cand = struct(
          (-nanvl(graft.operators.Similarity.cosineSeq(col("v"),
            c.getField("cv")), lit(-2.0))).as("negsim"),
          c.getField("cell").as("cell"))
        when(cand < acc, cand).otherwise(acc)
      }).getField("cell")
    onBothPaths {
      val got = df.select(col("vec_id"),
        VectorKernels.ivf_argmax(col("v"), col("cents")).as("k"),
        declarative.as("d")).collect()
      assert(got.length === 202)
      got.foreach { r =>
        if (r.getLong(0) == 998L) assert(r.isNullAt(1), "null v must give null")
        else assert(r.getInt(1) === r.getInt(2), s"cell mismatch at ${r.getLong(0)}")
      }
      // the all-NaN row must fall back to the lowest cell id
      val allNaN = got.find(_.getLong(0) === 999L).get
      assert(allNaN.getInt(1) === 0)
    }
  }

  test("ivf_probes == array_sort+slice ranking, with NaN cells FIRST") {
    import spark.implicits._
    val dim = 8
    val nProbe = 4
    val cents = (0 until 12).map(c => (c, vec(dim))) :+
      (12, Seq.fill(dim)(0.0)) // zero-norm centroid: cosine is NaN
    val rows = (1 to 100).map(i => (i.toLong, vec(dim))) :+
      (999L, null: Seq[Double])
    val df = rows.toDF("vec_id", "qv")
      .crossJoin(cents.toDF("cell", "cv")
        .groupBy().agg(array_sort(collect_list(struct(col("cell"), col("cv"))))
          .as("cents")))
    // declarative replica of the kernel's ordering: NaN -> +4.0 sentinel
    // (rank first), then (-sim, cell) ascending — the pre-r16 window /
    // oracle ORDER BY cosine DESC semantics
    val declarative = transform(
      slice(array_sort(transform(col("cents"), c =>
        struct((-coalesce(nanvl(graft.operators.Similarity.cosineSeq(
          col("qv"), c.getField("cv")), lit(4.0)), lit(4.0))).as("negsim"),
          c.getField("cell").as("cell")))), 1, nProbe),
      p => p.getField("cell"))
    onBothPaths {
      val got = df.select(col("vec_id"),
        VectorKernels.ivf_probes(col("qv"), col("cents"), nProbe).as("k"),
        declarative.as("d")).collect()
      assert(got.length === 101)
      got.foreach { r =>
        if (r.getLong(0) == 999L) assert(r.isNullAt(1), "null qv must give null")
        else {
          assert(r.getSeq[Int](1) === r.getSeq[Int](2),
            s"probe set mismatch at ${r.getLong(0)}")
          // the zero-norm (NaN-cosine) cell 12 must rank FIRST
          assert(r.getSeq[Int](1).head === 12, s"NaN cell not first at ${r.getLong(0)}")
        }
      }
    }
  }

  test("sq8_dequant == declarative per-dimension transform") {
    import spark.implicits._
    val dim = 16
    val rows = (1 to 200).map(i => (i.toLong, vec(dim))) :+
      (998L, Seq.fill(dim)(1.5)) :+ // constant dims exercise the mx==mn branch
      (999L, null: Seq[Double])
    val vecs = rows.toDF("vec_id", "v")
    val stats = vecs
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("st"))
    val declarative = transform(col("v"), (x, i) => {
      val s = element_at(col("st"), i + 1)
      val mn = s.getField("mn")
      val mx = s.getField("mx")
      when(mx === mn, mn)
        .otherwise(mn + floor((x - mn) / (mx - mn) * 255.0 + 0.5)
          * (mx - mn) / 255.0)
    })
    onBothPaths {
      val got = vecs.crossJoin(stats)
        .select(col("vec_id"),
          VectorKernels.sq8_dequant(col("v"), col("st")).as("k"),
          declarative.as("d")).collect()
      assert(got.length === 202)
      got.foreach { r =>
        if (r.getLong(0) == 999L) assert(r.isNullAt(1), "null v must give null")
        else assert(r.getSeq[Double](1) === r.getSeq[Double](2),
          s"sq8 mismatch at ${r.getLong(0)}")
      }
    }
  }

  test("sorted_overlap == multiset overlap upper bound on sorted id arrays") {
    import spark.implicits._
    // entries sorted by (df, h); duplicates (hash collisions) count with
    // min multiplicity — (1,10) appears 2x in a, 1x in b -> contributes 1
    val a = Seq((1L, 10L), (1L, 10L), (2L, 5L), (3L, 7L), (9L, 1L))
    val b = Seq((1L, 10L), (2L, 5L), (2L, 6L), (9L, 1L), (9L, 2L))
    val df = Seq((1, a, b), (2, a, null: Seq[(Long, Long)])).toDF("id", "ar", "br")
      .select(col("id"),
        transform(col("ar"), e =>
          struct(e.getField("_1").as("df"), e.getField("_2").as("h"))).as("a"),
        transform(col("br"), e =>
          struct(e.getField("_1").as("df"), e.getField("_2").as("h"))).as("b"))
      .select(col("id"), VectorKernels.sorted_overlap(col("a"), col("b")))
      .orderBy(col("id"))
    onBothPaths {
      val got = df.collect()
      // shared: (1,10) x1, (2,5) x1, (9,1) x1
      assert(got(0).getInt(1) === 3)
      assert(got(1).isNullAt(1), "null b must give null")
    }
  }
}
