package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`, 64-dim in the fixture).
  *
  * Float determinism: all dot products and norms are computed as
  * SEQUENTIAL left folds over double-cast elements
  * (`aggregate(zip_with(...))`), which evaluates in element order — the
  * same IEEE operation sequence DuckDB's `list_reduce` performs, so
  * similarity values are bit-identical across engines and runs (a plain
  * `sum` aggregate would not be: shuffle order changes the fold order).
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product. */
  def dotSeq(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Sequential-fold squared L2 norm. */
  private def normSq(v: Column): Column =
    aggregate(transform(toDouble(v), x => x * x), lit(0.0), (a, x) => a + x)

  /** Sequential-fold L2 norm. */
  def normSeq(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity via the declarative higher-order-function fold —
    * kept as the reference implementation; interpreted, ~20 µs/row. */
  def cosineSeqHof(a: Column, b: Column): Column =
    dotSeq(a, b) / (normSeq(a) * normSeq(b))

  /** Cosine similarity, bit-deterministic (see object doc). Native
    * codegen'd kernel with the identical fold order as [[cosineSeqHof]]
    * (asserted equal in tests), ~100× faster. */
  def cosineSeq(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosine(a, b)

  // The ANN scaffold: every operator below is a candidate-pair source
  // (cross join, LSH bucket, IVF cell, refine shortlist) fed through
  // these steps, each written once. Pair frames carry (query_id, qv) and
  // (neighbor_id, nv).

  /** Pair scoring: drop each query's self-pair, then score the pair by
    * [[cosineSeq]]`(qv, nv)` into `score`. */
  private def scorePairs(pairs: DataFrame, score: String): DataFrame =
    pairs.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSeq(col("qv"), col("nv")).as(score))

  /** Brute-force pairs: the bounded query side is broadcast EXPLICITLY
    * (see [[bruteForceTopK]]) and crossed with every corpus row. */
  private def crossPairs(q: DataFrame, n: DataFrame, score: String): DataFrame =
    scorePairs(broadcast(q).crossJoin(n), score)

  /** Per-query top-`limit`: `rank` = row_number over (score desc,
    * neighbor_id) within each query — a total order under score ties. */
  private def topK(pairs: DataFrame, score: String, limit: Int): DataFrame =
    pairs.withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("neighbor_id"))))
      .filter(col("rank") <= limit)

  /** [[topK]] as the operators emit it: (query_id, rank, neighbor_id, score). */
  private def topKRows(pairs: DataFrame, score: String, k: Int): DataFrame =
    topK(pairs, score, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(score))

  /** The recall contract of the approximate operators: each `approx` row
    * (query_id, rank, neighbor_id, `score`) gains `recall_at_k`, the share
    * of its query's `exact` top-k neighbors that `approx` found — 0.0,
    * never NULL, for a query that found none. The per-query hit counts
    * (≤ one row per query) are broadcast to the approx side. */
  private[operators] def withRecall(approx: DataFrame, exact: DataFrame,
      score: String, k: Int): DataFrame = {
    val hits = approx.join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    approx.join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(score),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall_at_k"))
  }

  /** ADC pairs of the brute-force PQ operators: float-exact queries ×
    * every [[pqDequantized]] reconstruction. */
  private def adcPairs(queries: DataFrame, rec: DataFrame, score: String): DataFrame =
    crossPairs(queries.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("qv")),
      rec.select(col("vec_id").as("neighbor_id"), col("qv").as("nv")), score)

  /** Stage 2 of the refine operators: re-score JUST the shortlist against
    * the raw float vectors and keep the exact top-k. Both vectors re-join
    * BY ID (the random-access flat-vector read of a real refine step),
    * not via a distinct() over scored rows: an id-keyed equi-join beats
    * deduplicating on a 64-element array key. */
  private def refine(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    topK(shortlist.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        toDouble(col("embedding")).as("nx")), Seq("neighbor_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        toDouble(col("embedding")).as("qv")), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSeq(col("qv"), col("nx")).as("qcos")), "qcos", k)

  /** Exact top-k neighbors for each query vector by brute force:
    * queries × corpus cross join. The QUERY side is broadcast
    * EXPLICITLY: left to the planner, a derived query frame carries no
    * size statistics, so the cross join either builds on the corpus —
    * the side that grows with the data, capping parallelism at the
    * query count and re-paying the broadcast at every scale-up — or
    * degrades to CartesianProduct outright once the corpus estimate
    * crosses the threshold (measured as a 27-33× wall blowup at 10×
    * data on the bounded-query registrations). Broadcasting the bounded
    * query side instead streams the corpus at full partition
    * parallelism and lets the WindowGroupLimit partial prune run
    * map-side, so the per-query window shuffles k·|queries| rows per
    * partition, never |queries|×|corpus|. The baseline every ANN
    * variant is measured against. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKRows(crossPairs(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
      "cosine"), "cosine", k)

  /** Exact maximum-inner-product search (MIPS) via the norm-augmentation
    * reduction to cosine (Bachrach et al., RecSys 2014; Neyshabur &
    * Srebro 2015) — the recommender-retrieval primitive (user·item
    * scores are inner products, NOT cosines: a popular item's larger
    * norm must rank it higher). Cosine machinery can't search IP
    * directly, so augment with one dimension:
    *
    *   x → [x, √(M² − ‖x‖²)]   (corpus; M² = max corpus ‖x‖²)
    *   q → [q, 0]              (query)
    *
    * Every augmented corpus vector has norm M, so
    * cos(q̃, x̃) = ⟨q,x⟩ / (‖q‖·M) — a per-query positive-constant scale
    * of the inner product: the augmented-cosine order IS the IP order,
    * and any cosine ANN index (sign-LSH, IVF) now serves MIPS unchanged.
    * M² is taken over the SUM-OF-SQUARES fold (never max-of-norms:
    * squaring the rounded √ can dip below the true max and NaN the
    * augment of the max-norm vector, which here augments with exactly
    * √0). Ranked by the augmented cosine itself (bit-replicable
    * sequential 65-element fold; division is monotone so no inversions
    * vs true IP, and the neighbor_id tiebreak pins any rounding ties
    * identically in both engines); raw `ip` rides along.
    *
    * Exact baseline = cross join like [[bruteForceTopK]] (query side
    * broadcast); the scale path is this SAME augmentation feeding
    * [[lshTopK]]/[[ivfTopK]] — the reduction is the operator. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val caug = mipsCorpus(corpus, "neighbor_id")
    val qaug = mipsQueries(queries, "query_id")
    // hot path: ONLY the native codegen'd cosine kernel runs per pair
    // (fold-order-identical to the HOF/oracle — the SimilaritySpec
    // bit-equality contract); the raw inner product is recomputed on
    // the k·|queries| winners after ranking, not on every pair
    val pairs = crossPairs(qaug.select(col("query_id"), col("embedding").as("qv")),
      caug.select(col("neighbor_id"), col("embedding").as("nv")), "aug_cosine")
    topK(pairs, "aug_cosine", k)
      .join(broadcast(qaug.select(col("query_id"), col("qraw"))), Seq("query_id"))
      .join(caug.select(col("neighbor_id"), col("nraw")), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        dotSeq(col("qraw"), col("nraw")).as("ip"), col("aug_cosine"))
  }

  /** [[mipsTopK]]'s corpus side: `(id, nraw, embedding)`, `nraw` the
    * double-cast vector and `embedding` its augmentation
    * [nraw, √(M² − ‖x‖²)]. The id column is named here, where it is
    * made: renamed after the cross join, it would cost a Project of its
    * own on top of it. */
  private def mipsCorpus(corpus: DataFrame, id: String): DataFrame = {
    val c = corpus.select(col("vec_id").as(id), toDouble(col("embedding")).as("nraw"),
      normSq(col("embedding")).as("ns"))
    c.crossJoin(broadcast(c.agg(max(col("ns")).as("m2"))))
      .select(col(id), col("nraw"),
        concat(col("nraw"), array(sqrt(col("m2") - col("ns")))).as("embedding"))
  }

  /** [[mipsTopK]]'s query side: `(id, qraw, embedding)`, `embedding`
    * = [qraw, 0]. */
  private def mipsQueries(queries: DataFrame, id: String): DataFrame =
    queries.select(col("vec_id").as(id), toDouble(col("embedding")).as("qraw"))
      .withColumn("embedding", concat(col("qraw"), array(lit(0.0))))

  /** MIPS served by the ACTUAL sign-LSH index — the payoff of
    * [[mipsTopK]]'s reduction: the norm-augmented corpus/query vectors
    * feed [[lshTopK]] UNCHANGED (65-dim hyperplanes, hamming-1
    * multi-probe, exact augmented-cosine verify within buckets). This is
    * the registered 100 TB plan for inner-product retrieval: bucket
    * equi-join instead of the cross join, recall from the multi-probe
    * trade — approximate by the same contract as `sim_topk_lsh`, with
    * the score column being the augmented cosine (a per-query monotone
    * transform of the inner product). */
  def mipsTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 8, dim: Int = 64): DataFrame =
    lshTopK(mipsCorpus(corpus, "vec_id"), mipsQueries(queries, "vec_id"), k, nBits, dim + 1,
      probeHamming = 1).withColumnRenamed("cosine", "aug_cosine")

  /** Fixed random hyperplanes for sign-LSH (deterministic seed). Exposed
    * package-private so the oracle SQL can embed the same constants as
    * literals and replicate the bucketing bit-for-bit. */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: nBits hyperplane sign bits packed into a long
    * via the one-pass native kernel ([[graft.functions.VectorKernels.lshBits]]).
    * Vectors with high cosine land in the same bucket with probability
    * (1 - θ/π)^nBits. */
  def lshBucket(v: Column, nBits: Int, dim: Int): Column =
    graft.functions.VectorKernels.lsh_bucket(v, hyperplanes(nBits, dim))

  /** Approximate top-k: candidates restricted to the query's LSH bucket,
    * then exact cosine ranking within the bucket. The 100 TB scale path:
    * the cross join becomes an equi-join on bucket id (shuffle hash join),
    * cost proportional to Σ bucket². Recall is tunable via nBits and
    * `probeHamming` (hamming-1 multi-probe over neighboring buckets,
    * implemented below). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 8,
      dim: Int = 64, probeHamming: Int = 0): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      "probe sequence implemented for hamming 0 or 1")
    val cb = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      lshBucket(col("embedding"), nBits, dim).as("bucket"))
    // multi-probe: a near neighbor that lands across ONE hyperplane from
    // the query is in a bucket at hamming distance 1 — probing those
    // nBits extra buckets trades nBits× more (cheap, pre-filtered) probe
    // rows for the recall a single bucket loses, WITHOUT duplicating the
    // corpus side (the classic multi-probe LSH trade). Corpus buckets are
    // exact and probe buckets distinct, so no pair dedup is needed.
    val qb0 = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      lshBucket(col("embedding"), nBits, dim).as("bucket0"))
    val qb =
      if (probeHamming == 0) qb0.withColumnRenamed("bucket0", "bucket")
      else qb0.select(col("query_id"), col("qv"),
        probeSet(col("bucket0"), nBits).as("bucket"))
    topKRows(scorePairs(qb.join(cb, Seq("bucket")), "cosine"), "cosine", k)
  }

  /** The hamming-1 multi-probe set: `bucket` and its nBits single-bit
    * flips, exploded one row each. The buckets are distinct, so joined
    * against exact corpus buckets each pair meets at most once. */
  private def probeSet(bucket: Column, nBits: Int): Column =
    explode(array(bucket +:
      (0 until nBits).map(b => bucket.bitwiseXOR(lit(1L << b))): _*))

  /** IVF (inverted-file) ANN — the classic centroid-partitioned scale
    * path: k-means-lite centroids over a sample, every corpus vector
    * assigned to its nearest centroid (one narrow pass, centroids
    * broadcast), queries probe only the `nProbe` nearest cells. At 100 TB
    * the corpus assignment is the layout (partition/bucket by cell id);
    * a query touches nProbe/k of the data instead of all of it.
    *
    * FULLY deterministic, including across engines: centroid updates use
    * FIXED-POINT integer-micros arithmetic (long sums are
    * order-independent, unlike double sums whose value depends on shuffle
    * order), and every per-row double computation (cosine kernel, the
    * micros→double division) is a fixed IEEE operation sequence — so the
    * whole algorithm is bit-for-bit replicable by the DuckDB oracle SQL. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, lloydIters: Int = 2, nRows: Option[Long] = None): DataFrame = {
    // `nRows` lets a caller that already knows the corpus size
    // (sq8IvfTopK: the quantized view is row-for-row the raw table) skip
    // an extra count action over a derived pipeline.
    val ivf = ivfLayout(corpus, nCells, lloydIters, nRows.getOrElse(corpus.count()))
    ivfScan(ivfProbes(queries, ivf.centroids, nProbe), ivf.assigned, k)
  }

  /** The coarse-quantizer layout every IVF operator starts from, over the
    * double-cast corpus `(vec_id, v)` (centroids are double arrays, so
    * assignment runs the double cosine kernel on both sides):
    * `centroids(cell, cv)` its [[ivfCentroids]] training and
    * `assigned(vec_id, v, cell)` each vector's nearest cell. */
  private final case class IvfLayout(centroids: DataFrame, assigned: DataFrame)

  private def ivfLayout(corpus: DataFrame, nCells: Int, lloydIters: Int,
      n: Long): IvfLayout = {
    val corpusD = corpus.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val centroids = ivfCentroids(corpusD, nCells, lloydIters, n)
    IvfLayout(centroids, ivfAssign(corpusD, centroids))
  }

  /** Float-exact scan of the probed cells: every (probe, assigned vector)
    * pair sharing a cell, scored and cut to the per-query top-k. */
  private def ivfScan(probes: DataFrame, assigned: DataFrame, k: Int): DataFrame =
    topKRows(scorePairs(probes.join(assigned.select(col("vec_id").as("neighbor_id"),
      col("v").as("nv"), col("cell")), Seq("cell")), "cosine"), "cosine", k)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication at scale: k-means-cluster the embedding corpus with
    * the SAME deterministic coarse quantizer as [[ivfTopK]] (strided
    * init, integer-micros Lloyd), then search for near-duplicate pairs
    * (cosine ≥ threshold) ONLY within each cluster. This is the paper's
    * central trick: the O(n²) semantic-pair search becomes
    * Σ_cells |cell|² — embarrassingly cell-parallel and, at web scale,
    * the difference between impossible and routine, at the cost of
    * missing only pairs that straddle a cluster boundary (high-cosine
    * pairs co-cluster by construction — the quantizer assigns both to
    * their shared nearest centroid unless they sit on a Voronoi edge).
    *
    * Emits (cell, vec_a, vec_b, cosine): the within-cluster dup pairs
    * with the cell that found them. The exact recall complement is
    * [[embeddingDupPairs]] (its output ⊇ this one at equal threshold —
    * a containment SimilaritySpec asserts).
    *
    * Plan at 100 TB: centroids broadcast (nCells rows); ONE cell-keyed
    * self-join (shuffle on cell id, the IVF layout already co-locates
    * each cell's vectors); skew guard = cell granularity is chosen so
    * |cell| ≈ n/nCells (Lloyd balances the fixture; production re-splits
    * giant cells hierarchically, same as FAISS IVF imbalance handling). */
  def semDedup(corpus: DataFrame, threshold: Double, nCells: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val assigned = ivfLayout(corpus, nCells, lloydIters, corpus.count()).assigned
    dupPairs(assigned.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("vec_id").as("vec_b"),
        col("v").as("vb")), Seq("cell")), threshold, col("cell"))
  }

  /** Clustering-quality evaluation of the coarse quantizer — the
    * k-means health check every embedding pipeline runs before trusting
    * an IVF layout or a SemDeDup pass: per cell, member count and the
    * min / max / mean member-to-centroid cosine (tight cells ≈ high
    * mean, stragglers show up as a low min; a skewed `n_members`
    * distribution flags an imbalanced quantizer that needs re-split).
    *
    * Cross-engine exactness: min/max are order-independent; the mean
    * goes through the integer-micros trick (sum of ROUND(cos·1e6) longs
    * — order-independent exact — then one fixed double division), the
    * same discipline as the Lloyd update itself. The NaN sentinel (-2.0)
    * mirrors [[ivfAssign]]'s guard. Plan: assignment as in [[ivfTopK]]
    * (broadcast centroids), then ONE cell-keyed agg with map-side
    * partials — no per-cell buffering, nothing O(n²). */
  def kmeansStats(corpus: DataFrame, nCells: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val ivf = ivfLayout(corpus, nCells, lloydIters, corpus.count())
    ivf.assigned.join(broadcast(ivf.centroids), Seq("cell"))
      .select(col("cell"),
        nanvl(cosineSeq(col("v"), col("cv")), lit(-2.0)).as("cos"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        min(col("cos")).as("min_cosine"),
        max(col("cos")).as("max_cosine"),
        sum(round(col("cos") * 1e6).cast("long")).as("sum_cos_micros"))
      .select(col("cell").cast("long").as("cell"), col("n_members"),
        col("min_cosine"), col("max_cosine"), col("sum_cos_micros"),
        (col("sum_cos_micros").cast("double") /
          col("n_members").cast("double") / 1e6).as("mean_cosine"))
  }

  /** One-row broadcastable frame holding EVERY centroid as a cell-sorted
    * struct array. Lets assignment and probing run as pure per-row fold
    * expressions over the broadcast array instead of a
    * crossJoin-then-re-aggregate: the (vec_id)-keyed argmax Exchange of
    * the whole corpus — one per Lloyd round plus the final assignment —
    * disappears outright (round 16, guide §2.4 "remove shuffles
    * outright"; at 100 TB the corpus never shuffles for assignment at
    * all, only the nCells-row centroid table moves). */
  private def centroidArray(cents: DataFrame): DataFrame =
    cents.groupBy().agg(
      array_sort(collect_list(struct(col("cell"), col("cv")))).as("cents"))

  /** Nearest-centroid assignment: argmax-by-(sim desc, cell asc) as a
    * lexicographic struct-MIN FOLD over the broadcast centroid array —
    * zero shuffle of the corpus (previously a crossJoin + vec_id-keyed
    * partial-agg, one Exchange of n rows per call). (-sim) ASC == sim
    * DESC exactly: IEEE negation is lossless; the fold keeps the earlier
    * (lower cell id) candidate on exact ties, identical to the struct
    * MIN it replaces — and since every comparison is exact (no
    * accumulation), the result is independent of fold order anyway.
    *
    * NaN guard: a zero-norm vector (e.g. a centroid whose every
    * coordinate quantizes to 0 micros) makes cosine 0/0 = NaN, and the
    * two engines would then DISAGREE on this argmax — Spark's struct MIN
    * orders NaN largest (never picked), DuckDB's ORDER BY cosine DESC
    * ranks NaN first (always picked). Coalescing NaN to a -2.0 sentinel
    * (below any real cosine) on BOTH sides makes them identical: a
    * NaN-cosine cell loses everywhere, and an all-NaN row falls back to
    * the lowest cell id. No-op for non-degenerate input. */
  private def ivfAssign(points: DataFrame, cents: DataFrame): DataFrame =
    // selection runs in the native
    // [[graft.functions.VectorKernels.ivfArgmax]] kernel — identical
    // cosine fold, NaN sentinel and (−sim, cell) tie-break as the
    // declarative aggregate-fold form (asserted equal in
    // VectorArgminSpec), one codegen'd loop per row instead of nCells
    // interpreted lambda dispatches
    points.crossJoin(broadcast(centroidArray(cents)))
      .select(col("vec_id"), col("v"),
        graft.functions.VectorKernels.ivf_argmax(col("v"), col("cents"))
          .as("cell"))

  /** Coarse-quantizer training over `corpusD(vec_id, v)`: deterministic
    * evenly-strided init by vec_id rank, then `lloydIters` rounds of
    * Lloyd refinement with per-cell, per-dimension means in integer
    * micros — sum(round(x·1e6)) is an exact long (order-independent), and
    * the final (sum/count)/1e6 double division is a fixed IEEE sequence.
    * The centroid lineage appears in several downstream branches (next
    * iteration, final assign, query probes); AQE's ReusedExchange already
    * dedupes the identical aggregation subtrees within one execution, so
    * no checkpoint/cache is needed (measured: eager localCheckpoint per
    * iteration was ~20% SLOWER than letting exchange reuse handle it). */
  private def ivfCentroids(corpusD: DataFrame, nCells: Int, lloydIters: Int,
      n: Long): DataFrame = {
    val stride = math.max(1L, n / nCells)
    var centroids = corpusD
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("v").as("cv"))
      // unpartitioned window over the ALREADY-LIMITED ≤ nCells sample rows
      .withColumn("cell", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1))
      .select(col("cell"), col("cv"))
    (1 to lloydIters).foreach { _ =>
      centroids = ivfAssign(corpusD, centroids)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("x") * 1000000).cast("long")).as("s"),
          count(lit(1)).as("c"))
        .select(col("cell"), col("pos"),
          (col("s").cast("double") / col("c") / lit(1000000.0)).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), p => p.getField("m")).as("cv"))
    }
    centroids
  }

  /** Each query's `nProbe` nearest cells (centroids broadcast): emits
    * `(query_id, qv, cell)` with the double-cast query vector carried
    * along for downstream scoring. The per-query (sim desc, cell) rank ≤
    * nProbe runs in the native [[graft.functions.VectorKernels.ivfProbeCells]]
    * kernel — one codegen'd top-nProbe selection pass over the broadcast
    * centroid array per query row (round 17), replacing the r16
    * interpreted array_sort(transform(...)) + slice, which itself
    * replaced the crossJoin + query_id-keyed window (guide §2.4). The
    * kernel also RESTORES the NaN-first probe ordering (r16 ADVICE): a
    * zero-norm cosine ranks first, as in both the pre-r16 window (Spark
    * sorts NaN largest under sim DESC) and the oracle's ORDER BY
    * cosine DESC — no-op for the NaN-free fixture corpus, equivalence
    * asserted in VectorArgminSpec. */
  private def ivfProbes(queries: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv"))
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.VectorKernels.ivf_probes(
          col("qv"), col("cents"), nProbe)).as("cell"))

  /** SQ8 scalar quantization, returned in the DEQUANTIZED double domain:
    * per dimension, the corpus [min, max] range is cut into 256 levels
    * and every value snapped to its level's reconstruction point —
    * exactly the values an int8-compressed index (4× smaller than
    * float32, the memory-bound scale lever under IVF/LSH) scores with.
    * `x̂ = mn + round((x−mn)/(mx−mn)·255) · (mx−mn)/255`; a constant
    * dimension reconstructs as its single value.
    *
    * Plan: one posexplode → per-dimension min/max (a dim-count-row
    * aggregate with map-side partials, collapsed to ONE pos-sorted stats
    * array and broadcast) → per-element quantize as a pure `transform`
    * expression indexing the stats array by position. The round-16 form:
    * the old re-assembly (n×dim explode → broadcast join → vec_id-keyed
    * collect_list Exchange) is gone — the corpus rows never shuffle, only
    * the dim-row stats array moves (guide §2.4). Position density holds
    * by construction: any position a vector has is a position that same
    * vector contributed to the stats, so element_at(st, i+1) is always
    * the stats row for dimension i. Every step is a fixed IEEE
    * sequence on exactly-representable inputs (float→double casts, and
    * integer codes 0..255), so codes AND reconstructions are
    * bit-identical in any engine. */
  def sq8Dequantized(vectors: DataFrame): DataFrame = {
    val stats = vectors
      .select(posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("st"))
    // quantization runs in the native
    // [[graft.functions.VectorKernels.sq8Dequant]] kernel (round 17) —
    // the identical IEEE sequence as the declarative transform it
    // replaces, one codegen'd loop per row instead of dim interpreted
    // lambda dispatches (equivalence asserted in VectorArgminSpec).
    // Empty embeddings are dropped (round 17, r16 ADVICE): the pre-r16
    // explode/reassemble form dropped them and the oracle's UNNEST still
    // does — the r16 crossJoin silently kept them with an empty qv.
    vectors.crossJoin(broadcast(stats))
      .filter(size(col("embedding")) >= 1)
      .select(col("vec_id"),
        graft.functions.VectorKernels.sq8_dequant(
          toDouble(col("embedding")), col("st")).as("qv"))
  }

  /** Top-k neighbors scored on the SQ8-[[sq8Dequantized]] corpus, with a
    * per-query `recall_at_k` column against the exact float-domain
    * [[bruteForceTopK]] — the quantization-error contract, oracle-checked.
    * Scoring shape mirrors the brute force here (the fixture measures
    * quantization error in isolation); at scale the quantized codes sit
    * UNDER a cell/bucket layout ([[ivfTopK]] / [[lshTopK]]), which this
    * composes with freely. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val deq = sq8Dequantized(corpus)
    val qs = deq.join(queries.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val approx = topK(crossPairs(
      qs.select(col("vec_id").as("query_id"), col("qv")),
      deq.select(col("vec_id").as("neighbor_id"), col("qv").as("nv")), "qcos"), "qcos", k)
    withRecall(approx, bruteForceTopK(corpus, queries, k), "qcos", k)
  }

  /** SQ8 codes UNDER the IVF cell layout — the composition a real
    * int8-compressed index runs at scale: the corpus is quantized
    * ([[sq8Dequantized]]) and the ENTIRE index pipeline — centroid init,
    * Lloyd refinement, cell assignment, probing, scoring — runs in the
    * quantized domain ([[ivfTopK]] over the reconstructed vectors), so a
    * probed cell scans 4×-smaller codes, which is the whole point of SQ8.
    * The per-query `recall_at_k` contract compares against the
    * float-exact IVF path with the SAME layout parameters, isolating the
    * quantization-induced ranking error at fixed probe cost. Nothing
    * here is O(n²): both pipelines are centroid-partitioned
    * (broadcast centroids, nProbe-cell probes) — this is the scale
    * registration of the quantized path; [[sq8TopK]] stays as the
    * isolated brute-force quantization-error baseline. */
  def sq8IvfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, lloydIters: Int = 2): DataFrame = {
    // NOT cached — re-measured in round 17 after the r16/r17 kernel
    // rewrites changed the economics (r15 had measured a cache here 4×
    // slower, 13.3 s vs 3.2 s, against the old explode/reassemble): with
    // the sq8_dequant kernel the cached form reads 1.69 s vs 1.59 s
    // uncached at sf0.1 — the cache build still serializes the Lloyd
    // branches that AQE ReusedExchange otherwise dedups, and the
    // quantization itself is now too cheap to be worth materializing.
    val deq = sq8Dequantized(corpus)
      .select(col("vec_id"), col("qv").as("embedding"))
    val qdeq = deq.join(queries.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val n = Some(corpus.count())
    val approx = ivfTopK(deq, qdeq, k, nCells, nProbe, lloydIters, nRows = n)
      .withColumnRenamed("cosine", "qcos")
    withRecall(approx,
      ivfTopK(corpus, queries, k, nCells, nProbe, lloydIters, nRows = n), "qcos", k)
  }

  /** Product quantization (PQ), returned in the DEQUANTIZED double
    * domain: the vector is split into `dim/subDim` subspaces, each
    * subspace gets its own `ksub`-codeword k-means codebook, and every
    * subvector snaps to its nearest codeword — so a vector compresses to
    * one code PER SUBSPACE (4 bytes here vs 256 for float32: the 64×
    * lever a billion-vector index lives on; SQ8's is only 4×).
    * Reconstruction concatenates the chosen codewords.
    *
    * Training mirrors [[ivfTopK]]'s determinism recipe per subspace:
    * evenly-strided init by vec_id rank, Lloyd refinement with
    * per-dimension means in integer micros (order-independent long sums,
    * one fixed double division), argmin by an L2² sequential fold with
    * (dist, code) struct-MIN tie-breaks — every step bit-replicable in
    * DuckDB. L2² of finite inputs cannot be NaN, so no sentinel is
    * needed (unlike the cosine argmax in ivfTopK).
    *
    * Plan at 100 TB (round-16 form): subvectors are `slice`s of the raw
    * array (pos order preserved by construction — identical to the old
    * sorted-collect reassembly, minus the n×dim explode and its
    * (vec_id, sub)-keyed Exchange); codebooks are tiny
    * ((dim/subDim)·ksub rows), collapsed per sub into a code-sorted
    * codeword array and broadcast; assignment is a pure argmin FOLD over
    * that array (no shuffle of the corpus at all), and the final
    * reconstruction is one flatten-of-folds expression per row. The only
    * surviving corpus-wide Exchange is the Lloyd codebook update's
    * (sub, code, pos) aggregation, which map-side partials collapse to
    * the codebook's own cardinality (guide §2.3/2.4). */
  def pqDequantized(vectors: DataFrame, subDim: Int = 16, ksub: Int = 16,
      lloydIters: Int = 1, nRows: Option[Long] = None): DataFrame = {
    // empty embeddings are dropped up front (round 17, r16 ADVICE): the
    // pre-r16 explode form dropped them (no rows to reassemble) and the
    // oracle's UNNEST still does; the r16 crossJoin silently kept them
    // with a fabricated qv — and sequence(0, -1) on an empty vector even
    // yields a bogus descending [0, -1] index pair. No-op on the fixture
    // corpus (no empty embeddings).
    val vecs = vectors.filter(size(col("embedding")) >= 1)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // CEIL division (round 17, r16 ADVICE): a dim that is not a multiple
    // of subDim keeps its partial tail subvector, as the pre-r16
    // `pos DIV subDim` grouping and the oracle's (i-1)//subDim both do —
    // the r16 floor form silently dropped the tail. No-op at the
    // fixture's uniform 64-dim.
    def subsOf(v: Column): Column =
      transform(sequence(lit(0), ceil(size(v) / lit(subDim)).cast("int") - 1),
        i => slice(v, i * subDim + 1, lit(subDim)))
    // (vec_id, sub, sv) rows for codebook training only — derived by
    // slicing, no shuffle; `sub` long to match the old `pos DIV subDim`
    val sv = vecs.select(col("vec_id"),
      posexplode(subsOf(col("v"))).as(Seq("subi", "sv")))
      .select(col("vec_id"), col("subi").cast("long").as("sub"), col("sv"))
    val n = nRows.getOrElse(vectors.count())
    val stride = math.max(1L, n / ksub)
    val samp = vectors.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(ksub)
      // unpartitioned window over the ALREADY-LIMITED ≤ ksub sample rows
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("long"))
      .select(col("vec_id"), col("code"))
    var codebook = sv.join(samp, Seq("vec_id"))
      .select(col("sub"), col("code"), col("sv").as("cw"))
    // per-sub code-sorted codeword array: the broadcastable index the
    // argmin folds run against
    def cbArray(cb: DataFrame): DataFrame =
      cb.groupBy(col("sub"))
        .agg(array_sort(collect_list(struct(col("code"), col("cw")))).as("cws"))
    // argmin by (dist asc, code asc) in the native
    // [[graft.functions.VectorKernels.pqArgmin]] kernel — identical
    // sequential-fold L2² and strict-less tie-break as the declarative
    // aggregate-of-zip_with form (asserted equal in VectorArgminSpec),
    // one codegen'd loop per row instead of ksub interpreted folds
    def bestOf(svc: Column, cws: Column): Column =
      graft.functions.VectorKernels.pq_argmin(svc, cws)
    def assign(cb: DataFrame): DataFrame =
      sv.join(broadcast(cbArray(cb)), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"),
          bestOf(col("sv"), col("cws")).getField("code").as("code"))
    (1 to lloydIters).foreach { _ =>
      codebook = assign(codebook)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(round(col("x") * 1000000).cast("long")).as("sm"),
          count(lit(1)).as("c"))
        .select(col("sub"), col("code"), col("pos"),
          (col("sm").cast("double") / col("c") / lit(1000000.0)).as("mm"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mm")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), p => p.getField("mm")).as("cw"))
    }
    // final reconstruction: per row, fold each subvector against its
    // sub's codeword array and concatenate the winning codewords — sub
    // order preserved by the transform, so the output array equals the
    // old sort-by-sub collect. `cbs` is sub-dense (every sub has sampled
    // codewords) and sub-sorted, so element_at(cbs, i+1) is sub i.
    // NEGATIVE RESULT (round 17, kept declarative): replacing this
    // transform chain with a one-pass native reconstruction kernel
    // measured sim_topk_pq / _refine / _refine_sampled 2× SLOWER
    // (1.4 → 3.0 s) — the codegen-friendly kernel projection is inlined
    // into the downstream ADC crossJoin and re-evaluated once per
    // (query, vector) PAIR, while the interpreted higher-order-function
    // chain stays a per-corpus-row Project below the join.
    val cbn = cbArray(codebook)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("sub"), col("cws")))).as("cbs"))
    vecs.crossJoin(broadcast(cbn))
      .select(col("vec_id"),
        flatten(transform(subsOf(col("v")), (svc, i) =>
          bestOf(svc, element_at(col("cbs"), i + 1).getField("cws"))
            .getField("cw"))).as("qv"))
  }

  /** Top-k by ASYMMETRIC distance computation (ADC) — the defining PQ
    * search mode: queries stay float-exact, corpus vectors are scored
    * through their [[pqDequantized]] reconstructions (dot(query,
    * concat(codewords)) ≡ the per-subspace LUT sum a PQ index
    * evaluates). Per-query `recall_at_k` against the float-exact
    * [[bruteForceTopK]] is the quantization-error contract. Scoring is
    * brute-force-shaped BY DESIGN (the isolated PQ-error baseline, like
    * [[sq8TopK]] for SQ8); [[pqIvfTopK]] is the scale registration. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      subDim: Int = 16, ksub: Int = 16, lloydIters: Int = 1): DataFrame = {
    val rec = pqDequantized(corpus, subDim, ksub, lloydIters)
    withRecall(topK(adcPairs(queries, rec, "qcos"), "qcos", k),
      bruteForceTopK(corpus, queries, k), "qcos", k)
  }

  /** Two-stage PQ search with exact refine — FAISS's IndexRefineFlat
    * composition, the standard production answer to PQ's scoring error:
    * stage 1 scores the WHOLE corpus cheaply through the PQ
    * reconstructions (ADC, as [[pqTopK]]) and keeps only a shortlist of
    * `shortlistFactor`·k candidates per query; stage 2 re-scores JUST
    * the shortlist against the raw float vectors and emits the exact
    * top-k of it. Recall then depends only on whether the true top-k
    * survived into the shortlist — scoring error inside the shortlist is
    * fully repaired — which is why refine lifts recall at a cost of
    * O(shortlist) raw-vector reads per query instead of O(n).
    *
    * Plan at 100 TB: stage 1 is the PQ scan (codes are the 64×-smaller
    * side — in production the only side resident in memory); the
    * shortlist is (n_queries × shortlistFactor·k) rows of IDs — tiny —
    * and stage 2 re-joins it to the raw corpus BY ID (keyed equi-join,
    * the random-access read a refine step does against the on-disk
    * flat vectors) and to the query side likewise; per-query windows
    * partition by query_id, never global. */
  def pqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlistFactor: Int = 3, subDim: Int = 16, ksub: Int = 16,
      lloydIters: Int = 1): DataFrame = {
    val rec = pqDequantized(corpus, subDim, ksub, lloydIters)
    val shortlist = topK(adcPairs(queries, rec, "adc_cos"), "adc_cos", shortlistFactor * k)
    withRecall(refine(shortlist, corpus, queries, k),
      bruteForceTopK(corpus, queries, k), "qcos", k)
  }

  /** PQ codes UNDER the IVF cell layout — IVF-PQ, the composition a
    * billion-vector index actually ships (coarse cells prune the scan,
    * PQ codes shrink what a probed cell reads by 64×). FAISS-faithful
    * IVFADC: ONE coarse quantizer is Lloyd-trained on the RAW corpus and
    * its cell assignment + query probe list are SHARED by both pipelines
    * — the approx side scores probed cells through the PQ
    * reconstructions (ADC: float query × coded neighbor, like
    * [[pqTopK]]), the exact side scores the same probed cells
    * float-exact. `recall_at_k` therefore isolates PURE PQ scoring error:
    * identical cells scanned, only the neighbor representation differs.
    * (Earlier rounds trained a second quantizer on the reconstructed
    * vectors, so cell-layout divergence leaked into the contract.)
    * Both pipelines are centroid-partitioned — nothing O(n²). */
  def pqIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, lloydIters: Int = 1): DataFrame = {
    // NOT cached — same AQE ReusedExchange rationale as sq8IvfTopK.
    val ivf = ivfPq(corpus, queries, k, nCells, nProbe, lloydIters, "qcos")
    withRecall(topKRows(ivf.adc, "qcos", k), ivf.exact, "qcos", k)
  }

  /** The stages [[pqIvfTopK]] and [[pqIvfRefineTopK]] share: `adc`, the
    * probed cells' (query, PQ-coded neighbor) pairs scored into
    * `adcScore`, and `exact`, the float-exact top-k over the SAME probed
    * cells that the recall contract compares against. */
  private final case class IvfPqScan(adc: DataFrame, exact: DataFrame)

  private def ivfPq(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, lloydIters: Int, adcScore: String): IvfPqScan = {
    // One count action serves the PQ stride AND the single IVF init.
    val n = corpus.count()
    val ivf = ivfLayout(corpus, nCells, lloydIters, n)
    val probes = ivfProbes(queries, ivf.centroids, nProbe)
    // PQ codes live UNDER the shared layout: reconstruction joined to the
    // raw-corpus cell assignment by vec_id (an id-keyed equi-join — the
    // on-disk analogue is simply storing the code in the cell's bucket)
    val coded = ivf.assigned.select(col("vec_id").as("neighbor_id"), col("cell"))
      .join(pqDequantized(corpus, nRows = Some(n))
        .select(col("vec_id").as("neighbor_id"), col("qv").as("nv")),
        Seq("neighbor_id"))
    IvfPqScan(scorePairs(probes.join(coded, Seq("cell")), adcScore),
      ivfScan(probes, ivf.assigned, k))
  }

  /** IVF-PQ **with exact refine** — the full production composition a
    * billion-vector deployment actually runs (FAISS `IndexIVFPQ` wrapped
    * in `IndexRefineFlat`): coarse cells prune the scan (IVF), PQ codes
    * shrink what a probed cell reads 64×, and a final exact re-rank of a
    * `shortlistFactor`·k shortlist repairs PQ's scoring error inside the
    * shortlist. Shares ONE raw-corpus coarse quantizer across all three
    * representations ([[pqIvfTopK]]'s FAISS-faithful IVFADC discipline),
    * so the `recall_at_k` contract vs the float-exact scan of the SAME
    * probed cells isolates exactly the one error source refine cannot
    * repair: true neighbors that PQ scored out of the shortlist.
    *
    * Plan at 100 TB: everything is centroid-partitioned or id-keyed —
    * the ADC pass joins probes to coded cells (a cell-keyed equi-join
    * over nProbe/nCells of the corpus), the shortlist is (n_queries ×
    * 3k) id rows, and the refine stage re-joins it to the raw vectors BY
    * ID (the random-access flat-vector read of a real refine step).
    * Nothing O(n²), per-query windows only. */
  def pqIvfRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int, nProbe: Int, shortlistFactor: Int = 3,
      lloydIters: Int = 1): DataFrame = {
    val ivf = ivfPq(corpus, queries, k, nCells, nProbe, lloydIters, "adc_cos")
    // stage 1: ADC over the probed cells, keep a 3k shortlist per query;
    // stage 2: exact re-rank of JUST the shortlist against raw vectors
    val shortlist = topK(ivf.adc, "adc_cos", shortlistFactor * k)
    withRecall(refine(shortlist, corpus, queries, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qcos")),
      ivf.exact, "qcos", k)
  }

  /** Hard-negative triplet mining for embedding-model training — the
    * contrastive-learning data-prep pass (the "hard negatives beat
    * random negatives" recipe of the dense-retrieval literature, e.g.
    * ANCE, Xiong et al. 2021): for every anchor vector, the POSITIVE is
    * its most-cosine-similar same-label neighbor and the HARD NEGATIVE
    * its most-similar different-label neighbor; margin = pos − neg (one
    * IEEE subtraction of two bit-deterministic [[cosineSeq]] values, so
    * the whole row is engine-exact). Anchors missing a same- or
    * different-label partner surface NULLs rather than dropping.
    *
    * Determinism: per (anchor, same?) group the argmax is
    * `row_number() OVER (ORDER BY cosine DESC, cand)` — a total order
    * even under cosine ties.
    *
    * Scale: the anchor×corpus cross join is the declared
    * error-isolation baseline (same convention as [[bruteForceTopK]]);
    * the 100 TB plan generates candidates from the sign-LSH buckets
    * ([[lshTopK]] / [[embeddingDupPairsLsh]]'s equi-join) — exactly
    * right for mining, since hard negatives are by definition NEAR the
    * anchor and bucket recall concentrates there. */
  def tripletMine(corpus: DataFrame,
      anchorPred: Column = lit(true)): DataFrame = {
    val a = corpus.filter(anchorPred).select(col("vec_id").as("anchor"),
      col("label").as("a_label"), col("embedding").as("va"))
    val c = corpus.select(col("vec_id").as("cand"),
      col("label").as("c_label"), col("embedding").as("vc"))
    tripletArgmax(a.crossJoin(c))
  }

  /** The candidate scoring and per-(anchor, same?) argmax + margin tail
    * shared by [[tripletMine]] and [[tripletMineLsh]]. */
  private def tripletArgmax(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("anchor"), col("same"))
      .orderBy(col("cosine").desc, col("cand"))
    pairs.filter(col("anchor") =!= col("cand"))
      .select(col("anchor"), col("cand"),
        (col("c_label") === col("a_label")).as("same"),
        cosineSeq(col("va"), col("vc")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("anchor"))
      .agg(max(when(col("same"), struct(col("cand"), col("cosine")))).as("p"),
        max(when(!col("same"), struct(col("cand"), col("cosine")))).as("n"))
      .select(col("anchor"),
        col("p.cand").as("pos_id"), col("p.cosine").as("pos_cos"),
        col("n.cand").as("neg_id"), col("n.cosine").as("neg_cos"),
        (col("p.cosine") - col("n.cosine")).as("margin"))
  }

  /** [[tripletMine]]'s registered 100 TB plan: candidates from the
    * sign-LSH bucket equi-join (hamming-1 multi-probe on the anchor
    * side, exact corpus buckets — the [[lshTopK]] probe sequence
    * verbatim) instead of the anchor×corpus cross join; exact cosine +
    * the same argmax/margin tail within the candidate set. A recall
    * subset of the exact pass — and the loss concentrates where it
    * matters least, since hard negatives are by definition NEAR the
    * anchor, where bucket recall is highest. Anchors whose probed
    * buckets hold no candidate drop out (identically on both engines)
    * rather than surfacing a worse-than-available triplet. */
  def tripletMineLsh(corpus: DataFrame, nBits: Int = 8,
      dim: Int = 64, anchorPred: Column = lit(true)): DataFrame = {
    val cb = corpus.select(col("vec_id"), col("label"), col("embedding"),
      lshBucket(col("embedding"), nBits, dim).as("bucket"))
    val probe = cb.filter(anchorPred).select(col("vec_id").as("anchor"),
      col("label").as("a_label"), col("embedding").as("va"),
      probeSet(col("bucket"), nBits).as("bucket"))
    tripletArgmax(probe.join(
      cb.select(col("vec_id").as("cand"), col("label").as("c_label"),
        col("embedding").as("vc"), col("bucket")), Seq("bucket")))
  }

  /** Corpus-calibrated near-dup cosine threshold (round 15).
    *
    * At dim=64 the cosine of two INDEPENDENT vectors concentrates as
    * ~N(0, 1/64) (σ = 0.125), so a fixed threshold of 0.4 sits at 3.2σ —
    * inside the random tail: a corpus of n vectors carries ~n²/2·7e-4
    * random-coincidence pairs above it regardless of any planted
    * structure (measured: the sf0.1 LSH pair set is exactly this tail —
    * max cosine 0.51, full-entropy vectors — and grew 122× under 10×
    * decorrelated replication, i.e. quadratically, as geometry demands).
    * Real dedup deployments therefore set the threshold ABOVE the random
    * tail of their corpus size; this rule does the standard calibration:
    * keep n·P(cos ≥ θ) constant, which for a Gaussian tail means
    * z² grows by 2·ln 2 per corpus doubling — θ² = θ₀² + k·(2·ln2)/64
    * with k = ⌊log₂(n/n₀)⌋ (stepped, so both engines compute the same
    * exact integer k). Constants: θ₀ = 0.4 at n₀ = 2000 (the registered
    * demo scale — every driver SF has n ≤ 2000, so registered results
    * are bit-identical to the historical literal 0.4), and 2·ln2/64
    * rounded to the exact decimal literal 0.022 so the double arithmetic
    * is the same fixed IEEE sequence in Spark and DuckDB
    * ([[calibratedDupThresholdSql]] mirrors it term for term). */
  def calibratedDupThreshold(n: Long): Double = {
    val ratio = math.max(1L, n / 2000L)
    val k = 63 - java.lang.Long.numberOfLeadingZeros(ratio)
    math.sqrt(0.16 + 0.022 * k)
  }

  /** DuckDB scalar-subquery replica of [[calibratedDupThreshold]] over
    * `$base(vec_id, …)` — identical literals, identical IEEE ops. */
  def calibratedDupThresholdSql(base: String): String =
    s"(SELECT sqrt(0.16 + 0.022 * FLOOR(LOG2(GREATEST(1, COUNT(*) // 2000)))) FROM $base)"

  /** Semantic near-duplicate pairs: all (a,b) with cosine ≥ threshold.
    * Exact but O(n²) — the capability baseline;
    * [[embeddingDupPairsLsh]] is the 100 TB plan. */
  def embeddingDupPairs(corpus: DataFrame, threshold: Double): DataFrame =
    dupPairs(corpus.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
      .crossJoin(corpus.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))),
      threshold)

  /** Near-dup verify shared by the self-join operators ([[embeddingDupPairs]],
    * [[embeddingDupPairsLsh]], [[semDedup]]): each candidate pair once as
    * vec_a < vec_b, scored by [[cosineSeq]]`(va, vb)` and kept at
    * cosine ≥ threshold; the `lead` columns ride in front. */
  private def dupPairs(pairs: DataFrame, threshold: Double, lead: Column*): DataFrame =
    pairs.filter(col("vec_a") < col("vec_b"))
      .select(lead ++ Seq(col("vec_a"), col("vec_b"),
        cosineSeq(col("va"), col("vb")).as("cosine")): _*)
      .filter(col("cosine") >= threshold)

  /** Leading principal component of the embedding corpus by EXACT
    * scatter + deterministic power iteration — distributed PCA the way a
    * 100 TB corpus has to do it (one pass for second moments; the
    * eigen-solve on the tiny d×d matrix):
    *
    *   1. Element stream (vec_id, i, xᵢ) in exact integer micros.
    *   2. Scatter Sᵢⱼ = Σ xᵢxⱼ and means mᵢ = Σ xᵢ — BIGINT sums,
    *      order-independent, so the moment pass is EXACT (the usual
    *      float-sum nondeterminism of distributed PCA is gone). The
    *      centered scatter Nᵢⱼ = n·Sᵢⱼ − mᵢmⱼ (= n² × covariance) keeps
    *      the same eigenvectors. BIGINT bound: n·S ≤ n²·(d·x²max micros²)
    *      ≈ 1.3e18 on the fixture; DECIMAL(38,0)/HUGEINT is the
    *      documented lift past ~1e4 vectors at this magnitude.
    *   3. Power iteration on the 1-row d×d frame: u = N·v (each row a
    *      SEQUENTIAL zip-fold in index order), v ← u/√(u·u) — every
    *      float op a fixed IEEE sequence, so the whole iteration
    *      replays bit-for-bit in DuckDB's list machinery. Per-iteration
    *      localCheckpoint keeps the expression tree linear in iters.
    *
    * Output: (dim 1-based, loading, eigval = Rayleigh vᵀNv, trace =
    * Σ Nᵢᵢ exact BIGINT, var_share = eigval/trace — the explained-
    * variance fraction of the top component).
    *
    * Plan at scale: the self-join on vec_id fans each vector to d²
    * element pairs — the declarative scatter; the d×d agg shuffles only
    * the 4096-cell grid (map-side partials do the heavy summing). The
    * eigen-solve touches 1-row frames only.
    *
    * Storage hygiene (ARCHITECTURE "Iterative-operator storage
    * hygiene"): each iteration's localCheckpoint blocks are released
    * the moment the next materializes — O(1) rounds held, not
    * O(iters); the final round registers with the ambient
    * [[CacheScope]]. */
  def pcaTopComponent(corpus: DataFrame, iters: Int = 8, dim: Int = 64): DataFrame = {
    val xs = corpus.select(col("vec_id"),
      posexplode(transform(col("embedding"),
        x => round(x.cast("double") * 1000000).cast("long"))))
      .toDF("vec_id", "i", "x")
    val nRow = corpus.agg(count(lit(1)).as("n"))
    val m = xs.groupBy(col("i")).agg(sum(col("x")).as("m"))
    val scatter = xs.join(
      xs.select(col("vec_id"), col("i").as("j"), col("x").as("y")), Seq("vec_id"))
      .groupBy(col("i"), col("j")).agg(sum(col("x") * col("y")).as("sij"))
    val nij = scatter.join(broadcast(m), Seq("i"))
      .join(broadcast(m.select(col("i").as("j"), col("m").as("mj"))), Seq("j"))
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        (col("n") * col("sij") - col("m") * col("mj")).as("nij"))
    val rows = nij.groupBy(col("i")).agg(
      transform(array_sort(collect_list(struct(col("j"),
        col("nij").cast("double").as("e")))), p => p.getField("e")).as("r"))
    val mat1 = rows.select(struct(col("i"), col("r")).as("ir"))
      .agg(transform(array_sort(collect_list(col("ir"))), p => p.getField("r"))
        .as("mat"))
    val trace = nij.filter(col("i") === col("j"))
      .agg(sum(col("nij")).as("trace"))
    def matvec(v: Column): Column =
      transform(col("mat"), row =>
        aggregate(zip_with(row, v, (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
    def norm2(u: Column): Column =
      aggregate(transform(u, y => y * y), lit(0.0), (acc, x) => acc + x)
    var vf = mat1.select(col("mat"), array_repeat(lit(1.0), dim).as("v"))
      .localCheckpoint()
    // Round 17: TWO matvec+normalize rounds per checkpoint, and the norm
    // hoisted into its own projection column so it is evaluated once per
    // row instead of once per element (sqrt of the same double — the
    // per-element value is bit-identical). The old loop checkpointed
    // TWICE per iteration (u, then v) — 2·iters one-row driver jobs; now
    // ceil(iters/2). The expression tree between checkpoints stays
    // constant-bounded (at most two chained rounds over a LogicalRDD
    // leaf).
    var done = 0
    while (done < iters) {
      val k = math.min(2, iters - done)
      var cur = vf
      for (_ <- 0 until k) {
        cur = cur
          .select(col("mat"), matvec(col("v")).as("u"))
          .select(col("mat"), col("u"), sqrt(norm2(col("u"))).as("nrm"))
          .select(col("mat"),
            transform(col("u"), x => x / col("nrm")).as("v"))
      }
      val next = cur.localCheckpoint()
      CacheScope.releaseCheckpoint(vf) // previous rounds: dead once `next` materialized
      vf = next
      done += k
    }
    val lastCkpt = vf
    CacheScope.onRelease(() => CacheScope.releaseCheckpoint(lastCkpt))
    val fin = vf.select(col("v"), matvec(col("v")).as("u"))
      .select(col("v"),
        aggregate(zip_with(col("v"), col("u"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("eigval"))
    fin.select(posexplode(col("v")), col("eigval"))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("loading"),
        col("eigval"))
      .crossJoin(broadcast(trace))
      .withColumn("var_share", col("eigval") / col("trace").cast("double"))
      .orderBy(col("dim"))
  }

  /** Reciprocal-rank-fusion of two ranked retrieval lists (Cormack,
    * Clarke & Buettcher, SIGIR 2009) — the standard hybrid-search
    * combiner: a document's fused score is Σ 1/(k₀ + rankᵢ) over the
    * lists that retrieved it. Rank positions are integers and each
    * reciprocal is ONE IEEE double division, the fused score ONE
    * addition in a fixed (text, vector) operand order — bit-replicable
    * cross-engine with no float-sum ordering hazard (the reason RRF is
    * implemented here on ranks, never on raw heterogeneous scores).
    *
    * Inputs are (doc_id, rank) frames from any two rankers; a document
    * missing from one list contributes 0 from that list (COALESCE, the
    * published convention). Plan shape at scale: both inputs are
    * ALREADY top-k-truncated by their rankers (bounded, ≤ k rows each),
    * so the full-outer equi-join and the final sort-limit run on
    * k-bounded frames — the expensive work (BM25 inverted-list scoring,
    * ANN search) happened upstream in the rankers' own registered
    * 100 TB plans; fusion itself is O(k). */
  def rrfFuse(textRanks: DataFrame, vecRanks: DataFrame, k: Int,
      k0: Int = 60): DataFrame = {
    val fused = textRanks.select(col("doc_id"), col("rank").as("rank_text"))
      .join(vecRanks.select(col("doc_id"), col("rank").as("rank_vec")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_text"), col("rank_vec"),
        (coalesce(lit(1.0) / (lit(k0.toDouble) + col("rank_text").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0.toDouble) + col("rank_vec").cast("double")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(k)
    // unpartitioned window over the ALREADY-LIMITED ≤ k fused rows
    fused.withColumn("fused_rank", row_number().over(
      Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("int"))
      .select(col("fused_rank"), col("doc_id"), col("rank_text"),
        col("rank_vec"), col("rrf_score"))
  }

  /** LSH-bucketed semantic near-dup pairs — the scale path for
    * [[embeddingDupPairs]]: the all-pairs cross join becomes an equi-join
    * on sign-LSH bucket id (one side multi-probed to hamming distance 1,
    * so a pair split by a single hyperplane is still found), candidates
    * exact-cosine verified. Cost Σ bucket·probe sizes instead of n²;
    * recall is the sketch contract (a pair crossing ≥ 2 hyperplanes is
    * missed), precision exact. Each qualifying pair joins exactly once:
    * probe buckets per vector are distinct and the partner's bucket is
    * exact, so no pair dedup is needed. */
  def embeddingDupPairsLsh(corpus: DataFrame, threshold: Double,
      nBits: Int = 8, dim: Int = 64): DataFrame = {
    val cb = corpus.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), nBits, dim).as("bucket"))
    val probe = cb.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      probeSet(col("bucket"), nBits).as("bucket"))
    dupPairs(probe.join(cb.select(col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("bucket")), Seq("bucket")), threshold)
  }
}
