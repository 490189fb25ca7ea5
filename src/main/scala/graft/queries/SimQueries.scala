package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Similarity, TextOps}

/** Similarity-search family over `embeddings`: exact brute-force cosine
  * top-k (oracle-checked bit-exactly — see Similarity's sequential-fold
  * determinism contract) and the sign-LSH bucketed scale path (approximate
  * by contract → rows-only driver check). */
object SimQueries extends QueryFamily {

  private val K = 3

  private def queriesSubset(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0)

  /** BOUNDED audit panel for the sampled recall-contract registrations:
    * unlike [[queriesSubset]] (a 1-in-10 FRACTION of the corpus, so any
    * query×corpus pass grows ~n²/10 by construction), the panel is a
    * fixed deterministic id range — 200 queries at sf0.1 and at every
    * scale-up above it (ScaleUp's replicas shift keys by ~9.3e8, so only
    * replica 0 intersects the range). Query workload fixed ⇒ the ADC
    * scan and the brute-force recall pass are O(panel·n): linear in
    * corpus, the shape a production recall audit actually runs (you
    * re-audit a pinned panel per index build, not every query ever). */
  private def queriesPanel(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 2000)

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "sim_topk_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // hard-negative triplet mining (Similarity.tripletMine): per anchor
    // the nearest same-label positive + nearest different-label hard
    // negative by bit-deterministic cosine, margin = one IEEE
    // subtraction — the contrastive-training data-prep pass (ANCE);
    // brute-force candidate pass is the declared baseline, LSH-bucket
    // candidates are the registered scale sibling. Anchors are a 1-in-3
    // deterministic sample (what per-epoch mining does anyway — you
    // never re-mine every example); the LSH sibling uses the SAME
    // anchor set so the recall comparison stays aligned.
    "sim_triplet_mine" -> ((s, d) =>
      Similarity.tripletMine(Tables.embeddings(s, d),
        anchorPred = col("vec_id") % 3 === 0)
        .orderBy(col("anchor"))),

    // the registered scale sibling: the same mining argmax over LSH
    // bucket candidates (hamming-1 multi-probe, lshTopK's sequence)
    // instead of the cross join — Σ bucket² work, recall loss lands on
    // far pairs, which hard-negative mining does not want anyway.
    "sim_triplet_lsh" -> ((s, d) =>
      Similarity.tripletMineLsh(Tables.embeddings(s, d),
        anchorPred = col("vec_id") % 3 === 0)
        .orderBy(col("anchor"))),

    "sim_topk_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), queriesSubset(s, d), K,
        probeHamming = 1)
        .orderBy(col("query_id"), col("rank"))),

    // exact MIPS via the norm-augmentation reduction to cosine (the
    // recommender-retrieval primitive): one extra dimension makes every
    // corpus norm equal, so augmented-cosine order IS inner-product
    // order and any cosine ANN index serves MIPS unchanged. Oracle
    // replays the same 65-element sequential folds bit-for-bit.
    "sim_mips_topk" -> ((s, d) =>
      Similarity.mipsTopK(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // MIPS through the ACTUAL sign-LSH index — the reduction's payoff
    // and the registered 100 TB plan for inner-product retrieval: the
    // augmented vectors feed lshTopK unchanged (65-dim hyperplanes,
    // hamming-1 multi-probe). Oracle replicates buckets, probes and the
    // 65-element verify folds bit-for-bit.
    "sim_mips_lsh" -> ((s, d) =>
      Similarity.mipsTopKLsh(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // clustering-quality eval of the shared coarse quantizer: per-cell
    // member count + min/max/mean member-to-centroid cosine (integer-
    // micros mean — order-independent exact). The k-means health check
    // run before trusting an IVF layout or a SemDeDup pass.
    "sim_kmeans_stats" -> ((s, d) =>
      Similarity.kmeansStats(Tables.embeddings(s, d))
        .orderBy(col("cell"))),

    "sim_topk_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), queriesSubset(s, d), K,
        nCells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))),

    // the TUNED layout: nCells derived from the corpus count by the
    // deterministic rule max(16, n/125) — constant expected cell
    // population, so per-query probe cost stays FLAT as the corpus grows
    // (nCells 16 at sf0.1 ties to the demo layout; 160 at sf1 — the
    // SCALING.md tuned column). The oracle replicates the
    // same rule in SQL, so the row stays green at any driver scale.
    "sim_topk_ivf_tuned" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      Similarity.ivfTopK(emb, queriesSubset(s, d), K,
        nCells = math.max(16L, n / 125L).toInt, nProbe = 4,
        nRows = Some(n))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SQ8 int8-compression scoring path (4x memory), with the per-query
    // recall-vs-exact contract column oracle-checked alongside. This is
    // the ISOLATED quantization-error baseline (brute-force-shaped by
    // design); sim_topk_sq8_ivf is the scale registration.
    "sim_topk_sq8" -> ((s, d) =>
      Similarity.sq8TopK(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // SQ8 codes under the IVF cell layout — quantize → assign to cells →
    // probe nProbe cells → rank, recall contract vs the float-exact IVF
    // path at the same layout params. The registered 100 TB plan for
    // quantized ANN: centroid-partitioned everywhere, no cross join.
    // 1 Lloyd iteration on BOTH pipelines: the quantization-error
    // measurement is layout-independent as long as the two paths share
    // the layout, and one iteration halves the two-pipeline cost.
    "sim_topk_sq8_ivf" -> ((s, d) =>
      Similarity.sq8IvfTopK(Tables.embeddings(s, d), queriesSubset(s, d), K,
        nCells = 16, nProbe = 4, lloydIters = 1)
        .orderBy(col("query_id"), col("rank"))),

    // Product quantization, ADC search mode: queries float-exact, corpus
    // scored through 4-byte/vector codes (64× compression vs SQ8's 4×),
    // recall contract vs the float brute force. Brute-force-shaped BY
    // DESIGN (isolated PQ-error baseline); sim_topk_pq_ivf is the scale
    // registration.
    "sim_topk_pq" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // two-stage PQ + exact refine (FAISS IndexRefineFlat): ADC shortlist
    // of 3k per query, exact re-rank of just the shortlist — recall now
    // depends only on shortlist survival, scoring error inside it is
    // repaired; O(shortlist) raw reads per query, never O(n)
    "sim_topk_pq_refine" -> ((s, d) =>
      Similarity.pqRefineTopK(Tables.embeddings(s, d), queriesSubset(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // the registered SCALE form of pq_refine: identical two-stage
    // arithmetic and recall contract, but over the bounded audit panel
    // (queriesPanel) instead of the 1-in-10 corpus fraction — the ADC
    // shortlist pass AND the exact recall pass are then O(panel·n),
    // linear in corpus. The full-fraction form above stays registered
    // as the declared error-isolation baseline (excluded from the warm
    // scaling sweep like sim_topk_pq / sim_topk_sq8).
    "sim_topk_pq_refine_sampled" -> ((s, d) =>
      Similarity.pqRefineTopK(Tables.embeddings(s, d), queriesPanel(s, d), K)
        .orderBy(col("query_id"), col("rank"))),

    // IVF-PQ — the composition a billion-vector index ships: coarse
    // cells prune the scan, PQ codes shrink what a probed cell reads.
    // FAISS-faithful IVFADC: ONE raw-corpus-trained coarse quantizer
    // shared by both pipelines, so the recall contract isolates pure
    // PQ scoring error; centroid-partitioned, nothing O(n²).
    "sim_topk_pq_ivf" -> ((s, d) =>
      Similarity.pqIvfTopK(Tables.embeddings(s, d), queriesSubset(s, d), K,
        nCells = 16, nProbe = 4, lloydIters = 1)
        .orderBy(col("query_id"), col("rank"))),

    // IVF-PQ + exact refine — the COMPLETE production stack (FAISS
    // IndexIVFPQ inside IndexRefineFlat): coarse cells prune, PQ codes
    // shrink the probed read 64x, a 3k-shortlist exact re-rank repairs
    // in-shortlist scoring error. Recall contract vs the float-exact
    // scan of the SAME probed cells isolates the one unrepairable
    // error: true neighbors PQ scored out of the shortlist. Everything
    // centroid-partitioned or id-keyed; nothing O(n²).
    "sim_topk_pq_ivf_refine" -> ((s, d) =>
      Similarity.pqIvfRefineTopK(Tables.embeddings(s, d), queriesSubset(s, d),
        K, nCells = 16, nProbe = 4, lloydIters = 1)
        .orderBy(col("query_id"), col("rank"))),

    // feature-hashed document similarity: the hashing-trick vectors
    // (TextOps.hashVectors — vocabulary-free 32-dim signed counts)
    // bridge documents into the ANN surface; exact top-3 per query doc.
    // Integer counts → bit-replicable cosines, like sim_behavior_topk.
    // Query side bounded (doc_id < 50); at scale the same (vec_id,
    // embedding) frame feeds lshTopK/ivfTopK unchanged — the bucketed
    // paths are the 100 TB registration, this is their exact baseline.
    "sim_doc_hash_topk" -> ((s, d) => {
      val vecs = graft.operators.TextOps.hashVectors(Tables.documents(s, d))
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 50), K)
        .orderBy(col("query_id"), col("rank"))
    }),

    // behavioral similarity search (the EDBT/ICDE time-series-similarity
    // shape on this engine's own domain): per-user hour-of-day activity
    // vectors → exact top-3 most-similar users per query user. Counts
    // are exact integers, so the double vectors and every cosine are
    // bit-replicable in the oracle.
    "sim_behavior_topk" -> ((s, d) => {
      val vecs = graft.operators.Behavior
        .hourlyActivityVectors(Tables.events(s, d))
        .select(col("user_id").as("vec_id"), col("v").as("embedding"))
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 100), K)
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_label_centroid_norm" -> ((s, d) =>
      // per-label mean-vector norm: exercises vector aggregation
      // (zip_with-free: posexplode + groupBy position)
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        // per-element exact integer micros BEFORE summing: double sums are
        // order-dependent, long sums are exact
        .agg(sum(round(col("x").cast("double") * 1000000).cast("long")).as("sum_micros"),
          count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("dims"), sum(col("sum_micros")).as("sum_all_micros"))
        .orderBy(col("label"))),

    // ingest screen for the embedding column: norm-distribution histogram
    // + zero-vector count (a zero vector NaN-poisons every cosine
    // downstream — catch it at the door, not in the ANN results). Norm²
    // in exact integer micros² (order-independent), then ONE fixed
    // sqrt/floor IEEE sequence for the bucket — engine-exact. Narrow
    // per-row transform + tiny groupBy: no shuffle wider than the
    // histogram.
    "sim_norm_profile" -> ((s, d) => {
      val m2 = aggregate(
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000).cast("long")),
        lit(0L), (acc, v) => acc + v * v)
      Tables.embeddings(s, d)
        .select(col("vec_id"), m2.as("m2"))
        .select(
          floor(sqrt(col("m2").cast("double")) / 100000.0).cast("long").as("bucket"),
          col("m2"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("m2") === 0, 1L).otherwise(0L)).as("n_zero"))
        .orderBy(col("bucket"))
    }),

    // distributed PCA: leading component of the embedding corpus via
    // EXACT integer scatter (one pass, order-independent BIGINT second
    // moments — no float-sum nondeterminism) + 8 deterministic power
    // iterations on the 1-row 64×64 frame. Every float op after the
    // exact moments is a fixed IEEE sequence, so the whole eigen-solve
    // replays bit-for-bit in the oracle's unrolled list machinery.
    "sim_pca_power" -> ((s, d) =>
      Similarity.pcaTopComponent(Tables.embeddings(s, d), iters = 8)),

    // HYBRID retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    // the BM25 text ranker with the embedding-cosine vector ranker over
    // the SAME corpus (doc_id ≡ vec_id in the fixture) — the standard
    // RAG-era search stack. Both rankers run their own registered plans
    // (inverted-list BM25, brute-force cosine with the LSH/IVF variants
    // as the indexed scale path); fusion is an O(k) join on the two
    // truncated top-50 lists. Scores are rank-reciprocals — one IEEE
    // division + one addition in fixed operand order, bit-portable.
    "sim_rrf_hybrid" -> ((s, d) => {
      val text = TextOps.bm25TopK(Tables.documents(s, d),
        Seq("spark", "join", "hash"), 50).select(col("doc_id"), col("rank"))
      val vec = Similarity.bruteForceTopK(Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") === 0), 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(text, vec, 20).orderBy(col("fused_rank"))
    }),
  )

  /** The cosine expression the brute-force oracle already matches
    * bit-exactly: three independent sequential list folds over double-cast
    * elements — the same IEEE operation sequence as the native kernel. */
  private[queries] def cosineSql(qv: String, v: String): String =
    s"""list_reduce(list_transform($qv, (x,i) -> x * $v[i]), (x,y) -> x + y) /
       |    (sqrt(list_reduce(list_transform($qv, x -> x*x), (x,y) -> x + y)) *
       |     sqrt(list_reduce(list_transform($v, x -> x*x), (x,y) -> x + y)))""".stripMargin

  /** The sign-LSH hyperplanes as DuckDB literal rows `(b, h)`. The Scala
    * shortest-round-trip double repr parses back to the identical bits in
    * DuckDB's correctly-rounded strtod, so both engines bucket with the
    * exact same constants. */
  private[queries] def planesSql(nBits: Int = 8, dim: Int = 64): String =
    graft.operators.Similarity.hyperplanes(nBits, dim).zipWithIndex
      .map { case (p, b) =>
        p.map(java.lang.Double.toString).mkString(s"($b, [", ", ", "])")
      }
      .mkString("(VALUES ", ", ", ") p(b, h)")

  /** Bit-exact DuckDB replica of [[graft.operators.Similarity.lshTopK]]
    * (nBits=8, probeHamming=1, k=3): every per-row double op is a fixed
    * IEEE sequence and the bucket id is an integer, so buckets, candidate
    * sets, cosines and the (cosine DESC, neighbor_id) tie-break all agree
    * with the engine exactly. */
  private def lshOracleSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |planes AS (SELECT * FROM ${planesSql()}),
       |buck AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT e.vec_id, p.b,
       |      list_reduce(list_transform(e.v, (x,i) -> x * p.h[i]), (x,y) -> x + y) AS dot
       |    FROM e CROSS JOIN planes p) d
       |  GROUP BY vec_id),
       |qprobe AS (
       |  SELECT vec_id AS query_id,
       |    CASE WHEN pb < 0 THEN bucket ELSE xor(bucket, (CAST(1 AS BIGINT) << pb)) END AS bucket
       |  FROM buck CROSS JOIN (SELECT unnest(range(-1, 8)) AS pb) r
       |  WHERE vec_id % 10 = 0),
       |pair AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ${cosineSql("eq.v", "en.v")} AS cosine
       |  FROM qprobe q
       |  JOIN buck c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
       |  JOIN e eq ON eq.vec_id = q.query_id
       |  JOIN e en ON en.vec_id = c.vec_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM pair) r
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The full IVF pipeline (deterministic strided init → `iters` Lloyd
    * iterations in integer-micros fixed point → final assign → nProbe=4
    * probe → k=3 rank) as prefixed CTE clauses over `$base(vec_id, v)` —
    * a bit-exact DuckDB replica of [[graft.operators.Similarity.ivfTopK]]
    * (nCells=16, nProbe=4, k=3). Centroid updates are
    * order-independent long sums, so the iterative refinement is exactly
    * reproducible; every double op (cosine, the micros→double division)
    * is a fixed IEEE sequence. Emits `${p}tk(query_id, neighbor_id,
    * cosine, rank)`. Shared by the float (`sim_topk_ivf`, 2 iterations)
    * and quantized (`sim_topk_sq8_ivf`, 1 iteration on BOTH of its
    * pipelines) oracles, which otherwise differ ONLY in `base`. */
  // the CASE mirrors the engine's NaN→-2.0 sentinel in ivfTopK's assign
  // (see Similarity.scala): without it a zero-norm vector's NaN cosine
  // would rank FIRST here (DuckDB orders NaN above everything) but lose
  // in Spark's struct-min argmax — a silent desynchronization
  private def ivfAssignSql(base: String, cents: String): String =
    s"""SELECT vec_id, v, cell FROM (
       |  SELECT vec_id, v, cell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY (CASE WHEN isnan(cos0) THEN -2.0 ELSE cos0 END) DESC, cell) AS rn
       |  FROM (SELECT e.vec_id, e.v, c.cell, ${cosineSql("e.v", "c.cv")} AS cos0 FROM $base e CROSS JOIN $cents c) x) s WHERE rn = 1""".stripMargin

  private def ivfMeansSql(assigned: String): String =
    s"""SELECT cell, list(m ORDER BY pos) AS cv FROM (
       |  SELECT cell, pos, CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS m
       |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $assigned) u
       |  GROUP BY cell, pos) g
       |GROUP BY cell""".stripMargin

  /** The shared coarse-quantizer pipeline (strided init → `iters` Lloyd
    * rounds in integer micros → final assignment) as CTE clauses over
    * `$base(vec_id, v)`, ending with `${p}af(vec_id, v, cell)` — the
    * bit-exact DuckDB replica of Similarity's ivfCentroids+ivfAssign,
    * reused by every IVF-layout oracle (top-k variants AND SemDeDup). */
  private[queries] def ivfAssignCtes(p: String, base: String,
      iters: Int = 2, nCellsSql: String = "16"): String = {
    val lloyd = (1 to iters).map { i =>
      s"""${p}a$i AS (${ivfAssignSql(base, s"${p}c${i - 1}")}),
         |${p}c$i AS (${ivfMeansSql(s"${p}a$i")}),""".stripMargin
    }.mkString("\n")
    // nCellsSql is an aggregate expression over $base (default the demo
    // literal 16; the tuned registration derives it from COUNT(*)) —
    // evaluated once in params and joined where the init needs it
    s"""${p}params AS (SELECT GREATEST(1, COUNT(*) // ($nCellsSql)) AS stride, ($nCellsSql) AS ncells FROM $base),
       |${p}c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cell, v AS cv
       |  FROM $base, ${p}params WHERE vec_id % stride = 0
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= ncells),
       |$lloyd
       |${p}af AS (${ivfAssignSql(base, s"${p}c$iters")})""".stripMargin
  }

  private def ivfCtesSql(p: String, base: String, iters: Int = 2,
      nCellsSql: String = "16"): String = {
    val cFinal = s"${p}c$iters"
    s"""${ivfAssignCtes(p, base, iters, nCellsSql)},
       |${p}probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${cosineSql("e.v", "c.cv")} DESC, c.cell) AS rn
       |    FROM $base e CROSS JOIN $cFinal c WHERE e.vec_id % 10 = 0) s
       |  WHERE rn <= 4),
       |${p}pair AS (
       |  SELECT pr.query_id, af.vec_id AS neighbor_id,
       |    ${cosineSql("eq.v", "af.v")} AS cosine
       |  FROM ${p}probes pr
       |  JOIN ${p}af af ON af.cell = pr.cell AND af.vec_id <> pr.query_id
       |  JOIN $base eq ON eq.vec_id = pr.query_id),
       |${p}tk AS (
       |  SELECT query_id, neighbor_id, cosine, rank FROM (
       |    SELECT query_id, neighbor_id, cosine,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM ${p}pair) r
       |  WHERE rank <= 3)""".stripMargin
  }

  /** The PQ pipeline (16-dim subspaces, 16 codewords each, deterministic
    * strided init → 1 Lloyd iteration in integer micros → final assign →
    * codeword concatenation) as CTE clauses over `$base(vec_id, v)` — a
    * bit-exact DuckDB replica of
    * [[graft.operators.Similarity.pqDequantized]]. Emits `epq(vec_id,
    * v)`. Subvectors are built by EXPLODING `v` (not list slicing) so a
    * zero-length embedding vanishes here exactly as it does from the
    * engine's posexplode. */
  private def pqCtesSql(base: String): String = {
    def assignSql(cb: String): String =
      s"""SELECT vec_id, sub, sv, code FROM (
         |  SELECT p.vec_id, p.sub, p.sv, c.code,
         |    ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.sub ORDER BY
         |      list_reduce(list_transform(p.sv, (x,i) -> (x - c.cw[i]) * (x - c.cw[i])), (a,b) -> a + b) ASC, c.code ASC) AS rn
         |  FROM psub p JOIN $cb c USING (sub)) t WHERE rn = 1""".stripMargin
    s"""psub AS (
       |  SELECT vec_id, (i - 1) // 16 AS sub, list(x ORDER BY i) AS sv
       |  FROM (SELECT vec_id, i, v[i] AS x FROM $base, UNNEST(range(1, len(v) + 1)) u(i)) z
       |  GROUP BY 1, 2),
       |pqpar AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM $base),
       |pqsamp AS (
       |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS code
       |  FROM $base, pqpar WHERE vec_id % stride = 0
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
       |pqcb0 AS (SELECT psub.sub, pqsamp.code, psub.sv AS cw FROM psub JOIN pqsamp USING (vec_id)),
       |pqas0 AS (${assignSql("pqcb0")}),
       |pqcb1 AS (
       |  SELECT sub, code, list(m ORDER BY pos) AS cw FROM (
       |    SELECT sub, code, pos, CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS m
       |    FROM (SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM pqas0) u
       |    GROUP BY sub, code, pos) g
       |  GROUP BY sub, code),
       |pqasf AS (${assignSql("pqcb1")}),
       |epq AS (
       |  SELECT vec_id, flatten(list(cw ORDER BY sub)) AS v
       |  FROM (SELECT a.vec_id, a.sub, c.cw FROM pqasf a JOIN pqcb1 c USING (sub, code)) j
       |  GROUP BY vec_id)""".stripMargin
  }

  /** Bit-exact replica of [[graft.operators.Similarity.pqTopK]]: ADC —
    * float queries scored against PQ-reconstructed corpus vectors, with
    * the recall contract vs the float-exact brute-force top-k. */
  private def pqOracleSql: String =
    s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pqCtesSql("ef")},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM ef WHERE vec_id % 10 = 0),
       |p2 AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, ${cosineSql("qv", "c.v")} AS qcos
       |  FROM q CROSS JOIN epq c WHERE query_id <> c.vec_id),
       |tk AS (SELECT query_id, neighbor_id, qcos, rank FROM (
       |  SELECT query_id, neighbor_id, qcos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
       |  FROM p2) r WHERE rank <= 3),
       |ep AS (
       |  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosineSql("q2.v", "c.v")} AS cosine
       |  FROM (SELECT * FROM ef WHERE vec_id % 10 = 0) q2 CROSS JOIN ef c WHERE q2.vec_id <> c.vec_id),
       |etk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM ep) r WHERE rank <= 3),
       |rec AS (SELECT tk.query_id, COUNT(etk.neighbor_id) AS n_hit
       |        FROM tk LEFT JOIN etk USING (query_id, neighbor_id) GROUP BY tk.query_id)
       |SELECT tk.query_id, tk.rank, tk.neighbor_id, tk.qcos, CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
       |FROM tk JOIN rec USING (query_id) ORDER BY tk.query_id, tk.rank""".stripMargin

  /** Bit-exact replica of [[graft.operators.Similarity.pqRefineTopK]]:
    * the same PQ CTEs build the ADC shortlist (3k per query, (adc DESC,
    * neighbor) order), then the shortlist alone is re-scored float-exact
    * and cut to top-k — identical two-stage arithmetic, identical
    * recall contract vs the full brute force. */
  private def pqRefineOracleSql(panelSql: String = "vec_id % 10 = 0"): String =
    s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pqCtesSql("ef")},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM ef WHERE $panelSql),
       |ap AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, ${cosineSql("qv", "c.v")} AS adc_cos
       |  FROM q CROSS JOIN epq c WHERE query_id <> c.vec_id),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS srank
       |  FROM ap) r WHERE srank <= 9),
       |rf AS (
       |  SELECT sl.query_id, sl.neighbor_id, ${cosineSql("q.qv", "c.v")} AS qcos
       |  FROM sl JOIN q USING (query_id) JOIN ef c ON c.vec_id = sl.neighbor_id),
       |tk AS (SELECT query_id, neighbor_id, qcos, rank FROM (
       |  SELECT query_id, neighbor_id, qcos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
       |  FROM rf) r WHERE rank <= 3),
       |ep AS (
       |  SELECT q2.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosineSql("q2.v", "c.v")} AS cosine
       |  FROM (SELECT * FROM ef WHERE $panelSql) q2 CROSS JOIN ef c WHERE q2.vec_id <> c.vec_id),
       |etk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM ep) r WHERE rank <= 3),
       |rec AS (SELECT tk.query_id, COUNT(etk.neighbor_id) AS n_hit
       |        FROM tk LEFT JOIN etk USING (query_id, neighbor_id) GROUP BY tk.query_id)
       |SELECT tk.query_id, tk.rank, tk.neighbor_id, tk.qcos, CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
       |FROM tk JOIN rec USING (query_id) ORDER BY tk.query_id, tk.rank""".stripMargin

  /** Bit-exact replica of [[graft.operators.Similarity.pqIvfTopK]],
    * FAISS-faithful IVFADC: ONE coarse quantizer trained on the raw
    * vectors (`ivfCtesSql("x", "ef")` — its `xaf` assignment and
    * `xprobes` probe list are shared), the approx side re-scoring the
    * SAME probed cells through the PQ reconstructions (`epq` joined by
    * vec_id), the exact side being `xtk` itself. Identical cells
    * scanned on both sides → recall isolates pure PQ scoring error.
    * A vector the PQ explode drops (empty embedding) vanishes from the
    * approx side via the inner `epq` join, exactly as the engine's
    * id-keyed reconstruction join drops it. Nothing O(n²). */
  private def pqIvfOracleSql: String =
    s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pqCtesSql("ef")},
       |${ivfCtesSql("x", "ef", iters = 1)},
       |apair AS (
       |  SELECT pr.query_id, af.vec_id AS neighbor_id,
       |    ${cosineSql("eq.v", "pq.v")} AS qcos
       |  FROM xprobes pr
       |  JOIN xaf af ON af.cell = pr.cell AND af.vec_id <> pr.query_id
       |  JOIN epq pq ON pq.vec_id = af.vec_id
       |  JOIN ef eq ON eq.vec_id = pr.query_id),
       |atk AS (SELECT query_id, neighbor_id, qcos, rank FROM (
       |  SELECT query_id, neighbor_id, qcos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
       |  FROM apair) r WHERE rank <= 3),
       |rec AS (SELECT atk.query_id, COUNT(xtk.neighbor_id) AS n_hit
       |        FROM atk LEFT JOIN xtk USING (query_id, neighbor_id) GROUP BY atk.query_id)
       |SELECT atk.query_id, atk.rank, atk.neighbor_id, atk.qcos,
       |  CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
       |FROM atk JOIN rec USING (query_id) ORDER BY atk.query_id, atk.rank""".stripMargin

  /** Bit-exact replica of [[graft.operators.Similarity.pqIvfRefineTopK]]:
    * the `pqIvfOracleSql` ADC pair over the shared probed cells feeds a
    * 3k shortlist ((adc DESC, neighbor) order), the shortlist alone is
    * re-scored float-exact (the `pqRefineOracleSql` refine tail), and
    * recall joins against `xtk` — the float-exact top-k of the SAME
    * probed cells. */
  private def pqIvfRefineOracleSql: String =
    s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pqCtesSql("ef")},
       |${ivfCtesSql("x", "ef", iters = 1)},
       |apair AS (
       |  SELECT pr.query_id, af.vec_id AS neighbor_id,
       |    ${cosineSql("eq.v", "pq.v")} AS adc_cos
       |  FROM xprobes pr
       |  JOIN xaf af ON af.cell = pr.cell AND af.vec_id <> pr.query_id
       |  JOIN epq pq ON pq.vec_id = af.vec_id
       |  JOIN ef eq ON eq.vec_id = pr.query_id),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS srank
       |  FROM apair) r WHERE srank <= 9),
       |rf AS (
       |  SELECT sl.query_id, sl.neighbor_id, ${cosineSql("eq.v", "c.v")} AS qcos
       |  FROM sl JOIN ef eq ON eq.vec_id = sl.query_id JOIN ef c ON c.vec_id = sl.neighbor_id),
       |tk AS (SELECT query_id, neighbor_id, qcos, rank FROM (
       |  SELECT query_id, neighbor_id, qcos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
       |  FROM rf) r WHERE rank <= 3),
       |rec AS (SELECT tk.query_id, COUNT(xtk.neighbor_id) AS n_hit
       |        FROM tk LEFT JOIN xtk USING (query_id, neighbor_id) GROUP BY tk.query_id)
       |SELECT tk.query_id, tk.rank, tk.neighbor_id, tk.qcos, CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
       |FROM tk JOIN rec USING (query_id) ORDER BY tk.query_id, tk.rank""".stripMargin

  private def ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${ivfCtesSql("", "e")}
       |SELECT query_id, rank, neighbor_id, cosine FROM tk ORDER BY query_id, rank""".stripMargin

  /** The TUNED-layout IVF oracle: identical pipeline, but `nCells` is the
    * deterministic corpus-count rule `max(16, n/125)` (constant expected
    * cell population ~125 — FAISS-style sizing)
    * replicated inside the SQL, so the oracle holds at ANY scale the
    * driver runs it. */
  private def ivfTunedOracleSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${ivfCtesSql("", "e", nCellsSql = "GREATEST(16, COUNT(*) // 125)")}
       |SELECT query_id, rank, neighbor_id, cosine FROM tk ORDER BY query_id, rank""".stripMargin

  /** Bit-exact replica of [[graft.operators.Similarity.sq8IvfTopK]]: the
    * identical SQ8 reconstruction as the `sim_topk_sq8` oracle feeds the
    * identical IVF pipeline as the `sim_topk_ivf` oracle; the recall
    * contract joins against the float-exact IVF top-k (same layout
    * params), not a brute-force pass — nothing here is O(n²). */
  private def sq8IvfOracleSql: String =
    s"""WITH ef AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |xs0 AS (SELECT vec_id, i AS pos, v[i] AS x FROM ef, UNNEST(range(1, len(v) + 1)) u(i)),
       |st0 AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM xs0 GROUP BY pos),
       |dq0 AS (SELECT vec_id, pos, CASE WHEN mx = mn THEN mn ELSE mn + FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5) * (mx - mn) / 255.0 END AS xh FROM xs0 JOIN st0 USING (pos)),
       |edq AS (SELECT vec_id, list(xh ORDER BY pos) AS v FROM dq0 GROUP BY vec_id),
       |${ivfCtesSql("q", "edq", iters = 1)},
       |${ivfCtesSql("x", "ef", iters = 1)},
       |rec AS (SELECT qtk.query_id, COUNT(xtk.neighbor_id) AS n_hit
       |        FROM qtk LEFT JOIN xtk USING (query_id, neighbor_id) GROUP BY qtk.query_id)
       |SELECT qtk.query_id, qtk.rank, qtk.neighbor_id, qtk.cosine AS qcos,
       |  CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
       |FROM qtk JOIN rec USING (query_id) ORDER BY qtk.query_id, qtk.rank""".stripMargin

  val oracles: ListMap[String, String] = ListMap(
    // identical sequential cosine folds, identical (cosine DESC, cand)
    // argmax per (anchor, same-label?) side, one IEEE margin subtraction
    "sim_triplet_mine" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS anchor, b.vec_id AS cand, a.label = b.label AS same,
        |    list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id % 3 = 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor, same ORDER BY cosine DESC, cand) AS rn FROM p)
        |SELECT anchor,
        |  MAX(CASE WHEN same THEN cand END) AS pos_id,
        |  MAX(CASE WHEN same THEN cosine END) AS pos_cos,
        |  MAX(CASE WHEN NOT same THEN cand END) AS neg_id,
        |  MAX(CASE WHEN NOT same THEN cosine END) AS neg_cos,
        |  MAX(CASE WHEN same THEN cosine END) - MAX(CASE WHEN NOT same THEN cosine END) AS margin
        |FROM r WHERE rn = 1 GROUP BY anchor ORDER BY anchor""".stripMargin,
    // identical literal hyperplanes + bucket ids + hamming-1 probe
    // sequence as the sim_topk_lsh oracle, then the identical
    // argmax/margin tail over the bucket candidate set
    "sim_triplet_lsh" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |planes AS (SELECT * FROM ${planesSql()}),
         |buck AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (
         |    SELECT e.vec_id, p.b,
         |      list_reduce(list_transform(e.v, (x,i) -> x * p.h[i]), (x,y) -> x + y) AS dot
         |    FROM e CROSS JOIN planes p) d
         |  GROUP BY vec_id),
         |aprobe AS (
         |  SELECT vec_id AS anchor,
         |    CASE WHEN pb < 0 THEN bucket ELSE xor(bucket, (CAST(1 AS BIGINT) << pb)) END AS bucket
         |  FROM buck CROSS JOIN (SELECT unnest(range(-1, 8)) AS pb) r
         |  WHERE vec_id % 3 = 0),
         |p AS (
         |  SELECT q.anchor, c.vec_id AS cand, ea.label = ec.label AS same,
         |    ${cosineSql("ea.v", "ec.v")} AS cosine
         |  FROM aprobe q
         |  JOIN buck c ON q.bucket = c.bucket AND q.anchor <> c.vec_id
         |  JOIN e ea ON ea.vec_id = q.anchor
         |  JOIN e ec ON ec.vec_id = c.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor, same ORDER BY cosine DESC, cand) AS rn FROM p)
         |SELECT anchor,
         |  MAX(CASE WHEN same THEN cand END) AS pos_id,
         |  MAX(CASE WHEN same THEN cosine END) AS pos_cos,
         |  MAX(CASE WHEN NOT same THEN cand END) AS neg_id,
         |  MAX(CASE WHEN NOT same THEN cosine END) AS neg_cos,
         |  MAX(CASE WHEN same THEN cosine END) - MAX(CASE WHEN NOT same THEN cosine END) AS margin
         |FROM r WHERE rn = 1 GROUP BY anchor ORDER BY anchor""".stripMargin,
    "sim_topk_bruteforce" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |    list_reduce(list_transform(qv, (x,i) -> x * v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM q CROSS JOIN e WHERE query_id <> e.vec_id)
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM p) r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // identical SQ8 reconstruction (min/max per dim, 256 levels, fixed
    // IEEE sequence) + the brute-force cosine/rank shape on the
    // dequantized vectors; recall joins against the float-exact top-k
    "sim_topk_sq8" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |xs AS (SELECT vec_id, i AS pos, v[i] AS x FROM e, UNNEST(range(1, len(v) + 1)) u(i)),
        |st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM xs GROUP BY pos),
        |dq AS (SELECT vec_id, pos, CASE WHEN mx = mn THEN mn ELSE mn + FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5) * (mx - mn) / 255.0 END AS xh FROM xs JOIN st USING (pos)),
        |qv AS (SELECT vec_id, list(xh ORDER BY pos) AS v FROM dq GROUP BY vec_id),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(q.v, (x,i) -> x * c.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(q.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(c.v, x -> x*x), (x,y) -> x + y))) AS qcos
        |  FROM (SELECT * FROM qv WHERE vec_id % 10 = 0) q CROSS JOIN qv c WHERE q.vec_id <> c.vec_id),
        |tk AS (SELECT query_id, neighbor_id, qcos, rank FROM (
        |  SELECT query_id, neighbor_id, qcos,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
        |  FROM p) r WHERE rank <= 3),
        |ep AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(q.v, (x,i) -> x * c.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(q.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(c.v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM (SELECT * FROM e WHERE vec_id % 10 = 0) q CROSS JOIN e c WHERE q.vec_id <> c.vec_id),
        |etk AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM ep) r WHERE rank <= 3),
        |rec AS (SELECT tk.query_id, COUNT(etk.neighbor_id) AS n_hit
        |        FROM tk LEFT JOIN etk USING (query_id, neighbor_id) GROUP BY tk.query_id)
        |SELECT tk.query_id, tk.rank, tk.neighbor_id, tk.qcos, CAST(n_hit AS DOUBLE) / 3 AS recall_at_k
        |FROM tk JOIN rec USING (query_id) ORDER BY tk.query_id, tk.rank""".stripMargin,
    // identical 40-bit md5 token hashes (coord = h mod 32, sign = parity
    // of the next bit), vectors via a docs×coords grid left-joined to
    // the signed counts; cosine/rank mirrors the brute-force oracle
    "sim_doc_hash_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |hs AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 10))::BIGINT AS h FROM tok),
         |cj AS (SELECT doc_id, CAST(h % 32 AS INT) AS j, CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END AS s FROM hs),
         |cnt AS (SELECT doc_id, j, CAST(SUM(s) AS BIGINT) AS c FROM cj GROUP BY 1, 2),
         |docsl AS (SELECT DISTINCT doc_id FROM documents),
         |grid AS (SELECT d.doc_id, CAST(r.i AS INT) AS j FROM docsl d, (SELECT unnest(range(0, 32)) AS i) r),
         |v AS (SELECT g.doc_id AS vec_id, list(CAST(COALESCE(cnt.c, 0) AS DOUBLE) ORDER BY g.j) AS v
         |      FROM grid g LEFT JOIN cnt ON cnt.doc_id = g.doc_id AND cnt.j = g.j GROUP BY 1),
         |p AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, ${cosineSql("q.v", "b.v")} AS cosine
         |      FROM v q CROSS JOIN v b WHERE q.vec_id < 50 AND q.vec_id <> b.vec_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM p) r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // dense 24-dim hour vectors via a users×hours grid left-joined to the
    // (user, hour) counts; the cosine/rank shape mirrors the brute-force
    // oracle exactly
    "sim_behavior_topk" ->
      s"""WITH hc AS (SELECT user_id, CAST(strftime(ts, '%H') AS INT) AS h, COUNT(*) AS c FROM events GROUP BY 1, 2),
         |u AS (SELECT DISTINCT user_id FROM events),
         |grid AS (SELECT u.user_id, CAST(r.i AS INT) AS h FROM u, (SELECT unnest(range(0, 24)) AS i) r),
         |v AS (SELECT g.user_id, list(CAST(COALESCE(hc.c, 0) AS DOUBLE) ORDER BY g.h) AS v
         |      FROM grid g LEFT JOIN hc ON hc.user_id = g.user_id AND hc.h = g.h GROUP BY g.user_id),
         |p AS (
         |  SELECT q.user_id AS query_id, b.user_id AS neighbor_id,
         |    ${cosineSql("q.v", "b.v")} AS cosine
         |  FROM v q CROSS JOIN v b
         |  WHERE q.user_id < 100 AND q.user_id <> b.user_id)
         |SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM p) r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // approximate by CONTRACT (recall < 1 vs brute force, asserted in
    // SimilaritySpec) but deterministic by CONSTRUCTION — the oracle
    // replicates the full algorithm bit-for-bit instead of settling for a
    // rows-only check
    "sim_topk_lsh" -> lshOracleSql,
    // same augmentation, same sequential folds: M² over the
    // sum-of-squares fold, x̃ = x ++ [√(M²−‖x‖²)], q̃ = q ++ [0], ranked
    // by the 65-element augmented cosine with neighbor_id tiebreak
    "sim_mips_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (x,y) -> x + y) AS ns FROM e),
         |m AS (SELECT MAX(ns) AS m2 FROM n),
         |c AS (SELECT vec_id AS neighbor_id, v AS nv, list_append(v, sqrt(m2 - ns)) AS nav FROM n, m),
         |q AS (SELECT vec_id AS query_id, v AS qv, list_append(v, CAST(0.0 AS DOUBLE)) AS qav FROM n WHERE vec_id % 10 = 0),
         |p AS (
         |  SELECT query_id, neighbor_id,
         |    list_reduce(list_transform(qv, (x,i) -> x * nv[i]), (x,y) -> x + y) AS ip,
         |    list_reduce(list_transform(qav, (x,i) -> x * nav[i]), (x,y) -> x + y) /
         |    (sqrt(list_reduce(list_transform(qav, x -> x*x), (x,y) -> x + y)) *
         |     sqrt(list_reduce(list_transform(nav, x -> x*x), (x,y) -> x + y))) AS aug_cosine
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
         |SELECT query_id, rank, neighbor_id, ip, aug_cosine FROM (
         |  SELECT query_id, neighbor_id, ip, aug_cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY aug_cosine DESC, neighbor_id) AS rank
         |  FROM p) r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // the same augmentation bucketed by the 65-dim planes: corpus
    // buckets off [x, √(M²−‖x‖²)], query buckets off [q, 0], hamming-1
    // multi-probe, exact augmented-cosine verify within buckets
    "sim_mips_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> x*x), (x,y) -> x + y) AS ns FROM e),
         |m AS (SELECT MAX(ns) AS m2 FROM n),
         |av AS (SELECT vec_id, list_append(v, sqrt(m2 - ns)) AS v FROM n, m),
         |qv AS (SELECT vec_id, list_append(v, CAST(0.0 AS DOUBLE)) AS v FROM n WHERE vec_id % 10 = 0),
         |planes AS (SELECT * FROM ${planesSql(8, 65)}),
         |cbuck AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT av.vec_id, p.b,
         |          list_reduce(list_transform(av.v, (x,i) -> x * p.h[i]), (x,y) -> x + y) AS dot
         |        FROM av CROSS JOIN planes p) d GROUP BY vec_id),
         |qbuck AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM (SELECT qv.vec_id, p.b,
         |          list_reduce(list_transform(qv.v, (x,i) -> x * p.h[i]), (x,y) -> x + y) AS dot
         |        FROM qv CROSS JOIN planes p) d GROUP BY vec_id),
         |qprobe AS (
         |  SELECT vec_id AS query_id,
         |    CASE WHEN pb < 0 THEN bucket ELSE xor(bucket, (CAST(1 AS BIGINT) << pb)) END AS bucket
         |  FROM qbuck CROSS JOIN (SELECT unnest(range(-1, 8)) AS pb) r),
         |pair AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${cosineSql("eq.v", "en.v")} AS aug_cosine
         |  FROM qprobe q
         |  JOIN cbuck c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
         |  JOIN qv eq ON eq.vec_id = q.query_id
         |  JOIN av en ON en.vec_id = c.vec_id)
         |SELECT query_id, rank, neighbor_id, aug_cosine FROM (
         |  SELECT query_id, neighbor_id, aug_cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY aug_cosine DESC, neighbor_id) AS rank
         |  FROM pair) r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // shared coarse-quantizer CTEs + one cell-keyed aggregate; the NaN
    // sentinel and the integer-micros mean mirror the engine exactly
    "sim_kmeans_stats" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${ivfAssignCtes("", "e")},
         |sims AS (
         |  SELECT af.cell, (CASE WHEN isnan(cos0) THEN -2.0 ELSE cos0 END) AS cos
         |  FROM (SELECT af.cell, ${cosineSql("af.v", "c.cv")} AS cos0
         |        FROM af JOIN c2 c USING (cell)) af)
         |SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_members,
         |  MIN(cos) AS min_cosine, MAX(cos) AS max_cosine,
         |  CAST(SUM(CAST(ROUND(cos * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_cos_micros,
         |  CAST(SUM(CAST(ROUND(cos * 1000000.0) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_cosine
         |FROM sims GROUP BY cell ORDER BY cell""".stripMargin,
    "sim_topk_ivf" -> ivfOracleSql,
    "sim_topk_ivf_tuned" -> ivfTunedOracleSql,
    "sim_topk_sq8_ivf" -> sq8IvfOracleSql,
    "sim_topk_pq" -> pqOracleSql,
    "sim_topk_pq_refine" -> pqRefineOracleSql(),
    // identical replica over the bounded audit panel — only the query
    // predicate differs (see queriesPanel)
    "sim_topk_pq_refine_sampled" ->
      pqRefineOracleSql("vec_id % 10 = 0 AND vec_id < 2000"),
    "sim_topk_pq_ivf" -> pqIvfOracleSql,
    "sim_topk_pq_ivf_refine" -> pqIvfRefineOracleSql,
    "sim_label_centroid_norm" ->
      """SELECT label, COUNT(*) AS dims, CAST(SUM(sum_micros) AS BIGINT) AS sum_all_micros FROM (
        |  SELECT label, pos, CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |  FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM embeddings) u
        |  GROUP BY label, pos) g
        |GROUP BY label ORDER BY label""".stripMargin,
    // total over empty embeddings: two-arg list_reduce ERRORS on an empty
    // list while the engine's aggregate(...) returns its 0L seed — the
    // CASE keeps the oracle defined (m2 = 0) on exactly the zero/garbage
    // vector class this ingest screen exists to catch
    "sim_norm_profile" ->
      """WITH n AS (
        |  SELECT vec_id,
        |    CASE WHEN len(embedding) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    list_reduce(
        |      list_transform(
        |        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
        |        v -> v * v),
        |      (a, b) -> a + b) END AS m2
        |  FROM embeddings)
        |SELECT CAST(FLOOR(sqrt(CAST(m2 AS DOUBLE)) / 100000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN m2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM n GROUP BY bucket ORDER BY bucket""".stripMargin,
    // exact-integer scatter + the 8 power iterations UNROLLED (the
    // txt_bpe_train replay-chain precedent): each uₖ/vₖ pair replays the
    // engine's zip-fold matvec and x/√(u·u) normalization with identical
    // 0.0-seeded position-ordered folds
    "sim_pca_power" -> {
      val iters = (1 to 8).map { k =>
        s"""u$k AS (SELECT list_transform(mat, row -> list_reduce(list_prepend(0.0, list_transform(row, (e, ji) -> e * v[ji])), (a, b) -> a + b)) AS u FROM mt, v${k - 1}),
           |v$k AS (SELECT list_transform(u, x -> x / sqrt(list_reduce(list_prepend(0.0, list_transform(u, y -> y * y)), (a, b) -> a + b))) AS v FROM u$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH xs AS (SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS x
         |            FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings) u0),
         |nr AS (SELECT COUNT(*) AS n FROM embeddings),
         |m AS (SELECT i, CAST(SUM(x) AS BIGINT) AS m FROM xs GROUP BY 1),
         |sc AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sij
         |       FROM xs a JOIN xs b USING (vec_id) GROUP BY 1, 2),
         |nij AS (SELECT sc.i AS i, sc.j AS j, n * sij - mi.m * mj.m AS nij
         |        FROM sc JOIN m mi ON mi.i = sc.i JOIN m mj ON mj.i = sc.j CROSS JOIN nr),
         |rws AS (SELECT i, list(CAST(nij AS DOUBLE) ORDER BY j) AS r FROM nij GROUP BY 1),
         |mt AS (SELECT list(r ORDER BY i) AS mat FROM rws),
         |tr AS (SELECT CAST(SUM(nij) AS BIGINT) AS trace FROM nij WHERE i = j),
         |v0 AS (SELECT list_transform(range(64), x -> CAST(1.0 AS DOUBLE)) AS v),
         |$iters,
         |uf AS (SELECT list_transform(mat, row -> list_reduce(list_prepend(0.0, list_transform(row, (e, ji) -> e * v[ji])), (a, b) -> a + b)) AS u, v FROM mt, v8),
         |lm AS (SELECT list_reduce(list_prepend(0.0, list_transform(v, (x, i2) -> x * u[i2])), (a, b) -> a + b) AS eigval FROM uf),
         |o AS (SELECT CAST(generate_subscripts(v, 1) AS BIGINT) AS dim, unnest(v) AS loading FROM v8)
         |SELECT dim, loading, eigval, trace, eigval / CAST(trace AS DOUBLE) AS var_share
         |FROM o, lm, tr ORDER BY dim""".stripMargin
    },
    // both rankers replicated bit-for-bit (BM25 CTEs from txt_bm25 at
    // k=50; cosine CTEs from sim_topk_bruteforce for query 0), then the
    // same fixed-order reciprocal-rank sum
    "sim_rrf_hybrid" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_dl, COUNT(*) AS n_docs FROM dl),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(((n_docs - df) * 2 + 1) * 1000000 // (2 * df + 1) AS DOUBLE) *
        |      (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) / 1000000.0 AS s
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |  WHERE tf.term IN ('spark', 'join', 'hash')),
        |agg AS (SELECT doc_id, list_reduce(list(s ORDER BY term), (a, b) -> a + b) AS score FROM sc GROUP BY 1),
        |btop AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_text
        |         FROM (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 50) b0),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0),
        |p AS (
        |  SELECT e.vec_id AS doc_id,
        |    list_reduce(list_transform(qv, (x,i) -> x * v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM q CROSS JOIN e WHERE query_id <> e.vec_id),
        |vtop AS (SELECT doc_id, rank_vec FROM (
        |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS rank_vec FROM p) r
        |  WHERE rank_vec <= 50),
        |f AS (SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id, b.rank_text, v.rank_vec,
        |        COALESCE(1.0 / (60.0 + CAST(b.rank_text AS DOUBLE)), 0.0) +
        |        COALESCE(1.0 / (60.0 + CAST(v.rank_vec AS DOUBLE)), 0.0) AS rrf_score
        |      FROM btop b FULL OUTER JOIN vtop v ON b.doc_id = v.doc_id),
        |top AS (SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS fused_rank,
        |  doc_id, rank_text, rank_vec, rrf_score
        |FROM top ORDER BY fused_rank""".stripMargin,
  )
}
