package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Graph, Similarity}

/** Deduplication family over `documents` / `embeddings`.
  *
  * Cache lifecycle: registry entries return LAZY plans that the caller
  * consumes later, so their operators cache into the ambient
  * `CacheScope`, and every caller that owns the action (`Verify`,
  * `Bench`, the specs) wraps build-plus-action in `CacheScope.scoped`,
  * which releases every cache and checkpoint the entry created
  * (asserted over the whole registry in PartitionInvarianceSpec).
  *
  * dd_ngram_jaccard (count-sharing join), dd_ppjoin (prefix+position
  * filtered) and dd_minhash share one oracle: the brute-force O(n²)
  * exact-jaccard SQL. The first two are exact by construction; the LSH
  * variant matches because candidates are exact-verified and the banding
  * miss probability at the fixture's plant similarity (j ≥ 0.89) is
  * ~2e-14.
  */
object DedupQueries extends QueryFamily {

  private val Threshold = 0.8

  /** Embedding near-dup pairs at the CORPUS-CALIBRATED threshold
    * ([[graft.operators.Similarity.calibratedDupThreshold]]): θ = 0.4 at
    * every driver SF (n ≤ 2000 ⇒ the rule returns the exact historical
    * literal — sqrt(0.16) IS the double 0.4), rising with corpus size so
    * the random-cosine tail's pair count stays ~linear in n instead of
    * quadratic (the r14 sweep's "122× pair growth" generator flag was
    * this tail, not replication error — see the rule's scaladoc). The
    * one count() is a single scalar action on the raw table. */
  private def calibratedLshPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.embeddingDupPairsLsh(emb,
      Similarity.calibratedDupThreshold(emb.count()))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "dd_exact_stats" -> ((s, d) =>
      Dedup.exactStats(Tables.documents(s, d)).orderBy(col("source"))),

    "dd_exact_groups" -> ((s, d) =>
      Dedup.dropExact(Tables.documents(s, d)).orderBy(col("fp"))),

    "dd_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardPairsExact(Tables.documents(s, d), Threshold)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dd_ppjoin" -> ((s, d) =>
      Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
        .orderBy(col("doc_a"), col("doc_b"))),

    // asymmetric subset-dup metric (doc embedded in a larger doc)
    "dd_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), Threshold)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dd_minhash" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), Threshold)
        .orderBy(col("doc_a"), col("doc_b"))),

    // portable md5-based 60-bit variant so the ENTIRE simhash pipeline —
    // signature bits, chunk blocking, hamming filter — is oracle-checked
    "dd_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), 3, portable = true)
        .orderBy(col("doc_a"), col("doc_b"))),

    // threshold 0.4 (not a "dup-grade" 0.95): the synthetic corpus has no
    // cosine above ~0.51, so 0.95 made the check vacuous (0 rows vs
    // 0 rows). 0.4 emits rows at every SF, making the exact path's output
    // actually verified; it also matches dd_embedding_lsh, whose result
    // must be a subset of this one (recall is the only difference).
    "dd_embedding" -> ((s, d) =>
      Similarity.embeddingDupPairs(Tables.embeddings(s, d), 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    // SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings with
    // the shared deterministic coarse quantizer, then near-dup pairs
    // WITHIN each cluster only — Σ|cell|² work instead of n², the
    // published semantic-dedup scale path. Same 0.4 threshold as
    // dd_embedding, so this output is a recall-subset of the exact pass
    // (missed pairs = cluster-boundary straddlers).
    "dd_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), 0.4)
        .select(col("cell").cast("long").as("cell"), col("vec_a"),
          col("vec_b"), col("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))),

    // the 100 TB plan for dd_embedding: equi-join on sign-LSH bucket
    // (hamming-1 multi-probe) instead of the n² cross join, exact cosine
    // verify. Threshold is corpus-calibrated (r15) — equal to
    // dd_embedding's fixed 0.4 at every driver SF and ≥ 0.4 beyond, so
    // the output stays a recall-subset of the exact path's. Recall is
    // the sketch contract; the oracle replicates the bucketing (and the
    // threshold rule) bit-for-bit, so the check is exact anyway.
    "dd_embedding_lsh" -> ((s, d) =>
      calibratedLshPairs(s, d).orderBy(col("vec_a"), col("vec_b"))),

    // pairs → transitive clusters: the keep-one-per-group stage of a
    // corpus dedup pass (oracle = recursive-CTE reachability in DuckDB)
    // pairs from ppjoinPairs: identical exact pair set to
    // jaccardPairsExact at the same threshold (both exact), but the
    // prefix-filtered path is ~2x cheaper and is the heavy-tail-safe
    // choice a production clean pass would feed the cluster stage from
    "dd_dup_clusters" -> ((s, d) =>
      Graph.dupClusters(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))
        .orderBy(col("doc_id"))),

    // the end-to-end clean pass: exact dedup → near-dup clusters over the
    // survivors → keep each cluster's canonical doc. The exact stage only
    // bites at sf0.1+ (the fixture plants exact dups there; smaller SFs
    // have none — dd_exact_groups covers that logic on its own), the
    // near-dup stage is non-vacuous at every SF.
    "dd_dedup_corpus" -> ((s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), Threshold)
        .orderBy(col("doc_id"))),

    // the cluster stage on the EMBEDDING modality: semantic near-dup
    // pairs from the bucketed LSH join, transitively closed — semantic
    // dedup's keep-one-per-meaning grouping
    "dd_embedding_clusters" -> ((s, d) =>
      Graph.dupClusters(
        calibratedLshPairs(s, d).select(col("vec_a"), col("vec_b")))
        .select(col("doc_id").as("vec_id"), col("cc"), col("cluster_size"))
        .orderBy(col("vec_id"))),

    // exact substring dedup at 32-token-chunk grain: passages repeated
    // across documents (shared boilerplate doc-level dedup misses)
    "dd_chunk_dup" -> ((s, d) =>
      Dedup.passageDups(Tables.documents(s, d), 32).orderBy(col("fp"))),

    // triangle/wedge census of the near-dup graph (Graph.triangleStats):
    // the transitivity QA — pairwise-similar clusters close triangles,
    // chained borderline matches don't. Keyed equi-joins only; one row.
    "dd_triangles" -> ((s, d) =>
      Graph.triangleStats(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))),

    // link prediction on the embedding near-dup graph
    // (Graph.linkPrediction): non-adjacent distance-2 pairs ranked by
    // common neighbors + the Resource-Allocation index in exact integer
    // micros — the "edge the pair generation probably missed"
    // re-examination queue of a threshold pipeline. The EMBEDDING graph
    // is the substrate (cosine graphs chain through hub vectors, so open
    // wedges exist; the trigram-Jaccard dup graph is perfect cliques by
    // construction — every distance-2 pair is already an edge). Wedge
    // enumeration + one keyed agg; top-k, never a global sort.
    "dd_link_predict" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Graph.linkPrediction(
        Similarity.embeddingDupPairs(emb,
          Similarity.calibratedDupThreshold(emb.count()))
          .select(col("vec_a"), col("vec_b")), 20)
        .select(col("node_a").as("vec_a"), col("node_b").as("vec_b"),
          col("n_common"), col("ra_micros"))
    }),

    // harmonic centrality of the embedding near-dup graph
    // (Graph.harmonicCentrality): Σ 1e6 DIV d(u,v) over reachable pairs
    // within depth 6 — the geodesic centrality (which vector sits
    // nearest to everything in its dup neighborhood) complementing the
    // eigen (pagerank/HITS) and peel (k-core) views; per-source BFS as
    // a delta iteration, every term exact integer micros.
    "dd_harmonic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Graph.harmonicCentrality(
        Similarity.embeddingDupPairs(emb,
          Similarity.calibratedDupThreshold(emb.count()))
          .select(col("vec_a"), col("vec_b")), 6)
        .select(col("node").as("vec_id"), col("harmonic_micros"),
          col("n_reached"))
    }),

    // the 100 TB registration for dd_harmonic, fixing BOTH of its scale
    // killers at once (the r13 sf0.1→sf1 sweep measured the exact form
    // past the 300 s cap at only 10× data): edges come from the
    // LSH-bucketed pair join instead of the n² cross join, and the BFS
    // runs from the deterministic 1-in-4 source sample with ×4-scaled
    // integer estimates (Eppstein & Wang 2001) — O(V·E/4) instead of
    // O(V·E), with the sample mod chosen to the accuracy budget. The
    // oracle replays the identical sampled walk over the identical
    // bit-exact LSH pair set, so the check is exact, not a tolerance.
    "dd_harmonic_sampled" -> ((s, d) =>
      Graph.harmonicCentralitySampled(
        calibratedLshPairs(s, d).select(col("vec_a"), col("vec_b")), 6, 4)
        .select(col("node").as("vec_id"), col("harmonic_est_micros"),
          col("n_src_reached"))),

    // soft dedup: down-WEIGHT near-dup clusters instead of dropping
    // (keep every doc, weight 1/cluster_size — each cluster contributes
    // unit mass, so the weighted corpus equals the hard-dedup corpus in
    // expectation while keeping intra-cluster variation). Reported at
    // the cluster-size grain: every stat exact integer + ONE double
    // division, over the bounded |distinct sizes| rows.
    "dd_soft_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cc = Graph.dupClusters(
        Dedup.ppjoinPairs(docs, Threshold)
          .select(col("doc_a"), col("doc_b")))
      docs.select(col("doc_id"))
        .join(cc.select(col("doc_id"), col("cluster_size")),
          Seq("doc_id"), "left")
        .select(coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("cluster_size"), col("n_docs"),
          expr("n_docs DIV cluster_size").as("n_clusters"),
          (lit(1.0) / col("cluster_size").cast("double")).as("weight_per_doc"))
        .orderBy(col("cluster_size"))
    }),

    // winnowing fingerprints (MOSS, SIGMOD'03): window-min-selected
    // k-gram hashes guarantee any shared ≥ w+k-1-token run yields an
    // identical fingerprint in both docs — substring-level detection at
    // ~2/(w+1) fingerprint density. One doc-keyed window + a
    // fingerprint-keyed equi-join; all-integer, bit-exact.
    "dd_winnowing" -> ((s, d) =>
      Dedup.winnowingPairs(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),

    // exact-substring duplication coverage (Lee et al. ExactSubstr,
    // ACL'22) at L=16 token grain: per-document accounting of the spans
    // a suffix-array excision pass would remove — exact by the
    // L-shingle covering identity (see Dedup.exactSubstrCoverage), no
    // suffix array and no global structure needed.
    "dd_substring" -> ((s, d) =>
      Dedup.exactSubstrCoverage(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // k-core of the near-dup graph (Graph.kCore, k=2): the exact
    // dense-core vs periphery split — vertices with only one near-dup
    // partner peel away, pairwise-similar cliques survive with their
    // in-core degree. All-integer peel → bit-checkable against the
    // unrolled-peel oracle (peel is monotone, so the oracle's fixed
    // unroll depth past convergence is a no-op).
    "dd_kcore" -> ((s, d) =>
      Graph.kCore(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")), k = 2)
        .select(col("id").as("doc_id"), col("core_degree"))
        .orderBy(col("doc_id"))),

    // landmark hop distances over the dup graph (multi-source BFS with
    // seed attribution, delta iteration — frontier-only joins): how far
    // each doc sits from the canonical templates; dist 1 = direct
    // near-dup, dist 2 = decayed copy-of-a-copy.
    "dd_bfs_hops" -> ((s, d) =>
      Graph.bfsHops(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("d").as("dist"), col("seed"))
        .orderBy(col("doc_id"))),

    // label-propagation communities over the near-dup graph
    // (Graph.labelPropagation, 4 synchronous rounds): finer than CC —
    // a single bridge edge fuses two template families into one
    // component, but each family's majority vote keeps its own LPA
    // label. Deterministic (min-label ties, fixed rounds), all-integer,
    // bit-checkable against the unrolled oracle.
    "dd_communities" -> ((s, d) =>
      Graph.labelPropagation(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")), rounds = 4)
        .select(col("id").as("doc_id"), col("label").as("community"))
        .orderBy(col("doc_id"))),

    // degree assortativity (Newman, PRL 2002) of the dup graph — the
    // Pearson correlation of degrees across edge endpoints (both
    // directions, the standard undirected convention): positive = hubs
    // link hubs (dup clusters of templated families), negative = hub-
    // and-spoke. Reuses Profile.momentStats wholesale: exact DECIMAL
    // moments over the symmetric edge-endpoint degree pairs, fixed IEEE
    // derivation, degenerate-variance NULL guard — the whole stat is
    // one edge-keyed join pair + one global agg on top of the pair
    // generation the dedup family already registers.
    "dd_assortativity" -> ((s, d) =>
      Graph.assortativity(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))),

    // incremental CC maintenance: yesterday's labeling (one arbitrary
    // half of the pair set) replays as star edges, today's batch of new
    // pairs merges in — and the result must equal the FULL-graph CC,
    // which is exactly what the oracle computes. O(batch) nightly
    // dup-cluster maintenance, proven not assumed.
    "dd_cc_incremental" -> ((s, d) => {
      // cached (round 16): the half1/half2 split scans the pair set
      // twice, and each uncached scan re-runs the whole ppjoin pipeline
      // (~0.5 s) — the triangleStats multi-consumer lesson
      val pairs = graft.operators.CacheScope.track(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))
      val half1 = pairs.filter((col("doc_a") + col("doc_b")) % 2 === 0)
      val half2 = pairs.filter((col("doc_a") + col("doc_b")) % 2 =!= 0)
      val initial = Graph.connectedComponents(half1)
      Graph.mergeComponents(initial, half2)
        .select(col("id").as("doc_id"), col("cc"))
        .orderBy(col("doc_id"))
    }),

    // Newman modularity of that partition — exact-integer numerators
    // make the usually-float-fuzzy Q bit-checkable; answers "does the
    // LPA split beat random" with one number (q_total).
    "dd_modularity" -> ((s, d) => {
      // NOT cached (round-17 measurement): tracking the pair set for its
      // two consumers (LPA's sym build, modularity's e) read 2.26-2.43 s
      // uncached vs 3.16-3.21 s cached, back-to-back ×2 each — the cache
      // build serializes scan stages AQE otherwise overlaps (the
      // lmScoreKnAll / dsirScreen-perDoc finding; dd_cc_incremental's
      // cache measured the opposite, so each site keeps its measured form)
      val edges = Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
        .select(col("doc_a"), col("doc_b"))
      Graph.modularity(edges, Graph.labelPropagation(edges, rounds = 4))
        .orderBy(col("label"))
    }),

    // PageRank over the near-dup graph (Graph.pageRank): integer
    // fixed-point — exact-integer arithmetic makes the usually-
    // unoracleable iteration bit-checkable. Hub docs (the boilerplate
    // template a cluster copies from) rank highest.
    "dd_pagerank" -> ((s, d) =>
      Graph.pageRank(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("outdeg"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))),

    // the incremental-dedup story END-TO-END ON DISK: historical half of
    // the corpus (even doc_ids) → MinHash band index → persisted as a
    // bucketed-by-(band,bsig) parquet table → RELOADED from the catalog
    // → the arriving batch (odd doc_ids) band-joins the reloaded index
    // and exact-verifies with jaccard. Oracle = brute-force exact
    // jaccard between the halves (the banding recall argument of
    // dd_minhash: candidates are exact-verified, miss probability at the
    // fixture's plant similarity ~2e-14). Bucketing is the 100 TB
    // layout: the historical side sort-merges from its on-disk buckets
    // without a shuffle; only the small batch exchanges.
    "dd_index_persist" -> ((s, d) => {
      import graft.streaming.StreamingDedup
      val docs = Tables.documents(s, d)
      // quarter-corpus halves (bench-budget bound: this query times a
      // REAL parquet persist+reload by design — BASELINE.md — so its
      // cost is fixture size, and 1-in-4 halves keep both the index
      // build and the probe path live at a quarter of the bytes)
      val hist = docs.filter(col("doc_id") % 4 === 0)
      val batch = docs.filter(col("doc_id") % 4 === 1)
      val (bands, shingles) = StreamingDedup.buildIndex(hist)
      val reloaded = StreamingDedup.persistAndReload(bands,
        "graft_band_index",
        QueryFamily.jvmScratch("graft_band_index"))
      StreamingDedup.dedupBatch(batch, reloaded, shingles, Threshold)
        .orderBy(col("doc_id"), col("dup_of"))
    }),

    // Bloom-filter incremental screen at chunk grain: history (even
    // docs) compacts to an 8 KiB broadcast bitset; the arriving batch
    // (odd docs) probes it per 32-token chunk with 4 Kirsch–Mitzenmacher
    // bit tests — no join against history on the probe path. The exact
    // semi-join contract columns make the one-sided error checkable:
    // n_seen ≤ n_maybe on every row, never a false negative.
    "dd_bloom_screen" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.bloomScreen(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
        .orderBy(col("doc_id"))
    }),

    // leakage-safe train/val split: hash-split by near-dup CLUSTER
    // representative, not by document — a doc-grain split leaks val
    // answers into train through near-duplicates, the classic eval
    // contamination path. Split key = cc label (min doc_id of the
    // cluster; singleton docs are their own rep), mapped through a
    // multiplicative hash kept in cross-engine-exact BIGINT range
    // (production would salt-hash the rep; xxhash64 has no DuckDB
    // equivalent, and the law under check — no cluster straddles the
    // split — is hash-agnostic). `leaked_clusters` is COMPUTED, not
    // assumed: reps with >1 distinct split (0 by construction, and the
    // oracle would catch a regression that breaks the construction).
    "dd_split_leakage" -> ((s, d) => {
      val labs = Graph.dupClusters(
        Dedup.ppjoinPairs(Tables.documents(s, d), Threshold)
          .select(col("doc_a"), col("doc_b")))
        .select(col("doc_id"), col("cc"))
      val withSplit = Tables.documents(s, d).select(col("doc_id"))
        .join(labs, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("rep"))
        .withColumn("split",
          when((col("rep") % 1000003) * 30011 % 101 < 81, "train")
            .otherwise("val"))
      val perSplit = withSplit.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"))
      val leaked = withSplit.groupBy(col("rep"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leaked_clusters"))
      perSplit.crossJoin(broadcast(leaked)).orderBy(col("split"))
    }),
  )

  /** Shingle-set CTE shared by the jaccard oracles (trigram, distinct,
    * 1-based duckdb list indexing). */
  private val shCte =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) ELSE CAST([] AS VARCHAR[]) END AS sh FROM t)""".stripMargin

  private val bruteForceJaccard =
    s"""$shCte
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id) p
       |WHERE jaccard >= $Threshold ORDER BY doc_a, doc_b""".stripMargin

  /** Programmatically-generated SQL mirror of the portable 60-bit SimHash:
    * per-bit sign-of-weight from the md5-based hash DuckDB reproduces
    * exactly, 4 × 15-bit chunk blocking, hamming ≤ 3. */
  private val simhashOracle: String = {
    val sigTerms = (0 until 60).map { j =>
      s"(CASE WHEN list_reduce(list_transform(hl, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END), (x, y) -> x + y) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""$shCte,
       |h AS (SELECT doc_id, list_transform(sh, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hl FROM s WHERE len(sh) > 0),
       |sg AS (SELECT doc_id, $sigTerms AS sig FROM h),
       |cv AS (SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS cval FROM sg, (SELECT unnest([0, 1, 2, 3]) AS c) chunks)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM cv a JOIN cv b ON a.c = b.c AND a.cval = b.cval AND a.doc_id < b.doc_id) p
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Unrolled (not recursive) k-core peel: the same exact brute-force
    * pair set, symmetric closure, then `depth` peel rounds as chained
    * CTEs — each keeps only edges whose BOTH endpoints have current
    * degree ≥ k. Peel is monotone, so any depth ≥ the fixture's peel
    * depth (2 here; 16 unrolled) yields the exact k-core the engine's
    * converged iteration returns — pure integer arithmetic, bit-exact. */
  private val kCoreOracle: String = {
    val k = 2
    val depth = 16
    // AS MATERIALIZED is load-bearing: each step reads its predecessor
    // THREE times (edge list + two degree subqueries), and DuckDB
    // inlines plain CTEs — 3^16 expansions exhausts file handles on the
    // base scan. Materialization makes the unroll linear.
    val steps = (1 to depth).map { i =>
      s"""kc$i AS MATERIALIZED (SELECT a, b FROM kc${i - 1}
         |  WHERE a IN (SELECT a FROM kc${i - 1} GROUP BY a HAVING COUNT(*) >= $k)
         |    AND b IN (SELECT a FROM kc${i - 1} GROUP BY a HAVING COUNT(*) >= $k))""".stripMargin
    }.mkString(",\n")
    s"""$shCte,
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |kc0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pr UNION ALL SELECT dst AS a, src AS b FROM pr),
       |$steps
       |SELECT a AS doc_id, COUNT(*) AS core_degree FROM kc$depth GROUP BY a ORDER BY doc_id""".stripMargin
  }

  /** Reachability via recursive CTE: cc(v) = min id reachable from v —
    * the same canonical label [[Graph.connectedComponents]] converges to. */
  /** Unrolled (not recursive) PageRank: the same exact brute-force pair
    * set, symmetric closure, then `iters` damped integer updates as
    * chained CTEs — every op is BIGINT arithmetic, so Spark's iterative
    * joins and this SQL agree bit-for-bit. */
  private val pageRankOracle: String = {
    val iters = 5
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT o.id, o.outdeg,
         |  CAST(150000000 + (COALESCE(m.in_sum, 0) * 85) // 100 AS BIGINT) AS score
         |  FROM outd o LEFT JOIN (
         |    SELECT sym.b AS id, CAST(SUM(p.score // p.outdeg) AS BIGINT) AS in_sum
         |    FROM sym JOIN r${i - 1} p ON sym.a = p.id GROUP BY 1) m USING (id))""".stripMargin
    }.mkString(",\n")
    s"""$shCte,
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |sym AS (SELECT src AS a, dst AS b FROM pr UNION ALL SELECT dst AS a, src AS b FROM pr),
       |outd AS (SELECT a AS id, COUNT(*) AS outdeg FROM sym GROUP BY 1),
       |r0 AS (SELECT id, outdeg, CAST(1000000000 AS BIGINT) AS score FROM outd),
       |$steps
       |SELECT id AS doc_id, outdeg, score FROM r$iters ORDER BY score DESC, doc_id""".stripMargin
  }

  /** Multi-source BFS by recursive CTE: enumerate every (vertex, seed,
    * depth ≤ 8) walk from the 3 smallest-id seeds, then take the
    * lexicographic (dist, seed) minimum per vertex — the path-set
    * definition the engine's delta-iteration fixpoint provably equals
    * (every frontier candidate is a realizable path and every minimal
    * path appears as a candidate). Same depth cap on both sides. */
  private val bfsOracle: String = {
    val recCte = shCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$recCte,
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |sym AS (SELECT src AS a, dst AS b FROM pr UNION ALL SELECT dst AS a, src AS b FROM pr),
       |seeds AS (SELECT DISTINCT a AS id FROM sym ORDER BY id LIMIT 3),
       |walk(id, seed, d) AS (
       |  SELECT id, id, 0 FROM seeds
       |  UNION
       |  SELECT sym.b, walk.seed, walk.d + 1 FROM walk JOIN sym ON sym.a = walk.id WHERE walk.d < 8)
       |SELECT doc_id, CAST(dist AS INT) AS dist, CAST(MIN(seed) AS BIGINT) AS seed FROM (
       |  SELECT id AS doc_id, d, seed, MIN(d) OVER (PARTITION BY id) AS dist FROM walk) w
       |WHERE d = dist GROUP BY doc_id, dist ORDER BY doc_id""".stripMargin
  }

  /** SemDeDup replica: the shared coarse-quantizer CTE pipeline
    * ([[SimQueries.ivfAssignCtes]] — bit-exact vs the engine's
    * ivfCentroids+ivfAssign) feeding a within-cell pair join at the
    * same 0.4 threshold. */
  private val semDedupOracle: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${SimQueries.ivfAssignCtes("", "e")}
       |SELECT CAST(cell AS BIGINT) AS cell, vec_a, vec_b, cosine FROM (
       |  SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${SimQueries.cosineSql("a.v", "b.v")} AS cosine
       |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id) p
       |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  /** 4 synchronous LPA rounds unrolled (the [[pageRankOracle]]
    * technique): per round the neighbor-label counts with the
    * (cnt DESC, label) argmax as a ROW_NUMBER — equivalent to the
    * engine's MIN(struct(−cnt, label)). */
  /** The 4-round synchronous-LPA chain as CTE clauses (shCte, pr, sym,
    * l0..l4) — shared by the communities oracle and the modularity
    * oracle (which scores the same partition). */
  private val lpaCtes: String = {
    val rounds = 4
    val steps = (1 to rounds).map { i =>
      s"""l$i AS (SELECT a AS id, label FROM (
         |  SELECT c.a, c.label, ROW_NUMBER() OVER (PARTITION BY c.a ORDER BY c.cnt DESC, c.label) AS rn
         |  FROM (SELECT sym.a, p.label, COUNT(*) AS cnt
         |        FROM sym JOIN l${i - 1} p ON sym.b = p.id GROUP BY 1, 2) c) w
         |WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$shCte,
       |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |sym AS (SELECT src AS a, dst AS b FROM pr UNION ALL SELECT dst AS a, src AS b FROM pr),
       |l0 AS (SELECT DISTINCT a AS id, a AS label FROM sym),
       |$steps""".stripMargin
  }

  private val lpaOracle: String =
    s"""$lpaCtes
       |SELECT id AS doc_id, label AS community FROM l4 ORDER BY doc_id""".stripMargin

  /** Modularity of the LPA partition: exact-integer numerators
    * (4·m·e_c − d_c²) over the shared LPA chain; one double division
    * per row mirrors Graph.modularity verbatim. */
  private val modularityOracle: String =
    s"""$lpaCtes,
       |mm AS (SELECT COUNT(*) AS m FROM pr),
       |deg AS (SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY 1),
       |intra AS (SELECT la.label, COUNT(*) AS intra_edges
       |          FROM pr JOIN l4 la ON la.id = pr.src JOIN l4 lb ON lb.id = pr.dst
       |          WHERE la.label = lb.label GROUP BY 1),
       |ds AS (SELECT l4.label, COUNT(*) AS n_members, CAST(SUM(deg.deg) AS BIGINT) AS degree_sum
       |       FROM l4 JOIN deg USING (id) GROUP BY 1),
       |per AS (SELECT ds.label, ds.n_members,
       |          CAST(COALESCE(intra.intra_edges, 0) AS BIGINT) AS intra_edges, ds.degree_sum,
       |          CAST(4 * mm.m * COALESCE(intra.intra_edges, 0) - ds.degree_sum * ds.degree_sum AS BIGINT) AS qc_num
       |        FROM ds LEFT JOIN intra USING (label) CROSS JOIN mm)
       |SELECT label, n_members, intra_edges, degree_sum, qc_num,
       |  CAST(qc_num AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_contrib,
       |  CAST(SUM(qc_num) OVER () AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_total
       |FROM per CROSS JOIN mm ORDER BY label""".stripMargin

  /** Shared recursive-reachability cluster CTEs (t, s, p, e, reach, lab,
    * sz) — prefix for every oracle needing near-dup cluster labels. */
  private val clusterCtes: String = {
    val recCte = shCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$recCte,
       |p AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |e AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
       |reach AS (SELECT src AS id, src AS r FROM e
       |          UNION
       |          SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
       |lab AS (SELECT id, MIN(r) AS cc FROM reach GROUP BY id),
       |sz AS (SELECT cc, COUNT(*) AS cluster_size FROM lab GROUP BY cc)""".stripMargin
  }

  private val dupClustersOracle: String =
    s"""$clusterCtes
       |SELECT lab.id AS doc_id, lab.cc, sz.cluster_size FROM lab JOIN sz USING (cc) ORDER BY doc_id""".stripMargin

  private val softDedupOracle: String =
    s"""$clusterCtes,
       |sized AS (SELECT d.doc_id, COALESCE(q.cluster_size, 1) AS k
       |          FROM documents d LEFT JOIN (SELECT lab.id, sz.cluster_size FROM lab JOIN sz USING (cc)) q ON q.id = d.doc_id)
       |SELECT k AS cluster_size, COUNT(*) AS n_docs, COUNT(*) // k AS n_clusters,
       |  CAST(1 AS DOUBLE) / k AS weight_per_doc
       |FROM sized GROUP BY k ORDER BY k""".stripMargin

  /** End-to-end clean pass: exact survivors (min doc_id per md5 group),
    * recursive-CTE reachability among THEM, keep ids that are their own
    * cluster minimum. */
  private val dedupCorpusOracle: String =
    s"""WITH RECURSIVE ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id IN (SELECT doc_id FROM ex)),
       |s AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) ELSE CAST([] AS VARCHAR[]) END AS sh FROM t),
       |p AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
       |e AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
       |reach AS (SELECT src AS id, src AS r FROM e
       |          UNION
       |          SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
       |lab AS (SELECT id, MIN(r) AS cc FROM reach GROUP BY id)
       |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> cc) ORDER BY doc_id""".stripMargin

  /** Sign-LSH embedding near-dup pairs as a reusable CTE chain ending in
    * `lshp(vec_a, vec_b, cosine)` — bit-exact replica of
    * [[graft.operators.Similarity.embeddingDupPairsLsh]] (same literal
    * hyperplanes and IEEE fold sequence as the sim_topk_lsh oracle).
    * Shared by the pair query and the embedding cluster stage. */
  private val embeddingLshPairsCte: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |planes AS (SELECT * FROM ${SimQueries.planesSql()}),
       |buck AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT e.vec_id, p.b,
       |      list_reduce(list_transform(e.v, (x,i) -> x * p.h[i]), (x,y) -> x + y) AS dot
       |    FROM e CROSS JOIN planes p) d
       |  GROUP BY vec_id),
       |probe AS (
       |  SELECT vec_id AS vec_a,
       |    CASE WHEN pb < 0 THEN bucket ELSE xor(bucket, (CAST(1 AS BIGINT) << pb)) END AS bucket
       |  FROM buck CROSS JOIN (SELECT unnest(range(-1, 8)) AS pb) r),
       |lshp AS (
       |  SELECT vec_a, vec_b, cosine FROM (
       |    SELECT p.vec_a, c.vec_id AS vec_b,
       |      ${SimQueries.cosineSql("ea.v", "eb.v")} AS cosine
       |    FROM probe p
       |    JOIN buck c ON p.bucket = c.bucket AND p.vec_a < c.vec_id
       |    JOIN e ea ON ea.vec_id = p.vec_a
       |    JOIN e eb ON eb.vec_id = c.vec_id) t
       |  WHERE cosine >= ${graft.operators.Similarity.calibratedDupThresholdSql("e")})""".stripMargin

  val oracles: ListMap[String, String] = ListMap(
    "dd_exact_stats" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct, COUNT(*) - COUNT(DISTINCT text) AS n_dups FROM documents GROUP BY source ORDER BY source""",
    "dd_exact_groups" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size FROM documents GROUP BY 1 ORDER BY 1""",
    "dd_ngram_jaccard" -> bruteForceJaccard,
    "dd_ppjoin" -> bruteForceJaccard,
    // the exact brute-force pair set feeds the same oriented triple join
    "dd_triangles" ->
      s"""$shCte,
         |e AS (SELECT doc_a, doc_b FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id) p
         |  WHERE jaccard >= $Threshold),
         |tri AS (SELECT COUNT(*) AS n_triangles
         |        FROM e e1 JOIN e e2 ON e2.doc_a = e1.doc_b
         |        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |deg AS (SELECT v, COUNT(*) AS d FROM (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e) u GROUP BY 1),
         |wg AS (SELECT CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS n_wedges FROM deg)
         |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
         |  (SELECT n_triangles FROM tri) AS n_triangles,
         |  (SELECT n_wedges FROM wg) AS n_wedges,
         |  CASE WHEN (SELECT n_wedges FROM wg) > 0
         |    THEN 3.0 * CAST((SELECT n_triangles FROM tri) AS DOUBLE) / CAST((SELECT n_wedges FROM wg) AS DOUBLE)
         |  END AS clustering_coeff""".stripMargin,
    // recursive walk over the same cosine edge set, MIN(d) per (src,
    // node) with the SAME depth-6 cap as the engine's BFS (bfs_hops
    // truncation convention), identical 1e6 DIV d integer terms
    "dd_harmonic" ->
      s"""WITH RECURSIVE emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |e AS (SELECT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id) p
        |  WHERE cosine >= ${graft.operators.Similarity.calibratedDupThresholdSql("emb")}),
        |nb AS (SELECT vec_a AS x, vec_b AS y FROM e UNION ALL SELECT vec_b, vec_a FROM e),
        |walk(src, node, d) AS (
        |  SELECT DISTINCT x, x, 0 FROM nb
        |  UNION
        |  SELECT w.src, nb.y, w.d + 1 FROM walk w JOIN nb ON nb.x = w.node WHERE w.d < 6),
        |dist AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2)
        |SELECT node AS vec_id, CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_micros,
        |       COUNT(*) AS n_reached
        |FROM dist WHERE d > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical sampled walk over the identical bit-exact LSH pair set:
    // sources restricted to vec_id % 4 == 0, estimates scaled ×4
    "dd_harmonic_sampled" ->
      s"""WITH RECURSIVE $embeddingLshPairsCte,
         |nb AS (SELECT vec_a AS x, vec_b AS y FROM lshp UNION ALL SELECT vec_b, vec_a FROM lshp),
         |walk(src, node, d) AS (
         |  SELECT DISTINCT x, x, 0 FROM nb WHERE x % 4 = 0
         |  UNION
         |  SELECT w.src, nb.y, w.d + 1 FROM walk w JOIN nb ON nb.x = w.node WHERE w.d < 6),
         |dist AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY 1, 2)
         |SELECT node AS vec_id,
         |       CAST(SUM(1000000 // d) * 4 AS BIGINT) AS harmonic_est_micros,
         |       COUNT(*) AS n_src_reached
         |FROM dist WHERE d > 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact brute-force cosine edge set (identical CTE to dd_embedding)
    // → symmetric neighbor table → wedge pairs minus existing edges;
    // identical integer-micros RA terms, identical integer rank order
    "dd_link_predict" ->
      s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |e AS (SELECT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id) p
        |  WHERE cosine >= ${graft.operators.Similarity.calibratedDupThresholdSql("emb")}),
        |nb AS (SELECT vec_a AS x, vec_b AS y FROM e UNION ALL SELECT vec_b, vec_a FROM e),
        |deg AS (SELECT x AS v, COUNT(*) AS d FROM nb GROUP BY 1),
        |w AS (SELECT n1.y AS a, n2.y AS b, 1000000 // deg.d AS ra_term
        |      FROM nb n1 JOIN nb n2 ON n1.x = n2.x AND n1.y < n2.y
        |      JOIN deg ON deg.v = n1.x),
        |na AS (SELECT w.a, w.b, w.ra_term FROM w
        |       LEFT JOIN e ON e.vec_a = w.a AND e.vec_b = w.b
        |       WHERE e.vec_a IS NULL)
        |SELECT a AS vec_a, b AS vec_b, COUNT(*) AS n_common,
        |       CAST(SUM(ra_term) AS BIGINT) AS ra_micros
        |FROM na GROUP BY 1, 2
        |ORDER BY ra_micros DESC, n_common DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    "dd_containment" ->
      s"""$shCte
         |SELECT doc_a, doc_b, containment, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / LEAST(len(a.sh), len(b.sh)) AS containment,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0) p
         |WHERE containment >= $Threshold ORDER BY doc_a, doc_b""".stripMargin,
    "dd_minhash" -> bruteForceJaccard,
    // exact cross-half jaccard, presented (batch doc, historical dup)
    "dd_index_persist" ->
      s"""$shCte
         |SELECT doc_id, dup_of, jaccard FROM (
         |  SELECT a.doc_id AS doc_id, b.doc_id AS dup_of,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM s a JOIN s b ON a.doc_id % 4 = 1 AND b.doc_id % 4 = 0) p
         |WHERE jaccard >= $Threshold ORDER BY doc_id, dup_of""".stripMargin,
    // identical filter replay: same 60-bit md5-prefix hash, same
    // Kirsch–Mitzenmacher positions over the history chunk set, same
    // per-chunk all-bits probe; exact seen-set via IN
    "dd_bloom_screen" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(i - 1 AS INT) AS cid,
        |        md5(array_to_string(toks[(i-1)*32+1 : i*32], ' ')) AS fp
        |      FROM t, UNNEST(range(1, CAST(ceil(len(toks) / 32.0) AS BIGINT) + 1)) u(i)),
        |hc AS (SELECT DISTINCT fp FROM c WHERE doc_id % 2 = 0),
        |hpos AS (SELECT DISTINCT (hh % 65536 + j * ((hh // 65536) % 65536)) % 65536 AS pos
        |         FROM (SELECT ('0x' || substr(fp, 1, 15))::BIGINT AS hh FROM hc) x,
        |              (SELECT unnest(range(0, 4)) AS j) jj),
        |b AS (SELECT doc_id, cid, fp, ('0x' || substr(fp, 1, 15))::BIGINT AS hh
        |      FROM c WHERE doc_id % 2 = 1),
        |bp AS (SELECT doc_id, cid, fp,
        |         (hh % 65536 + j * ((hh // 65536) % 65536)) % 65536 AS pos
        |       FROM b, (SELECT unnest(range(0, 4)) AS j) jj),
        |mb AS (SELECT bp.doc_id, bp.cid, bp.fp,
        |         SUM(CASE WHEN hp.pos IS NULL THEN 1 ELSE 0 END) AS misses
        |       FROM bp LEFT JOIN hpos hp ON hp.pos = bp.pos GROUP BY 1, 2, 3),
        |fl AS (SELECT doc_id, cid, (misses = 0) AS maybe,
        |         (fp IN (SELECT fp FROM hc)) AS seen FROM mb)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
        |  CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |  (SUM(CASE WHEN maybe THEN 1 ELSE 0 END) > 0) AS maybe_dup,
        |  (SUM(CASE WHEN seen THEN 1 ELSE 0 END) > 0) AS is_true_dup
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_simhash" -> simhashOracle,
    // identical 40-bit md5 k-gram hashes, identical BIGINT window-min
    // encoding (the df>=2 prune in the engine is result-neutral — a
    // shared fingerprint has df>=2 by definition, so the oracle skips it)
    "dd_winnowing" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |kg AS (SELECT doc_id, i - 1 AS pos,
        |         ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 10))::BIGINT AS h
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 3) u),
        |sel AS (SELECT doc_id, pos,
        |          MIN(h * 8388608 + (8388607 - pos)) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey,
        |          MAX(pos) OVER (PARTITION BY doc_id) AS mx
        |        FROM kg),
        |fps AS (SELECT DISTINCT doc_id, selkey // 8388608 AS fp FROM sel WHERE pos <= mx - 3),
        |cnt AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared, ca.nfp AS nfp_a, cb.nfp AS nfp_b,
        |  CAST(p.n_shared AS DOUBLE) / LEAST(ca.nfp, cb.nfp) AS overlap
        |FROM pairs p JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    // identical md5 L-gram fingerprints, identical gap-merge (break at
    // gap > L) — the covered-token identity makes this exact, so the
    // oracle mirrors the whole computation
    "dd_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, len(toks) AS n_tokens, i - 1 AS pos,
        |         md5(array_to_string(toks[i:i+15], ' ')) AS fp
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 14)) AS i FROM t WHERE len(toks) >= 16) u),
        |hot AS (SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM sh GROUP BY 1) g WHERE c >= 2),
        |d AS (SELECT sh.doc_id, sh.n_tokens, sh.pos FROM sh JOIN hot USING (fp)),
        |m AS (SELECT doc_id, n_tokens, pos,
        |        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 16 THEN 1 ELSE 0 END AS brk
        |      FROM d),
        |s AS (SELECT doc_id, n_tokens, pos,
        |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM m),
        |sp AS (SELECT doc_id, n_tokens, sid, MAX(pos) + 16 - MIN(pos) AS covered
        |       FROM s GROUP BY 1, 2, 3)
        |SELECT doc_id, n_tokens, COUNT(*) AS n_dup_spans,
        |  CAST(SUM(covered) AS BIGINT) AS dup_tokens,
        |  CAST(SUM(covered) AS DOUBLE) / n_tokens AS dup_frac
        |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
    "dd_pagerank" -> pageRankOracle,
    "dd_kcore" -> kCoreOracle,
    "dd_bfs_hops" -> bfsOracle,
    "dd_semdedup" -> semDedupOracle,
    "dd_communities" -> lpaOracle,
    // brute-force pair CTE + the rel_corr_moments derivation verbatim
    // (HUGEINT moments, identical fixed IEEE sequence + NULL guard)
    "dd_assortativity" ->
      s"""$shCte,
         |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
         |sym AS (SELECT src AS a, dst AS b FROM pr UNION ALL SELECT dst AS a, src AS b FROM pr),
         |deg AS (SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY 1),
         |dp AS (SELECT da.deg AS dx, db.deg AS dy
         |       FROM sym JOIN deg da ON da.id = sym.a JOIN deg db ON db.id = sym.b),
         |mm AS (SELECT COUNT(*) AS n,
         |         SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
         |         SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
         |         SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy,
         |         SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy
         |       FROM dp),
         |v AS (SELECT n,
         |        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
         |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxn,
         |        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vyn
         |      FROM mm)
         |SELECT n,
         |  CASE WHEN vxn > 0 AND vyn > 0 THEN covn / sqrt(vxn) / sqrt(vyn) END AS corr,
         |  covn / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS covar_pop,
         |  CASE WHEN vxn > 0 THEN sqrt(vxn) / CAST(n AS DOUBLE) END AS std_x,
         |  CASE WHEN vyn > 0 THEN sqrt(vyn) / CAST(n AS DOUBLE) END AS std_y
         |FROM v""".stripMargin,
    "dd_modularity" -> modularityOracle,
    // the incremental merge must land on the FULL-graph labeling
    "dd_cc_incremental" ->
      s"""$clusterCtes
         |SELECT lab.id AS doc_id, lab.cc FROM lab ORDER BY doc_id""".stripMargin,
    "dd_soft_dedup" -> softDedupOracle,
    "dd_dup_clusters" -> dupClustersOracle,
    "dd_dedup_corpus" -> dedupCorpusOracle,
    "dd_embedding" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT vec_a, vec_b, cosine FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_transform(a.v, (x,i) -> x * b.v[i]), (x,y) -> x + y) /
        |    (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x + y)) *
        |     sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x + y))) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id) p
        |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    // bit-exact replica of the LSH-bucketed near-dup join (same literal
    // hyperplanes and IEEE fold sequence as the sim_topk_lsh oracle)
    "dd_embedding_lsh" ->
      s"WITH $embeddingLshPairsCte\nSELECT vec_a, vec_b, cosine FROM lshp ORDER BY vec_a, vec_b",
    // reachability over the SAME bit-exact LSH pair set (shared CTE)
    "dd_embedding_clusters" ->
      s"""WITH RECURSIVE $embeddingLshPairsCte,
         |eg AS (SELECT vec_a AS src, vec_b AS dst FROM lshp UNION ALL SELECT vec_b AS src, vec_a AS dst FROM lshp),
         |reach AS (SELECT src AS id, src AS r FROM eg
         |          UNION
         |          SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id),
         |lab AS (SELECT id, MIN(r) AS cc FROM reach GROUP BY id),
         |sz AS (SELECT cc, COUNT(*) AS cluster_size FROM lab GROUP BY cc)
         |SELECT lab.id AS vec_id, lab.cc, sz.cluster_size FROM lab JOIN sz USING (cc) ORDER BY vec_id""".stripMargin,
    // same non-overlapping 32-token chunking as TextOps.chunkTokens
    // (starts 0,32,... up to len-1; final chunk may be short)
    "dd_chunk_dup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, md5(array_to_string(toks[(i-1)*32+1 : i*32], ' ')) AS fp
        |      FROM t, UNNEST(range(1, CAST(ceil(len(toks) / 32.0) AS BIGINT) + 1)) u(i))
        |SELECT fp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1 ORDER BY fp""".stripMargin,
    // cluster labels via the shared recursive-CTE reachability, then the
    // same rep-keyed multiplicative hash split and the same honest
    // leakage count
    "dd_split_leakage" -> {
      val recCte = shCte.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""$recCte,
         |p AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b ON a.doc_id < b.doc_id
         |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= $Threshold),
         |e AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
         |reach AS (SELECT src AS id, src AS r FROM e
         |          UNION
         |          SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id, MIN(r) AS cc FROM reach GROUP BY id),
         |w AS (SELECT d.doc_id, COALESCE(lab.cc, d.doc_id) AS rep,
         |        CASE WHEN (COALESCE(lab.cc, d.doc_id) % 1000003) * 30011 % 101 < 81 THEN 'train' ELSE 'val' END AS split
         |      FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
         |lk AS (SELECT CAST(COUNT(*) FILTER (WHERE ns > 1) AS BIGINT) AS leaked_clusters
         |       FROM (SELECT rep, COUNT(DISTINCT split) AS ns FROM w GROUP BY rep) t)
         |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT rep) AS n_clusters,
         |       (SELECT leaked_clusters FROM lk) AS leaked_clusters
         |FROM w GROUP BY split ORDER BY split""".stripMargin
    },
  )
}
