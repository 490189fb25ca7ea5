package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines over
  * `documents` — the core data-quality pass of any 100 TB corpus build.
  *
  * Five families, in increasing scalability:
  *   - exact: hash-groupBy on content ([[exactStats]], [[dropExact]]);
  *   - n-gram Jaccard with shared-shingle blocking ([[jaccardPairsExact]]):
  *     exact but blocking degenerates when shingles are near-universal;
  *   - MinHash + banded LSH ([[minhashPairs]]): candidate generation cost
  *     proportional to true near-duplicate density, the 100 TB path;
  *   - SimHash ([[simhashPairs]]): 64-bit signatures, hamming-ball lookup
  *     via chunk pigeonhole blocking;
  *   - embedding cosine ([[Similarity.cosineSeq]]-based semantic dedup in
  *     DedupQueries).
  *
  * MinHash/SimHash candidate pairs are always re-verified with the EXACT
  * n-gram Jaccard before reporting, so the sketches only affect recall
  * (bounded below by the banding guarantee), never precision.
  */
object Dedup {

  val ShingleSize = 3
  val NumHashes = 128
  val Bands = 32
  val RowsPerBand: Int = NumHashes / Bands

  /** Affine minhash permutation constants — fixed seed, reproducible runs. */
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }
  /** Modulus prime just above 2^32; a*x+b stays well below 2^63. */
  private val Prime = 4294967311L

  /** (doc_id, sh: distinct trigram shingles) projection. */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingles(col("text"), ShingleSize).as("sh"))

  /** Exact Jaccard over two distinct-element arrays. Integer sizes and one
    * double division — bit-identical across engines. Total: two empty sets
    * similarity is 0 (ANSI mode would otherwise throw on 0/0). */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u.cast("double"))
  }

  /** Exact duplicate statistics per source (hash-groupBy dedup). */
  def exactStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dups"))

  /** Exact dedup keeping the lowest doc_id per content group. At scale this
    * is one shuffle keyed by content hash (not the full text). */
  def dropExact(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("group_size"))

  /** The complete corpus clean pass — what a training-data build actually
    * runs end-to-end: exact dedup, then transitive near-dup clustering
    * over the exact survivors, keeping one canonical document per
    * cluster. Returns the surviving `doc_id`s.
    *
    * Stages (each individually scale-safe; see the stage operators):
    *   1. [[dropExact]] — one shuffle keyed on content hash, keep min id;
    *   2. [[ppjoinPairs]] over the survivors — exact prefix-filtered
    *      near-dup pairs (swap in [[minhashPairs]] when the corpus
    *      outgrows the exact join; same pair semantics at the planted
    *      fixture similarities);
    *   3. [[Graph.connectedComponents]] — O(log d) pointer-jump rounds;
    *      a document survives iff it IS its cluster's canonical minimum
    *      label (unpaired documents are their own cluster and survive).
    * Nothing in the pass is all-pairs, and every shuffle is keyed
    * (content hash / shingle id / vertex id). */
  def dedupCorpus(docs: DataFrame, threshold: Double): DataFrame = {
    // Survivor restriction as an ANTI-join against the exact-dup LOSERS
    // (group rows minus the kept min id) rather than an inner join with
    // the keep set: the loser side is the duplicated mass only — orders
    // of magnitude smaller than the corpus on real data, empty on a clean
    // corpus — so the join stays broadcast-shaped far longer, and the
    // pair stage's shingle projection reads an almost-unfiltered scan.
    // Cached: consumed by the pair join's shingle projection AND the
    // final anti-join (ids only — narrow blocks).
    // cached: the (id, fingerprint) projection is consumed by both sides
    // of the keeper join — without it the corpus text is scanned and
    // hashed twice just for the exact stage
    val ids = CacheScope.track(docs.select(col("doc_id"), md5(col("text")).as("fp")))
    val exactLosers = CacheScope.track(
      ids.join(ids.groupBy(col("fp")).agg(min(col("doc_id")).as("keep")),
        Seq("fp"))
        .filter(col("doc_id") =!= col("keep"))
        .select(col("doc_id")))
    val survivors = docs.join(exactLosers, Seq("doc_id"), "left_anti")
    val pairs = ppjoinPairs(survivors, threshold)
      .select(col("doc_a"), col("doc_b"))
    val nearDupVictims = Graph.connectedComponents(pairs)
      .filter(col("id") =!= col("cc"))
      .select(col("id").as("doc_id"))
    survivors.select(col("doc_id"))
      .join(nearDupVictims, Seq("doc_id"), "left_anti")
  }

  /** Exact n-gram-Jaccard near-dup pairs via the classic count-sharing
    * set-similarity join: any pair with jaccard > 0 shares a shingle, so
    * the inverted-index self-join finds every qualifying pair (exact
    * recall); counting shared shingles per pair IS |A∩B| (shingle sets are
    * distinct), so jaccard = shared / (|A|+|B|−shared) needs no per-pair
    * array intersection at all — the whole operator is two hash
    * aggregations and one equi-join on scalar columns, fully inside
    * whole-stage codegen. A size-compatibility filter (jaccard ≥ t ⇒
    * t·|A| ≤ |B| ≤ |A|/t) prunes co-occurrence rows before the grouped
    * count.
    *
    * Cost is Σ_shingle df(shingle)² — exact and near-linear while document
    * frequencies are bounded (distinctive shingles), quadratic on
    * heavy-tail corpora with near-universal shingles: there use
    * [[ppjoinPairs]] (prefix+position filtered, still exact) or
    * [[minhashPairs]] (the 100 TB sketch path). */
  def jaccardPairsExact(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0, "count-sharing join requires a positive threshold")
    val sh = shingleSets(docs)
    // cache() is LOAD-BEARING: the self-join scans occ twice, and without
    // it Catalyst pushes inferred not-null join-key filters below the
    // Generate, re-evaluating the full shingle transform ~3x per row per
    // side (measured ~8x slower end-to-end).
    val occ = CacheScope.track(
      sh.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s")))
    // 1e-9 slack keeps the double-arithmetic bound conservative (never
    // drops a boundary pair; at worst admits one extra candidate row).
    occ.as("a")
      .join(occ.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= lit(threshold) * col("a.n") - lit(1e-9) &&
          col("a.n") >= lit(threshold) * col("b.n") - lit(1e-9))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"), first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact containment near-dup pairs: containment(A→B) = |A∩B| / |A|
    * — the asymmetric metric that catches a document EMBEDDED in a larger
    * one, which symmetric jaccard dilutes (j = |A∩B|/|A∪B| → 0 as B
    * grows). Reported per unordered pair as max-containment
    * = c / min(na, nb) with jaccard alongside.
    *
    * Candidate generation uses the ASYMMETRIC prefix filter: each doc's
    * shingles are ordered rarest-first by global df; for a qualifying
    * pair with na = min(na, nb), |A∩B| ≥ ⌈t·na⌉, so A's first
    * na − ⌈t·na⌉ + 1 df-ordered shingles must hit SOMEWHERE in B
    * (pigeonhole). Only prefixes are indexed; the probe side is every
    * doc's full shingle list restricted to n ≥ prefix-doc's n — cost
    * Σ_s df_prefix(s)·df(s) instead of the unfiltered Σdf², and
    * df_prefix is concentrated on the RARE end of the frequency spectrum
    * (a near-universal shingle almost never lands in a rarest-first
    * prefix). The jaccard length filter cannot apply here — a tiny doc
    * can be contained in a huge one — which is exactly why the
    * unfiltered count-sharing join degenerates and the prefix filter is
    * load-bearing. Survivors are exact-verified per pair on the shingle
    * arrays (candidates ≪ corpus, so the verify join is cheap). */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "containment threshold in (0, 1]")
    val sh = CacheScope.track(shingleSets(docs)) // 4 downstream scans: occ (feeding freq + the ordered join) and the 2 verify joins
    // dictionary-encoded occurrence table (see ppjoinPairs: same id scheme,
    // same exact-recall argument) — the frequency table, ordered lists and
    // the prefix×full candidate join all carry fixed-width longs instead of
    // trigram strings.
    val occ = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val freq = occ.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // cached: BOTH the prefix index and the full-list probe side scan this
    // (without it the occ+freq join+groupBy pipeline runs twice). Keeps
    // (df, h) so both exploded sides can drop df=1 ids — an id in exactly
    // one document has no cross-document join partner, so the filter
    // shrinks the shuffled explode volume with zero recall loss (n still
    // counts ALL elements; only the join inputs shrink).
    val ordered = CacheScope.track(occ.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("os"))
      .select(col("doc_id"), size(col("os")).as("n"), col("os")))
    // prefix length n − ⌈t·n − 1e-9⌉ + 1: the 1e-9 slack keeps ceil
    // conservative under double rounding (too-long prefix = extra
    // candidates, never a missed pair)
    val prefix = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("os"), lit(1),
        (col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1).cast("int")))
        .as(Seq("pos", "e")))
      .filter(col("e.df") >= 2) // positions computed BEFORE the filter stay full-list positions
      .select(col("doc_id"), col("n"), col("pos"), col("e.h").as("h"))
    val full = ordered.select(col("doc_id"), col("n"),
      posexplode(col("os")).as(Seq("pos", "e")))
      .filter(col("e.df") >= 2)
      .select(col("doc_id"), col("n"), col("pos"), col("e.h").as("h"))
    // position filter (the PPJoin bound adapted to containment): at the
    // FIRST shared occurrence no earlier element of either df-ordered list
    // is shared, so |A∩B| ≤ min(na−pa, nb−pb); qualifying needs ≥ ⌈t·na⌉.
    // Keeping a pair when ANY occurrence passes is a superset of
    // first-match-passes — recall stays exact, candidates shrink BEFORE
    // the distinct shuffle and the verify joins.
    val cand = prefix.as("a")
      .join(full.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id") &&
          col("a.n") <= col("b.n") &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
            ceil(lit(threshold) * col("a.n") - lit(1e-9)))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // Hash-overlap prefilter (round 17 — the suffix-filter idea taken to
    // its exact limit): before the pairs touch the STRING shingle
    // arrays, each candidate fetches both documents' already-cached
    // (df, h)-sorted id arrays and counts their multiset overlap in one
    // O(na+nb) codegen'd merge ([[graft.functions.VectorKernels
    // .sortedOverlapCount]]). That count is an exact UPPER bound on
    // |A∩B| over the shingle strings (a shared shingle always matches;
    // collisions only inflate), so dropping pairs with
    // overlap < ⌈t·min(na, nb)⌉ loses no qualifying pair — recall stays
    // exact — while the expensive per-pair string intersect/union verify
    // below runs only on near-qualifying survivors (measured at sf0.1:
    // 148,647 candidates → ~26 survivors, a 5,700× cut in verify input;
    // 16-byte long-struct entries replace ~30-byte strings in the
    // pair-side array shuffle).
    val pruned = cand
      .join(ordered.select(col("doc_id").as("doc_a"), col("os").as("os_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(ordered.select(col("doc_id").as("doc_b"), col("os").as("os_b"),
        col("n").as("n_b")), Seq("doc_b"))
      .filter(graft.functions.VectorKernels
        .sorted_overlap(col("os_a"), col("os_b")).cast("double") >=
        ceil(lit(threshold) * least(col("n_a"), col("n_b")) - lit(1e-9)))
      .select(col("doc_a"), col("doc_b"))
    val c = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    pruned
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (c / least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
          .as("containment"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("containment") >= threshold)
  }

  /** Exact n-gram-Jaccard pairs via a PPJoin-style prefix-filtered
    * set-similarity self-join — the exact path for heavy-tail corpora
    * where [[jaccardPairsExact]]'s Σdf² blows up on near-universal
    * shingles.
    *
    * Each doc's shingles are ordered rarest-first by global document
    * frequency; a pair with jaccard ≥ t MUST share a shingle within the
    * first n − ⌈t·n⌉ + 1 of each side (prefix filter, since |A∩B| ≥
    * ⌈t·max(na,nb)⌉), so only prefixes are indexed — Σdf² shrinks by
    * ~(1−t)² and, crucially, on the RARE end of the frequency spectrum.
    * Candidates are further pruned by the length filter (t·na ≤ nb ≤ na/t)
    * and the PPJoin position filter: at the first shared prefix position
    * (pa, pb; 0-based in the df-ordered arrays) no earlier element is
    * shared, so |A∩B| ≤ min(na−pa, nb−pb); qualifying pairs need
    * |A∩B| ≥ ⌈t/(1+t)·(na+nb)⌉. Keeping a pair when ANY shared occurrence
    * passes is a superset of first-match-passes, so recall stays exact.
    * Survivors are verified with the exact array jaccard (the shingle-set
    * side stays broadcast-eligible; at corpus scale AQE demotes it to a
    * shuffle join keyed on doc_id). */
  def ppjoinPairs(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold < 1, "prefix filter needs 0 < t < 1")
    val sh = CacheScope.track(shingleSets(docs)) // multi-consumer plan: cached blocks are LRU-evicted under pressure, and re-shingling per consumer measured 3-8x slower
    // Dictionary-encode shingles to 64-bit ids BEFORE anything shuffles:
    // the frequency table, the df-ordered prefix index and the candidate
    // self-join all carry fixed-width longs instead of trigram strings
    // (severalfold fewer shuffle bytes at corpus scale). An xxhash64
    // collision merges two shingles' ids, which can only ADD candidate
    // pairs — survivors are exact-verified on the real shingle arrays —
    // while recall stays exact: a truly shared shingle has the same id on
    // both sides, ids order consistently by (df, id) in every document,
    // and the prefix pigeonhole argument runs unchanged over id multisets.
    val occ = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val freq = occ.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // cached: the candidate self-join scans the prefix index twice
    // (without it the occ+freq join+groupBy+slice pipeline runs twice)
    val prefix = CacheScope.track(occ.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("os"))
      .select(col("doc_id"), size(col("os")).as("n"),
        // 1e-9 slack keeps ceil conservative when t*n rounds to just above
        // an exact integer (same slack as every other bound in this file):
        // a too-long prefix only admits extra candidates, never drops one.
        slice(col("os"), lit(1),
          (size(col("os")) - ceil(lit(threshold) * size(col("os")) - lit(1e-9)) + 1).cast("int"))
          .as("prefix")))
    val pinv = prefix.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "e")))
      // df=1 ids have no cross-document partner: dropping them shrinks the
      // self-joined inverted index with zero recall loss (positions are
      // full-prefix positions, computed before the filter)
      .filter(col("e.df") >= 2)
      .select(col("doc_id"), col("n"), col("pos"), col("e.h").as("h"))
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a.n") + col("b.n")) - lit(1e-9))
    val cand = pinv.as("a")
      .join(pinv.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= lit(threshold) * col("a.n") - lit(1e-9) &&
          col("a.n") >= lit(threshold) * col("b.n") - lit(1e-9) &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** 128 minhashes as one array<long> column over the shingle-set
    * projection. Narrow per-row work (no shuffle), one pass over the
    * shingles via the native [[graft.functions.MinHashKernel]]. */
  def minhashSignature(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      graft.functions.MinHashKernel.minhashSignature(col("sh"), hashA, hashB, Prime).as("sig"))

  /** Banded LSH candidate pairs: 32 bands × 4 rows. Shuffle keys on
    * (band, band-signature); bucket sizes track true duplicate-cluster
    * sizes, so the self-join stays near-linear at 100 TB (AQE splits any
    * skewed bucket). P(candidate | j) = 1-(1-j^4)^32 — ≥ 1-2e-14 at j≥0.89. */
  /** (doc_id, band, bsig) LSH band table from a signature frame — the
    * shuffle/bucket key of every minhash join, and the unit a historical
    * corpus index persists (see streaming.StreamingDedup). */
  def bandTable(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("bsig"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  def minhashCandidates(sig: DataFrame): DataFrame = {
    val bands = bandTable(sig)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, exact-verified: sketch recall, exact
    * precision. */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = CacheScope.track(shingleSets(docs)) // multi-consumer plan: cached blocks are LRU-evicted under pressure, and re-shingling 3x per query measured 3-8x slower
    // signature cached: the band self-join scans its derivation twice, and
    // the 128-hash minhash kernel is the expensive half of this operator
    // (bandTable itself is a cheap 32-slice re-derivation per scan)
    val sig = CacheScope.track(minhashSignature(sh))
    verifyPairs(minhashCandidates(sig), sh, threshold)
  }

  /** Join candidate pairs back to shingle sets and keep exact jaccard ≥ t. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** SimHash signature over shingle hashes: bit j is the sign of
    * Σ_shingles ±1 weighted by bit j of the shingle hash. Native one-pass
    * kernel; `portable = true` uses the md5-based hash that DuckDB can
    * reproduce exactly (see [[graft.functions.SimHashKernel]]), with 60
    * signature bits. */
  def simhashSignature(sh: DataFrame, portable: Boolean = false): DataFrame =
    sh.select(col("doc_id"),
      graft.functions.SimHashKernel.simhashSignature(col("sh"),
        if (portable) 60 else 64, portable).as("sig"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3):
    * pigeonhole blocking on 4 equal-width signature chunks — any pair
    * within hamming 3 shares at least one exact chunk, so blocking recall
    * is exact for the hamming ball. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      portable: Boolean = false): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming <= 3")
    val chunkBits = if (portable) 15 else 16
    val chunkMask = (1L << chunkBits) - 1
    val sig = CacheScope.track(simhashSignature(shingleSets(docs), portable)) // 3 consumers (chunks + 2 verify joins)
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("sig"), c * chunkBits).bitwiseAND(chunkMask).as("cval"))
    }
    val chunks = sig.select(col("doc_id"), explode(array(chunkCols: _*)).as("cc"))
      .select(col("doc_id"), col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    val cand = chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.cval") === col("y.cval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-document repeated-passage statistics — exact substring dedup
    * at chunk grain (the Lee-et-al. "deduplicate training data" pass
    * reduced to fixed token windows): the corpus is cut into
    * non-overlapping `chunkSize`-token chunks
    * ([[TextOps.chunkTokens]]), each chunk fingerprinted, and every
    * fingerprint occurring in MORE THAN ONE document reported with its
    * occurrence stats. Catches shared boilerplate/templates/quotes that
    * document-level dedup (whole-doc jaccard below threshold) misses.
    *
    * Plan at 100 TB: narrow per-doc generate + one md5 per chunk + one
    * hash aggregate keyed by the 128-bit fingerprint (map-side partial
    * combine absorbs within-partition repeats) — the [[exactStats]]
    * shuffle shape at chunk granularity; no joins, no all-pairs work. */
  def passageDups(docs: DataFrame, chunkSize: Int): DataFrame =
    TextOps.chunkTokens(docs, chunkSize, 0)
      .select(col("doc_id"), md5(col("chunk_text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)

  /** Winnowing fingerprint near-dup pairs — the MOSS document-
    * fingerprinting algorithm (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * hash every token k-gram, slide a w-hash window over the hash
    * sequence, select each window's MINIMUM (rightmost on ties). The
    * winnowing guarantee: any run of ≥ w+k−1 tokens shared by two
    * documents contributes at least one IDENTICAL selected fingerprint
    * to both — substring-level detection (what [[passageDups]]'s
    * aligned chunks only approximate) at an expected 2/(w+1) of the
    * k-gram fingerprints.
    *
    * Every step is integer-exact and cross-engine portable: k-gram hash
    * = top 40 bits of md5 (the portable-hash trick of
    * [[simhashSignature]]); the (min hash, rightmost position)
    * selection rule is ONE BIGINT window-MIN over the encoding
    * h·2²³ + (2²³−1 − pos) — lexicographic argmin without a struct
    * aggregate, positions bounded at 8M k-grams/doc (40+23 = 63 bits,
    * no overflow; the bound is ENFORCED — an oversized doc raises
    * rather than silently corrupting its fingerprints).
    * Pair overlap = |shared| / min(|A|,|B|), one double
    * division of exact counts. The 40-bit space makes cross-doc hash
    * collisions ~10⁻¹² per candidate pair — a deterministic, declared
    * screen (identical in the oracle), not silent error.
    *
    * Plan at 100 TB: narrow per-doc generate, ONE doc-keyed window
    * (never global), fingerprint-keyed equi-join with df ≥ 2 pruning
    * (pure optimization — a shared fingerprint has df ≥ 2 by
    * definition, so the pruned plan is result-identical) — the exact
    * shuffle shape of [[passageDups]] with provable substring recall.
    * The join cost is Σ df² over selected fingerprints; a web corpus
    * has hot boilerplate fingerprints (headers, licenses) that
    * degenerate it, and the standard production escape (MOSS does the
    * same) is an UPPER df cap — drop fingerprints appearing in more
    * than ~0.1% of documents, which only suppresses matches every
    * pipeline wants suppressed. Not applied here (the fixture has no
    * such boilerplate; max df is single digits) so the oracle stays an
    * exact mirror. */
  def winnowingPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col("text"))
    val kgrams = docs
      .select(col("doc_id"), posexplode(
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ",
              (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "kg")))
      .select(col("doc_id"),
        // ENFORCED bound, not just documented: the 63-bit encoding below
        // is only injective for pos ≤ 2²³−1; a longer document would
        // silently corrupt the window-min selection, so it fails loudly
        // here instead (a 100 TB corpus would pre-chunk such outliers)
        when(col("pos") <= lit(8388607),
          col("pos")).otherwise(raise_error(concat(
            lit("winnowingPairs: doc "), col("doc_id"),
            lit(" has > 8388607 k-grams; the 63-bit window-min encoding "
              + "would corrupt its fingerprints")))).as("pos"),
        expr("CAST(conv(substring(md5(kg), 1, 10), 16, 10) AS BIGINT)").as("h"))
    val key = col("h") * lit(8388608L) + (lit(8388607L) - col("pos"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = CacheScope.track(kgrams
      .withColumn("selkey", min(key).over(win))
      .withColumn("mx", max(col("pos")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("mx") - (w - 1)) // complete windows only
      .select(col("doc_id"), expr("selkey DIV 8388608").as("fp"))
      .distinct())
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("fp"))
    val shared = fps.join(hot, Seq("fp"))
    val pairs = shared.select(col("fp"), col("doc_id").as("doc_a"))
      .join(shared.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("nfp_a"), col("nfp_b"),
        (col("n_shared").cast("double") /
          least(col("nfp_a"), col("nfp_b")).cast("double")).as("overlap"))
  }

  /** Exact-substring duplication coverage (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — the
    * ExactSubstr method), re-expressed distributively at token grain.
    * Lee et al. build one corpus-wide suffix array and excise every
    * byte span ≥ 50 tokens that recurs anywhere in the corpus; a suffix
    * array is inherently a single sorted global structure, so the
    * Spark-native equivalent works from the identity that defines the
    * covered set instead:
    *
    *   a token lies in some corpus-repeated span of length ≥ L
    *   ⇔ it is covered by some length-L shingle that recurs in the
    *     corpus (count ≥ 2, within- OR cross-document — same as the
    *     suffix-array formulation, which is position-blind).
    *
    * (⇐ a recurring L-shingle IS a repeated span of length L; ⇒ every
    * token of a repeated span of length s ≥ L sits inside one of its
    * s−L+1 L-windows, each of which recurs wherever the span does.)
    * So the covered set — and therefore the per-document excision
    * accounting this operator reports — is EXACT, not an approximation;
    * only the maximal-span COUNT can differ from byte-grain ExactSubstr
    * when two repeated spans abut within L tokens and merge.
    *
    * Per document: the recurring-shingle start positions, sorted, merge
    * into maximal covered runs (break when the gap between consecutive
    * starts exceeds L — intervals [p, p+L−1] overlap or touch up to
    * that); emits (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_frac)
    * for documents with at least one covered token.
    *
    * Plan at 100 TB: shingle fingerprints are md5-keyed (bounded key
    * width regardless of span text); the recurrence table is ONE
    * fp-keyed agg with map-side partials, probed back by the shingle
    * stream as a shuffle-hash join (count side is pre-aggregated, the
    * stream side is fat — same rationale as TextOps.lmScore); the span
    * merge is a doc-keyed window, never global. Hot boilerplate
    * fingerprints (licenses, headers) fatten the probe join's matched
    * stream, not a build-side hash map — no df cap needed, unlike
    * [[winnowingPairs]]' pair join, because coverage never materializes
    * pairs (Σ df, not Σ df²). */
  def exactSubstrCoverage(docs: DataFrame, L: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col("text"))
    // cached: the shingle stream feeds BOTH the recurrence agg and the
    // probe side of the join back — without the cache the md5-per-window
    // generate (the dominant cost) runs twice
    val sh = CacheScope.track(docs
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(when(size(toks) >= L,
          transform(sequence(lit(0), size(toks) - L),
            i => md5(concat_ws(" ",
              (0 until L).map(j => element_at(toks, i + j + 1)): _*))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "fp"))))
    val hot = sh.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("fp"))
    val dup = sh.join(hot.hint("shuffle_hash"), Seq("fp"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > L, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_tokens"), col("sid"))
      .agg((max(col("pos")) + L - min(col("pos"))).as("covered"))
    spans.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("covered")).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"),
        col("dup_tokens"),
        (col("dup_tokens").cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** Bloom-filter dedup pre-screen (Bloom 1970; the shape of Spark's own
    * runtime bloom-join pruning and of every web-crawl "have I seen this
    * URL/content" gate): the HISTORY side compacts to an m-bit bitset —
    * here m = 2¹⁶, 8 KiB regardless of history size — that BROADCASTS to
    * every executor, and the arriving batch probes it with k = 4 bit
    * tests per row, no join against history at all. One-sided error by
    * construction: a true duplicate always probes all-set bits (no false
    * negatives — the guarantee the spec asserts), a false positive rate
    * of ≈ (1−e^(−kn/m))^k falls to the exact verify that follows.
    *
    * Fully portable arithmetic so the oracle replays the SAME filter:
    * content hash h = first 15 md5 hex digits as a 60-bit BIGINT (the
    * portable-hash trick of [[simhashSignature]]), bit positions by
    * Kirsch–Mitzenmacher double hashing pos_j = (h1 + j·h2) mod m with
    * h1 = h mod m, h2 = ⌊h/m⌋ mod m — integer-only, engine-identical.
    *
    * Plan at 100 TB: history → one distinct-position agg (≤ m rows) →
    * 1024-word bit-OR agg → BOUNDED driver collect (m/64 rows by
    * construction, independent of data size) → literal-array broadcast
    * probed by a narrow per-row expression. The batch never shuffles;
    * history is read once, ever, and the bitset persists across batches
    * in a real deployment. The exact-verify contract columns
    * (`n_seen`/`is_true_dup`, a chunk-keyed semi-join like
    * [[passageDups]]'s shuffle) ride along ONLY to make the screen's
    * one-sided-error guarantee oracle-checkable — a deployment runs the
    * probe alone and verifies just the flagged survivors.
    *
    * Split as [[bloomBitset]] (the one pass over history) +
    * [[bloomProbe]] (the pure per-batch transform) so the ingest STREAM
    * reuses the probe unchanged
    * ([[graft.streaming.StreamingDedup.bloomWriter]]); [[bloomScreen]]
    * composes both plus the exact-verify contract join. */
  private val BloomBits = 1 << 16
  private val BloomK = 4

  private def bloomUnits(docs: DataFrame, chunkSize: Int): DataFrame =
    TextOps.chunkTokens(docs, chunkSize, 0)
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("fp"))

  // 60-bit nonnegative content hash over the chunk fingerprint
  // (portable-hash trick); mod/div by 2¹⁶ as exact bit ops (never
  // double-divide a >2⁵³ long); Kirsch–Mitzenmacher double hashing
  private def bloomPositions: Seq[Column] = {
    val hc = expr("CAST(conv(substring(fp, 1, 15), 16, 10) AS BIGINT)")
    val h1 = hc.bitwiseAND(lit(0xFFFFL))
    val h2 = shiftright(hc, 16).bitwiseAND(lit(0xFFFFL))
    (0 until BloomK).map(j =>
      pmod(h1 + lit(j.toLong) * h2, lit(BloomBits.toLong)))
  }

  /** Compact the history's chunk-fingerprint set into the m-bit Bloom
    * bitset — the ONE pass over history, ending in a driver collect
    * BOUNDED at m/64 = 1024 rows by construction (independent of data
    * size). The returned 8 KiB array is what a deployment persists and
    * broadcasts across every later batch and stream. */
  def bloomBitset(hist: DataFrame, chunkSize: Int = 32): Array[Long] = {
    val words = bloomUnits(hist, chunkSize)
      .select(explode(array(bloomPositions: _*)).as("pos"))
      .distinct()
      .groupBy((col("pos") / 64).cast("int").as("word"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(BloomBits / 64)(i => words.getOrElse(i, 0L))
  }

  /** The PURE probe transform: per doc, count chunks whose k Bloom bits
    * are all set in the (literal-embedded, broadcast-by-value) bitset.
    * Narrow per-row expressions + one batch-local doc-keyed agg — no
    * join, no streaming state, Append-safe, so the SAME function serves
    * batch and foreachBatch micro-batches (stream==batch law in
    * StreamingDedupSpec). */
  def bloomProbe(docs: DataFrame, bitset: Array[Long],
      chunkSize: Int = 32): DataFrame = {
    require(bitset.length == BloomBits / 64, s"bitset must be ${BloomBits / 64} words")
    val litArr = typedLit(bitset.toSeq)
    // functions.shiftleft only takes a literal shift; build the
    // column-shift Catalyst node directly
    def shl1(n: Column): Column = {
      import org.apache.spark.sql.graftbridge.Bridge
      import org.apache.spark.sql.catalyst.expressions.ShiftLeft
      Bridge.column(ShiftLeft(Bridge.expression(lit(1L)),
        Bridge.expression(n.cast("int"))))
    }
    val probeBits = bloomPositions.map { p =>
      (element_at(litArr, (p / 64).cast("int") + 1)
        .bitwiseAND(shl1(pmod(p, lit(64L)))) =!= 0L)
    }.reduce(_ && _)
    bloomUnits(docs, chunkSize)
      .withColumn("maybe", probeBits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("maybe").cast("long")).as("n_maybe"))
  }

  def bloomScreen(hist: DataFrame, batch: DataFrame,
      chunkSize: Int = 32): DataFrame = {
    val bitset = bloomBitset(hist, chunkSize)
    val histFp = bloomUnits(hist, chunkSize).select(col("fp")).distinct()
      .withColumn("__h", lit(1))
    val seen = bloomUnits(batch, chunkSize)
      .join(histFp.hint("shuffle_hash"), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("__h").isNotNull.cast("long")).as("n_seen"))
    bloomProbe(batch, bitset, chunkSize)
      .join(seen, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_maybe"),
        col("n_seen"), (col("n_maybe") > 0).as("maybe_dup"),
        (col("n_seen") > 0).as("is_true_dup"))
  }
}
