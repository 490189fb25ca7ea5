package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All operators are pure narrow column expressions (whole-stage codegen,
  * no shuffle) until an explicit aggregation — at 100 TB the scan cost
  * dominates and these add streaming per-row work only.
  */
object TextOps {

  /** Whitespace tokenization. The corpus is single-space separated
    * (FIXTURES.md §B); a BPE-ish regex variant is [[regexTokens]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** Tokenizer for general text: words, numbers, or single
    * punctuation/symbol characters (BPE-pretokenizer-shaped). */
  def regexTokens(text: Column): Column = {
    // drop the empty leading element regexp-split can produce
    filter(split(text, """\s+|(?=[^\w\s])"""), t => length(t) > 0)
  }

  /** Distinct word n-gram shingles of the token array (dedup unit). Empty
    * array when the document has fewer than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n, array_distinct(ngramsOf(toks, n)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams of a token array WITH multiplicity (repetition
    * statistics need occurrence counts; [[shingles]] distincts). */
  private def ngramsOf(toks: Column, n: Int): Column =
    transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))

  /** English marker stopwords present in general text. */
  val enMarkers: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Count of marker-stopword occurrences (language-ID / quality signal). */
  def markerCount(text: Column, markers: Seq[String] = enMarkers): Column =
    size(filter(tokens(text), t => t.isin(markers.map(m => m: Any): _*)))

  /** Heuristic language-ID: marker-stopword ratio thresholding.
    * (The classic n-gram-profile approach reduces to scoring marker token
    * sets per language; with this corpus's vocabulary only the English
    * marker set is informative.) */
  def langId(text: Column): Column = {
    val n = size(tokens(text))
    val ratio = markerCount(text).cast("double") / n.cast("double")
    when(n === 0, lit("und")).when(ratio >= 0.02, lit("en")).otherwise(lit("und"))
  }

  /** Quality features: token count, mean token length, stopword ratio,
    * and a binary quality gate (Gopher-rule-shaped thresholds). */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text")))
    val meanLen = (length(col("text")) - (n - 1)).cast("double") / n.cast("double")
    val swRatio = markerCount(col("text")).cast("double") / n.cast("double")
    docs.select(
      col("doc_id"),
      n.as("n_tokens"),
      meanLen.as("mean_token_len"),
      swRatio.as("stopword_ratio"),
      (n.between(20, 100000) && meanLen.between(2.0, 12.0)).cast("int").as("is_quality"))
  }

  /** Exact content fingerprint. */
  def fingerprint(text: Column): Column = md5(text)

  /** Order-insensitive fingerprint: md5 over the sorted distinct token set
    * (catches shuffled/duplicated-token variants of the same content). */
  def normalizedFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Token frequency across the corpus: explode → count. The explode is a
    * narrow 1→n expansion; the count is a partial+final hash aggregate
    * keyed by term (vocabulary-bounded state). */
  def termFrequencies(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** TF-IDF per (doc, term): `tf` term count in doc, `df` document
    * frequency, `n_docs` corpus size, plus two scores —
    *   - `tfidf_scaled = tf * ((n_docs * 1e6) DIV df)`: a rational-idf
    *     variant in EXACT integer arithmetic (same BIGINT in any engine;
    *     ln(x) is not bit-portable across math libraries, measured 4/5500
    *     inputs differing between JVM and DuckDB);
    *   - `tfidf_ln = tf * ln(n_docs/df)`: the classic definition, for
    *     in-engine consumers (ScalaTest-checked, excluded from
    *     cross-engine hash compares).
    * Plan shape at scale: two vocabulary-keyed hash aggregates + one
    * shuffle join on term + a broadcast of the 1-row corpus count. */
  def tfIdf(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_scaled", col("tf") * expr("(n_docs * 1000000) DIV df"))
      .withColumn("tfidf_ln",
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("n_docs"), col("tfidf_scaled"), col("tfidf_ln"))
  }

  /** Fixed-size token-window chunking with overlap — the RAG/pretraining
    * document splitter. One row per chunk: (doc_id, chunk_id, start_tok,
    * n_tokens, chunk_text). Starts advance by `chunkSize - overlap`; the
    * final chunk may be shorter; a doc shorter than one chunk yields a
    * single chunk. Narrow per-row generate — no shuffle at any scale. */
  def chunkTokens(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val toks = tokens(col("text"))
    val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(step))
    docs
      .select(col("doc_id"), toks.as("toks"),
        posexplode(starts).as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        slice(col("toks"), col("start_tok") + 1, lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /** Repetition features (Gopher-rule family): per-document n-gram
    * repetition statistics — the standard "drop boilerplate / templated /
    * keyboard-mash documents" filter of a corpus build, complementing
    * [[qualityFeatures]]'s length/stopword rules.
    *
    * Per document: `ttr` the type-token ratio; `top2_cnt` the occurrence
    * count of the most frequent word 2-gram; `dup2_frac` / `dup3_frac`
    * the fraction of n-gram occurrences whose n-gram occurs more than
    * once in the document; `pass_repetition` a Gopher-shaped gate.
    *
    * Plan at scale: explode n-grams → hash aggregate keyed (doc_id, gram)
    * (map-side partial combine absorbs the within-partition repeats that
    * are the very signal measured) → hash aggregate keyed doc_id — the
    * [[tfIdf]] shuffle shape, once per n. All counters are exact
    * integers; each fraction is one double division (cross-engine
    * bit-exact).
    *
    * MEASURED dead end (do not "simplify" back): fusing the three
    * n-gram families into one struct-tagged explode over
    * `concat(transform(...struct...))` — one scan, two shuffles on
    * paper — ran 40× SLOWER (0.15 s → 6.6 s at sf0.1, stable across
    * runs): the struct-array concat falls off the codegen fast path and
    * allocates per gram. Three flat-string explodes keep every stage in
    * whole-stage codegen and the scans are the cheap part. */
  def repetitionFeatures(docs: DataFrame): DataFrame = {
    def gramStats(n: Int, p: String) =
      docs.select(col("doc_id"),
        explode(when(size(tokens(col("text"))) >= n,
          ngramsOf(tokens(col("text")), n))
          .otherwise(array().cast("array<string>"))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"${p}_total"),
          max(col("c")).as(s"${p}_top"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as(s"${p}_dup"))
    val types = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id")).agg(countDistinct(col("t")).as("n_types"))
    def frac(num: Column, den: Column): Column =
      when(coalesce(den, lit(0L)) === 0, lit(0.0))
        .otherwise(coalesce(num, lit(0L)).cast("double") / den.cast("double"))
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(types, Seq("doc_id"), "left")
      .join(gramStats(2, "g2"), Seq("doc_id"), "left")
      .join(gramStats(3, "g3"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        frac(col("n_types"), col("n_tokens")).as("ttr"),
        coalesce(col("g2_top"), lit(0L)).as("top2_cnt"),
        frac(col("g2_dup"), col("g2_total")).as("dup2_frac"),
        frac(col("g3_dup"), col("g3_total")).as("dup3_frac"))
      .withColumn("pass_repetition",
        (col("dup2_frac") <= 0.2 && col("dup3_frac") <= 0.18).cast("int"))
  }

  /** Benchmark decontamination: per training document, the distinct word
    * n-gram shingles it shares with ANY document of the evaluation/
    * benchmark set (the GPT-3/Lee-et-al. overlap check that keeps eval
    * answers out of the training corpus). Returns one row per
    * contaminated training doc: total distinct n-grams, shared n-grams,
    * number of benchmark docs hit, shared fraction, and a `flagged` gate
    * at `flagFrac`.
    *
    * Plan at 100 TB: n-grams are hashed to fixed-width 60-bit keys
    * ([[Sampling.hash60]] — engine-portable); the benchmark side (eval
    * sets are MBs, not TBs) is exploded, deduped and BROADCAST, so the
    * training side is one narrow explode + broadcast-hash semi-shaped
    * join + a (doc_id)-keyed partial+final aggregate — no all-pairs work
    * and no shuffle of the corpus itself. */
  def contaminationReport(train: DataFrame, bench: DataFrame, n: Int,
      flagFrac: Double): DataFrame =
    contaminationReportIndexed(train, gramIndex(bench, n), n, flagFrac)

  /** (doc_id, gh) distinct-n-gram hash index of a document set — the
    * precomputable benchmark side of [[contaminationReportIndexed]]. In
    * production this persists once per eval-set release.
    *
    * MEASURED: exploding the [[shingles]] array directly costs 6x more
    * (3.4 s vs 0.55 s on the sf0.1 training slice) — the higher-order
    * `transform`/`array_distinct` expressions are CodegenFallback inside
    * the Generate, so each batch drops out of whole-stage codegen.
    * Instead explode a primitive index range (codegen'd) and build each
    * gram + hash per OUTPUT row with flat codegen'd expressions; the
    * shingle-set DISTINCT becomes a narrow (doc_id, gh) aggregate. Same
    * output as hashing the distinct shingle set: dedup after hashing
    * collapses 60-bit collisions within a doc, which every consumer
    * (countDistinct / equi-join) collapses anyway. */
  def gramIndex(df: DataFrame, n: Int): DataFrame = {
    val toks = col("__toks")
    val starts = when(size(toks) >= n,
      sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    df.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"), explode(starts).as("__i"))
      .select(col("doc_id"), Sampling.hash60(concat_ws(" ",
        (0 until n).map(j => element_at(toks, col("__i") + j)): _*)).as("gh"))
      .distinct()
  }

  /** [[contaminationReport]] against a prebuilt benchmark gram index —
    * the shape the streaming ingest screen reuses per micro-batch. */
  def contaminationReportIndexed(train: DataFrame, benchGrams: DataFrame,
      n: Int, flagFrac: Double): DataFrame = {
    val overlap = gramIndex(train, n)
      .join(broadcast(benchGrams.toDF("bench_id", "gh")), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    val totals = train.select(col("doc_id"),
      size(shingles(col("text"), n)).cast("long").as("n_grams"))
    overlap.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"), col("n_bench_docs"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("shared_frac"))
      .withColumn("flagged", (col("shared_frac") >= flagFrac).cast("int"))
  }

  /** Sequence packing — the concat-and-chunk step that turns a curated
    * document stream into fixed-length training sequences: documents are
    * laid end-to-end in `doc_id` order on a global token axis and cut
    * every `seqLen` tokens (documents may span a cut — standard causal-LM
    * packing, no padding except in the final sequence). Returns one row
    * per training sequence: `(seq_id, n_docs, seq_tokens, n_split_docs,
    * first_doc, last_doc)` — `seq_tokens == seqLen` everywhere but the
    * last row, and `n_split_docs` counts documents continuing into the
    * next sequence (the cross-boundary attention-contamination metric).
    *
    * The one global dependency is each document's starting offset on the
    * token axis — an exact prefix sum over a total order, which is the
    * [[OrderStats.withGlobalPrefixSum]] two-pass range-partitioned
    * construction (NOT a single-reducer `SUM OVER (ORDER BY ...)`): P
    * parallel local cumsums + a broadcast P-row offset frame. Everything
    * downstream is narrow (a ≤(n/L+1)-way `sequence` generate per doc)
    * plus one hash aggregate keyed by `seq_id`. Two keyed full-data
    * shuffles total at any scale. */
  def packSequences(docs: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val withN = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n"))
    val spans = OrderStats
      .withGlobalPrefixSum(withN, Seq(col("doc_id")), col("n"), "fin")
      .withColumn("st", col("fin") - col("n"))
    val L = lit(seqLen.toLong)
    spans
      .select(col("doc_id"), col("st"), col("fin"),
        explode(sequence(expr(s"st DIV $seqLen"),
          expr(s"(fin - 1) DIV $seqLen"))).as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("fin"), (col("seq_id") + 1) * L)
          - greatest(col("st"), col("seq_id") * L)).as("seq_tokens"),
        sum(when(col("fin") > (col("seq_id") + 1) * L, 1L).otherwise(0L))
          .as("n_split_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Adjacent-symbol pair counts at character grain — the inner statistic
    * of BPE tokenizer TRAINING (each merge round picks the most frequent
    * adjacent pair; this computes the full round-0 count table, and the
    * same shape re-runs per round on re-encoded symbols). Pairs never
    * cross token boundaries, matching the word-boundary pretokenizer.
    *
    * Plan at 100 TB: two narrow generates (token explode, then a
    * primitive index-range explode — the [[gramIndex]] codegen-friendly
    * idiom; both stay in whole-stage codegen) into one hash aggregate
    * keyed by the pair — vocabulary-bounded state, map-side partial
    * combine absorbs the heavy repeats. No joins, no shuffle of the
    * corpus. */
  def bpePairCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))

  /** Count-Min sketch frequency estimation — the fixed-memory answer to
    * "how often does each term occur" when the vocabulary itself is too
    * large to aggregate exactly (the 100 TB regime where
    * [[termFrequencies]]' per-term state stops fitting): the sketch is
    * `depth × width` counters REGARDLESS of vocabulary size, each counter
    * summing the terms that hash into it, and a term's estimate is the
    * MIN over its `depth` cells — always ≥ the true count (collisions
    * only add), within εN with high probability for width e/ε.
    *
    * Relational formulation (public Cormode–Muthukrishnan construction):
    * the sketch build is one explode×depth → hash aggregate keyed
    * (seed, cell) — map-side partial combine collapses each partition to
    * ≤ depth·width rows before the shuffle, which IS the sketch's merge
    * (elementwise add, exact integer, order-independent). No UDAF needed
    * and every stage stays in codegen. The tiny sketch broadcasts back to
    * the probe side. Returns, for the `topK` exact heavy hitters, the
    * true count, the sketch estimate, the always-true overestimate
    * contract and the error — the verifiable core of the sketch.
    * Hashing is the engine-portable [[Sampling.hash60]], one per
    * occurrence, sliced into the `depth` row hashes (see body). */
  def cmsTermEstimates(docs: DataFrame, width: Int, depth: Int,
      topK: Int): DataFrame = {
    // ONE portable hash per occurrence; row i's cell is the hash's i-th
    // 15-bit slice (public derive-d-hashes-from-one construction) —
    // measured 4x cheaper than an md5 per (seed, occurrence), since the
    // md5 dominates the sketch build. Needs depth*15 <= 60, width <= 2^15.
    require(width > 0 && width <= 32768, "width in [1, 2^15]")
    require(depth > 0 && depth <= 4, "depth in [1, 4] (15-bit slices of hash60)")
    require(topK > 0, "positive topK")
    val toks = docs.select(explode(tokens(col("text"))).as("term"))
    val sliceCell = expr(s"shiftright(h, 15 * seed) % $width")
    // stack() with literal shifts: measured 2.4x cheaper than
    // explode(sequence)+column-shift for the same (seed, cell) rows
    val stackArgs = (0 until depth)
      .map(i => s"$i, shiftright(h, ${15 * i}) % $width").mkString(", ")
    val cells = toks
      .select(Sampling.hash60(col("term")).as("h"))
      .selectExpr(s"stack($depth, $stackArgs) as (seed, cell)")
      .groupBy(col("seed"), col("cell")).agg(count(lit(1)).as("c"))
    val truth = toks.groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("term")).limit(topK)
    truth
      .select(col("term"), col("true_cnt"), Sampling.hash60(col("term")).as("h"),
        explode(sequence(lit(0), lit(depth - 1))).as("seed"))
      .withColumn("cell", sliceCell)
      .drop("h")
      .join(broadcast(cells), Seq("seed", "cell"))
      .groupBy(col("term"), col("true_cnt"))
      .agg(min(col("c")).as("est_cnt"))
      .select(col("term"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("true_cnt")).cast("int").as("overestimate_ok"),
        (col("est_cnt") - col("true_cnt")).as("err"))
  }

  /** PII/noise scrubbing: emails, URLs and long digit runs replaced by
    * typed placeholder tokens. Patterns stay within the regex subset that
    * Java and RE2-family engines interpret identically. Pure per-row
    * projection — fully codegen'd, no shuffle. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^ ]+", "<URL>")
    regexp_replace(url, "[0-9]{7,}", "<NUM>")
  }

  /** BM25 document ranking for a literal query-term set (k1=1.2, b=0.75):
    * the classic keyword-retrieval scorer over the same tf/df/dl corpus
    * statistics [[tfIdf]] computes. Returns the top `k` docs by score
    * with (rank, doc_id, n_terms_hit, dl, score).
    *
    * Cross-engine determinism:
    *   - idf is the RATIONAL variant in exact integer millionths,
    *     `((n_docs - df)·2 + 1)·1e6 DIV (2·df + 1)` — an exact-BIGINT
    *     mirror of (n−df+0.5)/(df+0.5) — because ln() is not
    *     bit-portable across math libraries (see [[tfIdf]]);
    *   - the per-term score is then ONE fixed IEEE double sequence over
    *     exact integer inputs (tf, dl, total_dl, n_docs), and the
    *     per-doc sum folds over the hit terms SORTED BY TERM (a shuffle-
    *     order-dependent double `sum` would not be reproducible).
    *
    * Plan shape at scale: the two vocabulary-keyed hash aggregates of
    * tfIdf, with the query-term `isin` filter pushed BELOW the tf
    * aggregate (Catalyst pushes a grouping-key predicate through the
    * agg), so the candidate shuffle carries only posting-list rows for
    * the query terms — the inverted-index access pattern; docs with no
    * hit are never scored. Global top-k compiles to
    * TakeOrderedAndProject (no global sort). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(sum(col("dl")).as("total_dl"), count(lit(1)).as("n_docs"))
    val hits = tf.filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    // BIGINT bound: the numerator tops out at n_docs·2e6, overflowing
    // past ~4.6e12 DOCUMENTS (not bytes) — far beyond any real corpus
    // (100 TB at 10 KB/doc is 1e10 docs, 460x under the bound)
    val idfScaled = expr("((n_docs - df) * 2 + 1) * 1000000 DIV (2 * df + 1)")
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val tfD = col("tf").cast("double")
    val s = idfScaled.cast("double") *
      (tfD * lit(2.2) / (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))) /
      lit(1000000.0)
    val scored = hits.select(col("doc_id"), col("dl"), col("term"), s.as("s"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms_hit"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("s")))),
            p => p.getField("s")),
          lit(0.0), (acc, x) => acc + x).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    // rank over the already-limited k rows (bounded window)
    scored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("dl"), col("score"))
  }

  /** The Gopher-rules quality battery (Rae et al. 2021, §A1.1 — the
    * canonical LLM-data document filter set), extending
    * [[qualityFeatures]]' minimal gate with the symbol / alphabetic /
    * ellipsis rules: token count and mean word length in range,
    * fraction of words containing an alphabetic character ≥ 0.8,
    * ellipsis-ended word fraction < 0.3, #/$ symbol-to-word ratio
    * < 0.1, and ≥ 2 marker stopwords. Every feature is exact-integer or
    * ONE double division; the regexes stay in the Java∩RE2 subset
    * ([[scrubPii]]'s portability rule), so the whole battery replicates
    * bit-for-bit in the oracle. Narrow per-row work — at 100 TB this is
    * scan-dominated streaming arithmetic, the cheapest filter class a
    * pipeline has. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val meanLen = (length(col("text")) - (n - 1)).cast("double") / n.cast("double")
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / n.cast("double")
    val ellipsisFrac = size(filter(toks,
      t => t.endsWith("...") || t.endsWith("…")))
      .cast("double") / n.cast("double")
    val nSymbols = length(col("text")) -
      length(translate(col("text"), "#$", ""))
    val symbolRatio = nSymbols.cast("double") / n.cast("double")
    val stopHits = markerCount(col("text"))
    docs.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      meanLen.as("mean_token_len"),
      alphaFrac.as("alpha_word_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      symbolRatio.as("symbol_word_ratio"),
      stopHits.cast("long").as("stop_hits"),
      (n.between(20, 100000) && meanLen.between(3.0, 10.0) &&
        alphaFrac > 0.8 && ellipsisFrac < 0.3 && symbolRatio < 0.1 &&
        stopHits >= 2).cast("int").as("passes_gopher"))
  }

  /** Feature-hashed document vectors (the hashing trick, Weinberger et
    * al., ICML'09): token t adds sign(t) ∈ {+1, −1} to coordinate
    * h(t) mod dim — a fixed-width, vocabulary-free document embedding
    * from one narrow pass + one doc-keyed agg, the classic cheap
    * vectorization before a learned encoder exists (and the bridge from
    * the text family into the ANN surface: output is the standard
    * (vec_id, embedding) shape every [[Similarity]] operator consumes).
    * Hash = top 40 bits of md5 (cross-engine portable, as in
    * [[Dedup.winnowingPairs]]); sign = parity of the next bit; counts
    * are exact integers, so the vectors — and every cosine over them —
    * replicate bit-for-bit in the oracle.
    *
    * Plan at 100 TB: explode → (doc, coord)-keyed agg with map-side
    * partials → doc-keyed assembly; no joins, vocabulary state O(dim)
    * per doc regardless of corpus vocabulary (the point of the trick). */
  def hashVectors(docs: DataFrame, dim: Int = 32): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(t), 1, 10), 16, 10) AS BIGINT)").as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(dim)).cast("int").as("j"),
        expr(s"CAST(CASE WHEN (h DIV $dim) % 2 = 0 THEN 1 ELSE -1 END AS BIGINT)").as("s"))
      .groupBy(col("doc_id"), col("j")).agg(sum(col("s")).as("c"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("c")))).as("m"))
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("double"))
          .as("embedding"))

  /** Bigram-LM quality screen (CCNet-shaped: score every document against
    * an n-gram LM trained on the corpus itself, surface the worst k).
    * The model is add-one-smoothed: p(w2|w1) = (c(w1 w2) + 1) /
    * (c(w1 ·) + |V|), with c(w1 ·) the count of w1 as a bigram PREFIX
    * and |V| the corpus vocabulary size. A document's score is its MEAN
    * bigram probability — the monotone stand-in for perplexity that
    * avoids ln(), which is not bit-portable across engines (same reason
    * [[tfIdf]] uses rational idf). Low mean probability = "perplexing"
    * text: the triage list a CCNet-style pipeline cuts or down-weights.
    *
    * Float determinism: each probability is ONE double division of exact
    * BIGINT counts; the per-doc sum folds in bigram-POSITION order
    * (array_sort(collect_list(struct(pos, p))) ↔ DuckDB
    * list(p ORDER BY pos)); the mean is one further division. Bit-exact.
    *
    * Plan at 100 TB: the bigram and prefix tables are term-keyed hash
    * aggs with map-side partials (the count step of any n-gram LM
    * build); scoring re-joins the exploded bigram stream against them on
    * their keys as SHUFFLE_HASH joins, pinned in code (not prose): a
    * web-corpus bigram vocabulary does not broadcast, and shuffle-hash
    * beats sort-merge here because the pre-aggregated count side (one
    * row per distinct term) builds the hash map while the fat exploded
    * stream probes without either side sorting. Only |V| — a 1-row
    * agg — broadcasts back. A web-scale build would additionally prune
    * the count tables (c2 ≥ 2 → back off to the unigram floor) exactly
    * like the df ≥ 2 pruning in Dedup.containment; kept exact here. */
  def lmScore(docs: DataFrame, k: Int): DataFrame = {
    val top = lmScoreAll(docs).orderBy(col("lm_score").asc, col("doc_id"))
      .limit(k)
    // rank over the already-limited k rows (bounded window)
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("lm_score").asc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("n_bigrams"),
        col("novel_bigrams"), col("lm_score"))
  }

  /** Per-document mean smoothed bigram probability — the scoring pass
    * of [[lmScore]] without the worst-k cut —
    * (doc_id, n_bigrams, novel_bigrams, lm_score). Covers every document
    * that HAS a bigram: docs with fewer than 2 tokens have no bigrams,
    * hence no defined mean, and are excluded (so the CCNet terciles
    * bucket only scoreable docs — callers wanting whole-corpus coverage
    * left-join this back to the doc spine with a sentinel). Feeds the
    * CCNet head/middle/tail bucketing, which slices the corpus by LM
    * score rather than surfacing a triage list. */
  def lmScoreAll(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    // cached (round 16): the exploded bigram stream feeds the bigram
    // count table, the prefix count table AND the scoring probe — three
    // scans, each otherwise re-reading and re-exploding the corpus
    val bg = CacheScope.track(
      t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)).as("bg")))).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), col("g.w1").as("w1"), col("g.bg").as("bg")))
    val c2 = bg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = t.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("vsz"))
    // shuffle-hash pinned: the count tables are the LM's vocabulary —
    // at corpus scale they don't broadcast, and they're pre-aggregated
    // (one row per key) so they hash-build without a sort while the
    // exploded stream probes. AQE would silently broadcast them at
    // fixture scale, hiding the scale plan the scaladoc documents.
    val probs = bg.join(c2.hint("shuffle_hash"), Seq("bg"))
      .join(c1.hint("shuffle_hash"), Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("pos"),
        ((col("c2") + 1).cast("double") /
          (col("c1") + col("vsz")).cast("double")).as("p"),
        (col("c2") === 1).cast("int").as("novel"))
    val agg = probs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("novel")).as("novel_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("p")))),
            x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x).as("psum"))
      .select(col("doc_id"), col("n_bigrams"), col("novel_bigrams"),
        (col("psum") / col("n_bigrams").cast("double")).as("lm_score"))
    agg
  }

  /** Kneser-Ney-smoothed bigram LM score — the smoothing CCNet-class
    * filters actually ship (Chen & Goodman 1999, absolute discounting
    * with continuation probabilities) in EXACT RATIONAL integer form,
    * upgrading [[lmScoreAll]]'s add-one model while staying
    * bit-replicable in DuckDB. With fixed discount D = 3/4:
    *
    *   p_KN(w2|w1) = (c(w1w2) − 3/4)/c(w1·)
    *               + (3/4)·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * Scoring the training corpus on itself means every scored bigram has
    * c ≥ 1, so the max(·,0) clamp is vacuous and the whole expression
    * reduces to ONE exact integer numerator and denominator:
    *
    *   p = ((4·c2 − 3)·T + 3·n1p·ncont) / (4·c1·T),  T = N1+(··)
    *
    * — a single double division per bigram (the [[tfIdf]] rational
    * trick), then the same position-ordered per-doc mean fold as
    * [[lmScoreAll]]. `n_singletons` counts c2 = 1 bigrams (the mass the
    * discount redistributes — KN's continuation counts are BUILT from
    * these). Overflow bound: 4·c2·T < 2⁶³ requires c2·T ≲ 2.3e18;
    * a web corpus near that bound drops to the double-division form
    * (losing bit-replicability, not correctness).
    *
    * Plan at 100 TB: four term-keyed count tables (bigram, prefix,
    * distinct-continuation, distinct-predecessor) — the prefix pair
    * merges into ONE w1-keyed frame before scoring, so the exploded
    * bigram stream re-joins on exactly three keys (w1w2, w1, w2), each
    * pinned shuffle_hash for the same reason as [[lmScoreAll]]; only
    * the 1-row type count broadcasts. */
  def lmScoreKnAll(docs: DataFrame): DataFrame = {
    // NOT cached (round-16 measurement): caching the shared bigram
    // explode here read 1.2-1.5x SLOWER on the ccnet_kn queries — the
    // uncached consumers are independent scan stages AQE overlaps
    // freely, while the columnar cache build serializes them (lmScoreAll
    // measured the OPPOSITE, so each keeps its own measured form)
    val bg = knBigrams(docs)
    val (c2t, w1stats, nc, nt) = knTablesFromBigrams(bg)
    val probs = bg
      .join(c2t.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(w1stats.hint("shuffle_hash"), Seq("w1"))
      .join(nc.hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(nt))
      .select(col("doc_id"), col("pos"),
        (((lit(4L) * col("c2") - 3L) * col("ntypes") +
          lit(3L) * col("n1p") * col("ncont")).cast("double") /
          (lit(4L) * col("c1") * col("ntypes")).cast("double")).as("p"),
        (col("c2") === 1).cast("int").as("singleton"))
    probs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("singleton")).as("n_singletons"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("p")))),
            x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x).as("psum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_singletons"),
        (col("psum") / col("n_bigrams").cast("double")).as("lm_kn_score"))
  }

  /** BPE tokenizer TRAINING (Sennrich et al., ACL'16) — the iterative
    * merge loop that [[bpePairCounts]] is round 0 of: per round, count
    * adjacent symbol pairs across the corpus (weighted by word
    * frequency, overlapping occurrences counted as they appear — the
    * reference get_stats semantics), pick the most frequent pair
    * (ties broken (count DESC, left, right) — deterministic in both
    * engines' binary collation), and merge it greedily leftmost
    * non-overlapping in every word. Returns the merge table
    * (round, left_sym, right_sym, merged, pair_count) — the artifact a
    * tokenizer build persists.
    *
    * Greedy application without a per-row UDF: each word is kept as a
    * TWO-space-separated symbol string ("␣␣a␣␣b␣␣…"), and merge (a,b) is
    * ONE `replace(seq, " a  b ", " ab ")` — the single boundary space on
    * each side of the pattern means adjacent occurrences ("a b a b")
    * still match back-to-back after the first replacement consumes the
    * shared separator's first space, so left-to-right non-overlapping
    * `replace` (identical semantics in Spark and DuckDB) IS the exact
    * greedy BPE merge step; the remaining + replacement boundary spaces
    * reassemble the two-space separators invariant.
    *
    * Plan at 100 TB: the corpus collapses to the DISTINCT-WORD frame
    * with frequencies FIRST (the classic BPE training trick — state is
    * vocabulary-sized, not corpus-sized, and only that frame iterates);
    * each round is one symbol-pair-keyed agg with map-side partials +
    * a 1-ROW driver collect (the chosen merge — bounded by construction)
    * + one narrow replace; per-round cache/unpersist keeps lineage flat.
    * Sennrich's incremental-pair-update optimization is a sequential
    * data structure; the recount-per-round form is the distributed
    * equivalent and keeps every round embarrassingly parallel. */
  def bpeTrain(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var seqs = words.select(
      concat(lit("  "),
        array_join(expr("regexp_extract_all(word, '.', 0)"), "  "),
        lit("  ")).as("seq"),
      col("cnt")).cache() // round-scoped: released below, not by CacheScope
    val merges = scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    var prev: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = seqs
        .select(col("cnt"),
          expr("filter(split(seq, ' '), x -> x != '')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("a"),
            element_at(col("syms"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("total"))
      // 1-row driver collect per round: the chosen merge (bounded).
      // This action also materializes the current seqs cache (built
      // from the previous round's, still alive) — release the parent
      // only now that its child is materialized.
      val best = pairs.orderBy(col("total").desc, col("a"), col("b"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (best.nonEmpty) {
        val (a, b, total) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, total))
        // round 16: no eager count() — the NEXT round's pair collect
        // materializes this cache while the parent is still cached (the
        // parent is released at the top of that round, after the
        // action), halving the per-round job count. prev tracks the
        // still-cached parent across the round boundary.
        val next = seqs.select(
          replace(col("seq"), lit(s" $a  $b "), lit(s" $a$b ")).as("seq"),
          col("cnt")).cache() // released by the next round, not CacheScope
        prev = seqs
        seqs = next
      }
    }
    if (prev != null) prev.unpersist() // last round's parent
    seqs.unpersist()
    merges.toSeq
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Boilerplate excision with document REASSEMBLY — the CCNet/RefinedWeb
    * "dedup at sub-document grain, keep the rest" pass that
    * [[graft.operators.Dedup.passageDups]] only reports on: cut each doc
    * into non-overlapping `chunkSize`-token chunks, DROP every chunk
    * whose fingerprint occurs in more than `maxDf` documents (navbars,
    * license headers, templated footers), and stitch the SURVIVING
    * chunks back into a document in original order. Emits per doc the
    * kept/dropped accounting plus the reassembled text's fingerprint
    * (so the oracle checks the reconstruction byte-for-byte, not just
    * the counts); docs whose every chunk is boilerplate survive with
    * n_kept = 0 and an empty-text fingerprint.
    *
    * Plan at 100 TB: one chunk-fingerprint hash agg (df table,
    * vocabulary-bounded) probed back shuffle-hash by the chunk stream
    * ([[lmScoreAll]]'s count-table shape), then ONE doc-keyed
    * reassembly agg whose per-doc state is the doc's own chunk list —
    * bounded by document length, the same bound the chunker already
    * imposes. Nothing all-pairs. */
  def stripBoilerplate(docs: DataFrame, chunkSize: Int = 32,
      maxDf: Int = 1): DataFrame = {
    val chunks = chunkTokens(docs, chunkSize, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("fp"))
    val df = chunks.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val flagged = chunks.join(df.hint("shuffle_hash"), Seq("fp"))
      .withColumn("drop", (col("df") > maxDf).cast("int"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("drop")).as("n_dropped"),
        concat_ws(" ",
          transform(array_sort(collect_list(when(col("drop") === 0,
            struct(col("chunk_id"), col("chunk_text"))))),
            x => x.getField("chunk_text"))).as("kept_text"))
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - col("n_dropped")).as("n_kept"),
        col("n_dropped"), md5(col("kept_text")).as("kept_fp"),
        length(col("kept_text")).as("kept_chars"))
  }

  /** BPE ENCODE — the apply half of [[bpeTrain]], what a pipeline runs
    * per shard once the merge table is trained: each DISTINCT word is
    * re-derived to its boundary-space character sequence, the learned
    * merges replay in rank order as the SAME left-to-right
    * non-overlapping string replace the training loop used (order is
    * the algorithm: an early merge can feed a later one), and the piece
    * counts join back to the token stream. Reports per-doc token/piece
    * counts + fertility (pieces per token) — the tokenizer-efficiency
    * number corpus builds monitor per language/source.
    *
    * Plan at 100 TB: the merge table is driver-side (bounded: `rounds`
    * rows — it IS the tokenizer artifact); encoding runs on the
    * DISTINCT-word frame (vocabulary-sized, Zipf-collapsed), then one
    * word-keyed shuffle-hash probe back to the exploded token stream —
    * the [[lmScoreAll]] count-table shape. */
  def bpeEncode(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("word"))
    var seqs = toks.select(col("word")).distinct()
      .select(col("word"),
        concat(lit("  "),
          array_join(expr("regexp_extract_all(word, '.', 0)"), "  "),
          lit("  ")).as("seq"))
    for ((a, b) <- merges)
      seqs = seqs.select(col("word"),
        replace(col("seq"), lit(s" $a  $b "), lit(s" $a$b ")).as("seq"))
    val enc = seqs.select(col("word"),
      size(expr("filter(split(seq, ' '), x -> x != '')")).as("n_pieces"))
    toks.join(enc.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_pieces").cast("long").as("n_pieces"),
        (col("n_pieces").cast("double") /
          col("n_tokens").cast("double")).as("pieces_per_token"))
  }

  /** Positioned bigram stream (doc_id, pos, w1, w2) — the shared front of
    * every bigram-LM pass. Narrow generate; docs under 2 tokens vanish. */
  def knBigrams(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), col("g.w1").as("w1"), col("g.w2").as("w2"))
  }

  /** The Kneser-Ney count tables of a training corpus —
    * (bigram counts c2t, prefix stats c1⋈N1+(w1·), distinct-predecessor
    * counts N1+(·w2), 1-row type count N1+(··)). Extracted so a STATIC
    * model can be built once (train corpus) and scored against
    * repeatedly (ingest stream / held-out docs) — the production layout:
    * at 100 TB the four tables persist term-keyed and every scoring pass
    * probes them shuffle-hash, exactly as [[lmScoreKnAll]] does. */
  def knTables(docs: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) =
    knTablesFromBigrams(knBigrams(docs))

  /** [[knTables]] over a prebuilt bigram frame. Round 17 (guide §2 "one
    * shuffle, many aggregates"): every KN statistic is derivable from the
    * bigram COUNT table alone — c(w1·) = Σ_w2 c(w1w2), N1+(w1·) = the
    * per-w1 row count, N1+(·w2) = the per-w2 row count, N1+(··) = the
    * total row count — so the corpus-sized bigram stream is aggregated
    * exactly ONCE (into c2t, cached: four consumers) and the three
    * derived tables re-aggregate the vocabulary-sized c2t instead of
    * re-exploding the corpus. The r16 form counted c1 off the raw bigram
    * stream (one extra corpus explode + a corpus-sized w1 shuffle) and
    * then joined it against n1p; the prefix stats now collapse to ONE
    * w1-keyed aggregate over c2t emitting (c1, n1p) together, dropping
    * the c1⋈n1p join outright. c2t itself is NOT cached — measured
    * (r17, same verdict as r16's raw-explode cache): a columnar cache
    * here serializes the four consumers that AQE otherwise overlaps as
    * independent scan stages, reading 1.2× slower across the kn
    * queries. */
  private def knTablesFromBigrams(
      bg: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c2t = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // c(w1·) + N1+(w1·) in one pass over c2t: the prefix token count is
    // the sum of its bigram counts; the continuation-type count is its
    // distinct-bigram row count
    val w1stats = c2t.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    // N1+(·w2): distinct predecessors of w2
    val nc = c2t.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val nt = c2t.agg(count(lit(1)).as("ntypes"))
    (c2t, w1stats, nc, nt)
  }

  /** Score documents against a FIXED KN model (the [[knTables]] of a
    * training corpus the scored docs need not belong to) — the quality
    * screen a CCNet-class pipeline runs at INGEST, where arriving text
    * contains bigrams the model never saw. Known bigrams (c(w1w2) ≥ 1 in
    * the model) take the exact-rational KN probability of
    * [[lmScoreKnAll]]; novel ones are COUNTED, not scored (their KN mass
    * is a backoff the screen reports as novelty instead of folding into
    * the mean — novelty rate is itself the stronger OOD signal). Emits
    * (doc_id, n_bigrams, n_known, n_novel, lm_kn_score) with a NULL
    * score for all-novel docs; the per-doc fold runs in bigram-position
    * order over known bigrams only (collect_list skips the `when`'s
    * nulls), so it stays bit-replicable.
    *
    * Plan at 100 TB: three left shuffle-hash probes against the model
    * tables + the 1-row type-count broadcast — identical shuffle shape
    * to [[lmScoreKnAll]]; model size never rides on corpus size. */
  def knScreen(docs: DataFrame, c2t: DataFrame, w1stats: DataFrame,
      nc: DataFrame, nt: DataFrame): DataFrame = {
    val bg = knBigrams(docs)
    val scored = bg
      .join(c2t.hint("shuffle_hash"), Seq("w1", "w2"), "left")
      .join(w1stats.hint("shuffle_hash"), Seq("w1"), "left")
      .join(nc.hint("shuffle_hash"), Seq("w2"), "left")
      .crossJoin(broadcast(nt))
      .select(col("doc_id"), col("pos"),
        col("c2").isNotNull.cast("int").as("known"),
        when(col("c2").isNotNull,
          ((lit(4L) * col("c2") - 3L) * col("ntypes") +
            lit(3L) * col("n1p") * col("ncont")).cast("double") /
            (lit(4L) * col("c1") * col("ntypes")).cast("double")).as("p"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("known")).as("n_known"),
        aggregate(
          transform(array_sort(collect_list(
            when(col("p").isNotNull, struct(col("pos"), col("p"))))),
            x => x.getField("p")),
          lit(0.0), (acc, x) => acc + x).as("psum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_known"),
        (col("n_bigrams") - col("n_known")).as("n_novel"),
        when(col("n_known") > 0,
          col("psum") / col("n_known").cast("double")).as("lm_kn_score"))
  }

  /** PMI collocation mining — the phrase-detection pass (Church & Hanks
    * 1990; the word2vec phrase heuristic is the same ratio) that turns a
    * token soup into multi-word units before tokenizer training:
    *
    *   PMI(w1,w2) = ln( p(w1w2) / (p(w1)·p(w2)) )
    *              = ln( c2·Nu² / (Nb·c1(w1)·c1(w2)) )
    *
    * ln(x) is not bit-portable across math libraries (measured — see
    * [[tfIdf]]), so the engine ranks by the LIFT ratio inside the log
    * (strictly monotone in PMI): numerator c2·Nu² and denominator
    * Nb·c1(w1)·c1(w2) accumulate in DECIMAL(38,0) / HUGEINT exact
    * integers — overflow-safe at any corpus size — and the single
    * integer÷integer double division is correctly rounded identically in
    * any IEEE engine. `minCount` is the standard collocation support
    * floor (kills the one-off pairs whose PMI is spuriously maximal).
    *
    * Plan at 100 TB: one narrow bigram explode feeding a pair-keyed hash
    * aggregate, a unigram hash aggregate joined twice by term —
    * shuffle-hash pinned like [[lmScoreAll]]'s count tables (the
    * vocabulary does not broadcast at corpus scale) — and a 1-row total
    * broadcast. No all-pairs anything: state is vocabulary-bounded. */
  def collocations(docs: DataFrame, minCount: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = t.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("toks")) - 2),
        i => struct(element_at(col("toks"), i + 1).as("w1"),
          element_at(col("toks"), i + 2).as("w2")))).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
    val pairs = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    val uni = t.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val totals = bg.agg(count(lit(1)).as("nb"))
      .crossJoin(uni.agg(sum(col("cnt")).cast("long").as("nu")))
    pairs
      .join(uni.select(col("term").as("w1"), col("cnt").as("cnt1"))
        .hint("shuffle_hash"), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("cnt").as("cnt2"))
        .hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("pair_cnt"), col("cnt1"),
        col("cnt2"),
        ((col("pair_cnt").cast(dec) * col("nu").cast(dec) *
          col("nu").cast(dec)).cast("double") /
          (col("nb").cast(dec) * col("cnt1").cast(dec) *
            col("cnt2").cast(dec)).cast("double")).as("lift"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the classic unsupervised
    * keyphrase pass: candidate phrases are the maximal stopword-free token
    * runs, each word scores degree/frequency (degree = Σ length of the
    * phrases it appears in — words living in longer phrases rank higher),
    * and a phrase scores the sum of its member-word scores.
    *
    * Determinism: freq and degree are exact BIGINTs; each word score is
    * ONE IEEE division; a phrase's score folds member scores in POSITION
    * order (0.0-seeded, the cross-engine fold contract); ranking
    * (score DESC, doc_id, seg) is total.
    *
    * Plan at scale: phrase segmentation is one per-doc cumulative window
    * at the token grain (partitioned by doc — parallel), word stats one
    * vocabulary-keyed agg, scoring one vocabulary-keyed probe join —
    * nothing all-pairs; `maxLen` caps degenerate stopword-free documents
    * from producing document-sized phrases. */
  def rakeKeywords(docs: DataFrame, stop: Seq[String], k: Int,
      maxLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "term")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nonStop = toks
      .withColumn("is_stop", col("term").isin(stop.map(s => s: Any): _*))
      .withColumn("seg", sum(col("is_stop").cast("long")).over(w))
      .filter(!col("is_stop"))
    val phrases = nonStop.groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          p => p.getField("term"))).as("phrase"))
      .filter(col("plen") <= maxLen)
    val members = nonStop.join(phrases, Seq("doc_id", "seg"))
      .select(col("doc_id"), col("seg"), col("plen"), col("phrase"),
        col("pos"), col("term"))
    val wstats = members.groupBy(col("term"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("term"),
        (col("deg").cast("double") / col("freq").cast("double")).as("wscore"))
    members.join(wstats, Seq("term"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(max(col("plen")).as("n_words"), max(col("phrase")).as("phrase"),
        aggregate(transform(
          array_sort(collect_list(struct(col("pos"), col("wscore").as("s")))),
          p => p.getField("s")), lit(0.0), (a, x) => a + x).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("seg"))
      .limit(k)
      .select(col("doc_id"), col("phrase"), col("n_words"), col("score"))
  }

  /** DSIR-style importance screen (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw-corpus
    * documents by how much their hashed n-gram profile looks like a
    * TARGET distribution rather than the raw one — the published recipe
    * for "select pretraining data that resembles the high-quality set".
    * Features are DSIR's: unigrams ∪ bigrams, hashed into `numBuckets`
    * via the portable 60-bit md5 hash (the [[Sampling.hash60]] trick —
    * vocabulary-free, so there is NO dimension join at 100 TB).
    *
    * Exactness convention: DSIR's per-feature log-ratio
    * log(p_t(b)/p_r(b)) is replaced by the exact-integer ppm DIFFERENCE
    * ppm_t(b) − ppm_r(b) (each side `count·1e6 DIV total` — the linear
    * contrast of the same two distributions; ln is not bit-portable, the
    * same reason PMI ranks by its exact LIFT ratio here). Doc score =
    * Σ_b c_b·(ppm_t(b) − ppm_r(b)): every term BIGINT, the sum
    * order-independent, the (score DESC, doc_id) rank a total integer
    * order — temperature-0 selection in place of the paper's
    * Gumbel-noised resampling, which an engine result must not carry
    * RNG for. DECIMAL lift documented: at ≥~1e13 features per corpus
    * the ppm numerator needs DECIMAL(38,0).
    *
    * Plan at 100 TB: ONE explode pass over the token stream → ONE
    * (doc_id, bucket)-keyed count shuffle; the target/raw bucket tables
    * derive from that doc×bucket grain (never a second scan of the
    * exploded stream), are `numBuckets` rows each, and broadcast; top-k
    * is TakeOrderedAndProject, never a global sort. */
  /** DSIR's hashed feature stream: one (doc_id [, keep...], bucket) row
    * per unigram/bigram occurrence — the shared explode pass behind
    * [[dsirScreen]] / [[dsirDim]] / [[dsirScore]]. */
  private def dsirFeatures(docs: DataFrame, numBuckets: Int,
      keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    val t = docs.select((col("doc_id") +: kept :+
      tokens(col("text")).as("toks")): _*)
    val uni = t.select((col("doc_id") +: kept :+
      explode(col("toks")).as("feat")): _*)
    val bi = t.filter(size(col("toks")) >= 2)
      .select((col("doc_id") +: kept :+
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("feat")): _*)
    uni.union(bi)
      .select((col("doc_id") +: kept :+
        (Sampling.hash60(col("feat")) % numBuckets).as("bucket")): _*)
  }

  /** The dppm contrast table derived from a doc×bucket count frame that
    * carries an `is_target` flag — shared by the one-pass [[dsirScreen]]
    * and the frozen-model [[dsirDim]]. */
  private def dsirDimOf(perDoc: DataFrame): DataFrame = {
    // ONE bucket-keyed conditional aggregate replaces the raw/tgt
    // aggregate pair (round 17, guide §2 one-shuffle multi-aggregate):
    // ct = Σ c over target rows is the same BIGINT whether summed from a
    // filtered branch or a CASE-guarded one, and the old left-join+fill
    // kept exactly the buckets this single agg emits. The totals row
    // derives from the same 𝑂(numBuckets) frame — cached (a bounded-row
    // cache; nothing like the measured-slower perDoc cache) so the raw
    // corpus-sized perDoc plan executes ONCE for the whole dim table
    // instead of four times (raw×2 + tgt×2 via the old totals crossJoin).
    val stats = CacheScope.track(perDoc.groupBy(col("bucket")).agg(
      sum(col("c")).as("cr"),
      coalesce(sum(when(col("is_target"), col("c"))), lit(0L)).as("ct")))
    val totals = stats.agg(sum(col("cr")).as("tot_r"),
      sum(col("ct")).as("tot_t"))
    stats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (expr("ct * 1000000 DIV tot_t") -
          expr("cr * 1000000 DIV tot_r")).as("dppm"))
  }

  /** The frozen DSIR model: `numBuckets` rows of (bucket, dppm) trained
    * on a static corpus — what a production pipeline persists and what
    * the ingest-path [[graft.streaming.DsirScreen]] probes per batch. */
  def dsirDim(corpus: DataFrame, isTarget: Column,
      numBuckets: Int): DataFrame =
    dsirDimOf(dsirFeatures(corpus.withColumn("is_target", isTarget),
      numBuckets, Seq("is_target"))
      .groupBy(col("doc_id"), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("c")))

  /** Score ANY doc frame against a frozen (bucket, dppm) dimension:
    * (doc_id, n_feats, dsir_score), no selection applied. The dim
    * broadcasts; the docs side is one explode + one doc×bucket agg. */
  def dsirScore(docs: DataFrame, dim: DataFrame,
      numBuckets: Int): DataFrame =
    dsirFeatures(docs, numBuckets, Seq.empty)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(dim), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("dppm")).as("dsir_score"))

  def dsirScreen(docs: DataFrame, isTarget: Column, numBuckets: Int,
      k: Int): DataFrame = {
    // NOT cached (round-16 measurement): caching `perDoc` for its three
    // consumers read 1.61s -> 1.84s — the uncached consumers are
    // independent scan stages AQE overlaps, while the cache build
    // serializes them (the lmScoreKnAll finding; lmScoreAll/medianMad
    // measured the opposite, so each site keeps its measured form)
    val perDoc = dsirFeatures(docs.withColumn("is_target", isTarget),
      numBuckets, Seq("is_target"))
      .groupBy(col("doc_id"), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    perDoc.join(broadcast(dsirDimOf(perDoc)), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("dppm")).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Heaps'-law vocabulary-growth curve (Heaps 1978): cumulative
    * distinct-term count as the corpus grows doc by doc, reported at
    * `nBuckets` checkpoints — the diminishing-returns diagnostic behind
    * "how much NEW vocabulary does the next shard of crawl buy" and the
    * sizing input for tokenizer training. All EXACT integers (the
    * V ≈ K·T^β power-law FIT needs log-log regression, which a 10-row
    * client-side step does better than a non-bit-portable ln here).
    *
    * The naive "distinct terms over every prefix" is quadratic; the
    * distributed form is the FIRST-APPEARANCE trick: a term enters the
    * vocabulary exactly once, at min(bucket of its first doc) — so
    * cumulative vocab at checkpoint k = terms whose min-bucket ≤ k.
    * One [[OrderStats.withGlobalRank]] range-partitioned rank (never a
    * single-partition global window), one explode pass, one term-keyed
    * min-agg, then all windows run on the bounded `nBuckets`-row frame. */
  def heapsGrowth(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val ranked = OrderStats.withGlobalRank(t, Seq(col("doc_id")))
      .select(col("toks"), expr(s"(rn - 1) * $nBuckets DIV n").as("bucket"))
    val tok = ranked.select(col("bucket"), explode(col("toks")).as("term"))
    val docsPer = ranked.groupBy(col("bucket")).agg(count(lit(1)).as("nd"))
    val toksPer = tok.groupBy(col("bucket")).agg(count(lit(1)).as("nt"))
    val vocabPer = tok.groupBy(col("term")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("nv"))
    // unpartitioned cumulative window: safe — the frame is nBuckets rows
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer.join(toksPer, Seq("bucket"))
      .join(vocabPer, Seq("bucket"), "left")
      .na.fill(0L, Seq("nv"))
      .select(col("bucket"),
        sum(col("nd")).over(w).as("cum_docs"),
        sum(col("nt")).over(w).as("cum_tokens"),
        sum(col("nv")).over(w).as("cum_vocab"))
      .orderBy(col("bucket"))
  }
}
