package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextOps

/** Text-analysis family over `documents` (LLM-data-pipeline surface):
  * token stats, term frequencies, language-ID, quality scoring, content
  * fingerprinting. */
object TextQueries extends QueryFamily {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Bigram-LM family corpus: a deterministic 1-in-2 doc sample
    * (bench-budget bound — the LM join is the text family's most
    * expensive pass and every distributional property survives the
    * halving; the lmCtes/knCtes oracles filter identically). */
  private def lmDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") % 2 === 0)

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "txt_token_stats" -> ((s, d) => {
      val n = size(TextOps.tokens(col("text")))
      docs(s, d).select(
        col("doc_id"),
        n.as("n_tokens"),
        length(col("text")).as("len_chars"),
        ((length(col("text")) - (n - 1)).cast("double") / n.cast("double")).as("mean_token_len"))
        .orderBy(col("doc_id"))
    }),

    "txt_term_freq" -> ((s, d) =>
      TextOps.termFrequencies(docs(s, d))
        .orderBy(col("cnt").desc, col("term"))
        .limit(100)),

    "txt_term_freq_by_lang" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("term"))
      docs(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy(col("lang"), col("rn"))
    }),

    "txt_langid" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        col("lang"),
        TextOps.markerCount(col("text")).as("en_markers"),
        TextOps.langId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))),

    "txt_quality" -> ((s, d) =>
      TextOps.qualityFeatures(docs(s, d)).orderBy(col("doc_id"))),

    // per-SOURCE quota enforcement (the RefinedWeb "to each his own"
    // cap: no source may contribute more than `cap` documents, best
    // docs first) — the corpus-balancing pass between quality scoring
    // and mixture weighting (txt_budget_mix). Keep decision =
    // row_number over (n_toks DESC, doc_id) per source — a source-keyed
    // partitioned window, so at 100 TB each source ranks independently
    // after one shuffle on the bounded source key; output is the
    // per-source kept/dropped budget report.
    "txt_source_cap" -> ((s, d) => {
      val cap = 150
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_toks").desc, col("doc_id"))
      docs(s, d).select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("rnk", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rnk") <= cap, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rnk") <= cap, col("n_toks")).otherwise(0L))
            .as("kept_tokens"),
          sum(col("n_toks")).as("total_tokens"))
        .orderBy(col("source"))
    }),

    "txt_fingerprints" -> ((s, d) =>
      docs(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(TextOps.fingerprint(col("text"))).as("distinct_fp"),
          countDistinct(TextOps.normalizedFingerprint(col("text"))).as("distinct_norm_fp"))
        .orderBy(col("source"))),

    // tf-idf-shaped term ranking with an integer sort key (tf desc, df
    // asc, term) — floating idf products rank-flip across engines on
    // ties, integer keys cannot
    "txt_top_terms_per_doc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = docs(s, d)
        .filter(col("doc_id") < 100) // bounded output; full corpus at scale
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(df_, Seq("term"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // The composed LLM-corpus-cleaning pass: exact-dedup (keep lowest
    // doc_id per fingerprint) → quality gate → per-(source, declared lang)
    // survivor stats. One declarative plan: fingerprint window-dedup,
    // narrow quality features, grouped rollup.
    "txt_corpus_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(TextOps.fingerprint(col("text")))
        .orderBy(col("doc_id"))
      val n = size(TextOps.tokens(col("text")))
      val meanLen = (length(col("text")) - (n - 1)).cast("double") / n.cast("double")
      docs(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // exact dedup, keep first
        .filter(n.between(20, 100000) && meanLen.between(2.0, 12.0)) // quality gate
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(n.cast("long")).as("total_tokens"))
        .orderBy(col("source"), col("lang"))
    }),

    // true TF-IDF top-3 per doc; cross-engine determinism via the exact
    // integer rational-idf score (ln is not bit-portable — see
    // TextOps.tfIdf scaladoc); df/n_docs computed on the FULL corpus,
    // output bounded to doc_id < 100
    "txt_tfidf" -> ((s, d) => {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf_scaled").desc, col("term"))
      TextOps.tfIdf(docs(s, d))
        .filter(col("doc_id") < 100)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
          col("n_docs"), col("tfidf_scaled"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // RAG/pretraining document splitter: 32-token windows, 8-token overlap
    "txt_chunks" -> ((s, d) =>
      TextOps.chunkTokens(docs(s, d).filter(col("doc_id") < 50), 32, 8)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // boilerplate excision WITH reassembly (CCNet/RefinedWeb sub-doc
    // dedup): drop every 32-token chunk shared across documents, stitch
    // the survivors back in order; the reassembled text's fingerprint is
    // oracle-checked byte-for-byte, not just the counts.
    "txt_boilerplate_strip" -> ((s, d) =>
      TextOps.stripBoilerplate(docs(s, d))
        .orderBy(col("doc_id"))),

    // PII scrub proof: plant synthetic email/URL/long-number tokens per
    // doc (same construction both engines), scrub, verify the redacted
    // text round-trips identically
    "txt_scrub" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or https://ex.com/d/"), col("doc_id"),
            lit(" ref 99900"), col("doc_id") + 10000).as("dirty"))
        .select(col("doc_id"), md5(col("dirty")).as("dirty_fp"),
          md5(TextOps.scrubPii(col("dirty"))).as("clean_fp"),
          (length(col("dirty")) - length(TextOps.scrubPii(col("dirty"))))
            .as("removed_chars"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition filter metrics (the n-gram-repetition
    // complement to txt_quality's length/stopword rules)
    "txt_repetition" -> ((s, d) =>
      TextOps.repetitionFeatures(docs(s, d)).orderBy(col("doc_id"))),

    // training-mix assembly: per-language epoch weights (de ×2, fr ×1.5,
    // es ×1, en ×0.5, zh ×0.25) applied as deterministic repeat/sample;
    // reports input vs emitted docs/rows/tokens per language
    "txt_corpus_mix" -> ((s, d) => {
      val weights = Map("en" -> 500, "de" -> 2000, "es" -> 1000,
        "fr" -> 1500, "zh" -> 250)
      val nToks = size(TextOps.tokens(col("text"))).cast("long")
      val emitted = graft.operators.Sampling
        .weightedRepeat(docs(s, d), col("lang"), col("doc_id"), weights)
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs_emitted"),
          count(lit(1)).as("n_rows_emitted"),
          sum(nToks).as("tokens_emitted"))
      docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(nToks).as("tokens_in"))
        .join(emitted, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("tokens_in"),
          coalesce(col("n_docs_emitted"), lit(0L)).as("n_docs_emitted"),
          coalesce(col("n_rows_emitted"), lit(0L)).as("n_rows_emitted"),
          coalesce(col("tokens_emitted"), lit(0L)).as("tokens_emitted"))
        .orderBy(col("lang"))
    }),

    // benchmark decontamination: training docs sharing trigram shingles
    // with the (deterministic doc_id % 97 == 0) "benchmark" slice
    "txt_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      TextOps.contaminationReport(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0), 3, 0.2)
        .orderBy(col("doc_id"))
    }),

    // sequence packing: corpus laid end-to-end in doc_id order on the
    // token axis, cut every 256 tokens (causal-LM concat-and-chunk)
    "txt_seq_pack" -> ((s, d) =>
      TextOps.packSequences(docs(s, d), 256).orderBy(col("seq_id"))),

    // deterministic training-order shuffle: seeded hash permutation of the
    // corpus, cut into 64-doc training shards
    "txt_shuffle_shards" -> ((s, d) =>
      graft.operators.Sampling.shuffleShards(docs(s, d), col("doc_id"), 7, 64)
        .select(col("doc_id"), col("shuffle_rank"), col("shard"))
        .orderBy(col("shuffle_rank"))),

    // BPE tokenizer training, round 0: the 50 most frequent adjacent
    // character pairs within words across the corpus
    "txt_bpe_pairs" -> ((s, d) =>
      TextOps.bpePairCounts(docs(s, d))
        .orderBy(col("cnt").desc, col("pair")).limit(50)),

    // BPE tokenizer TRAINING, the real iterative loop (Sennrich ACL'16):
    // 5 merge rounds over the distinct-word frame — per round one
    // pair-keyed agg, a 1-row driver collect (the chosen merge), one
    // narrow replace. Emits the merge table a tokenizer build persists.
    "txt_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(docs(s, d), rounds = 5).orderBy(col("round"))),

    // BPE training at 100 TB trains the merge table on a SAMPLE, not the
    // corpus (the SentencePiece/GPT-2 practice — merge quality saturates
    // far below corpus scale while each round costs a full pass): same
    // iterative loop over the deterministic 30% hash-sample of documents
    // (content-keyed, partition-independent, engine-portable — see
    // Sampling.hash60), so the per-round driver collects run over a
    // bounded slice no matter the corpus size.
    "txt_bpe_train_sampled" -> ((s, d) =>
      TextOps.bpeTrain(
        graft.operators.Sampling.hashSample(docs(s, d), col("doc_id"), 300),
        rounds = 5).orderBy(col("round"))),

    // BPE ENCODE — train the 5-round merge table (bounded driver-side
    // artifact), then replay the merges over the distinct-word frame and
    // probe back to the token stream: per-doc piece counts + fertility,
    // the tokenizer-efficiency number corpus builds monitor.
    "txt_bpe_encode" -> ((s, d) => {
      val merges = TextOps.bpeTrain(docs(s, d), rounds = 5)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(docs(s, d), merges).orderBy(col("doc_id"))
    }),

    // fixed-memory frequency sketch: Count-Min estimates for the 30 exact
    // heavy hitters, with the overestimate contract checked per term
    "txt_cms_termfreq" -> ((s, d) =>
      TextOps.cmsTermEstimates(docs(s, d), width = 32, depth = 4, topK = 30)
        .orderBy(col("true_cnt").desc, col("term"))),

    // budget-constrained mix: per-language permille rates COMPUTED from a
    // fixed token budget (8000/lang) over the measured availability, then
    // applied as deterministic repeat/sample; reports hit vs budget
    "txt_budget_mix" -> ((s, d) => {
      val budget = 8000L
      val tk = docs(s, d).select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      val av = tk.groupBy(col("lang")).agg(sum(col("n")).as("tokens_in"))
      val rates = av.select(col("lang"),
        expr(s"($budget * 1000) DIV tokens_in").as("permille"))
      val emitted = graft.operators.Sampling
        .repeatByRate(tk, col("lang"), col("doc_id"), rates)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows_out"), sum(col("n")).as("tokens_out"))
      // left join from availability: a stratum whose every doc draws 0
      // copies still reports a 0-row (matches the oracle's SUM shape)
      av.join(broadcast(rates), Seq("lang"))
        .join(emitted, Seq("lang"), "left")
        .select(col("lang"), col("tokens_in"), lit(budget).as("budget"),
          col("permille").as("rate_permille"),
          coalesce(col("n_rows_out"), lit(0L)).as("n_rows_out"),
          coalesce(col("tokens_out"), lit(0L)).as("tokens_out"))
        .orderBy(col("lang"))
    }),

    // BM25 keyword retrieval for a fixed 3-term query: rational integer
    // idf (ln is not bit-portable — TextOps.tfIdf scaladoc), fixed-IEEE
    // per-term score, per-doc sum folded in term order, global top-20
    "txt_bm25" -> ((s, d) =>
      TextOps.bm25TopK(docs(s, d), Seq("spark", "join", "hash"), 20)
        .orderBy(col("rank"))),

    // language-ID eval: confusion matrix of the declared lang column vs
    // the heuristic prediction — the monitoring view a corpus pipeline
    // watches when an upstream feed changes. One narrow projection + a
    // tiny (|langs|²-bounded) hash agg.
    "txt_langid_confusion" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), TextOps.langId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))),

    // the full Gopher-rules document-filter battery (symbol / alpha /
    // ellipsis rules on top of txt_quality's minimal gate): narrow
    // per-row arithmetic, Java∩RE2 regex subset, exact integers + one
    // division per feature
    "txt_gopher_rules" -> ((s, d) =>
      TextOps.gopherRules(docs(s, d)).orderBy(col("doc_id"))),

    // bigram-LM quality screen (CCNet-shaped): add-one-smoothed bigram
    // probabilities from corpus-trained counts, per-doc mean folded in
    // position order, worst-50 surfaced — the perplexity-style filter
    // with ln() replaced by the monotone mean probability (bit-portable)
    "txt_lm_score" -> ((s, d) =>
      TextOps.lmScore(lmDocs(s, d), 50).orderBy(col("rank"))),

    // CCNet's actual output shape: the whole corpus sliced into
    // head/middle/tail terciles by LM score (not just a worst-k triage
    // list). Global rank via OrderStats.withGlobalRank (range-
    // partitioned two-pass — no single-reducer window over the corpus);
    // bucket = (3·(rn−1)) DIV n is exact integer arithmetic.
    "txt_ccnet_buckets" -> ((s, d) => {
      val ranked = graft.operators.OrderStats.withGlobalRank(
        TextOps.lmScoreAll(lmDocs(s, d)),
        Seq(col("lm_score"), col("doc_id")))
      ranked.select(expr("(3 * (rn - 1)) DIV n").as("bucket"), col("lm_score"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lm_score")).as("lo_score"),
          max(col("lm_score")).as("hi_score"))
        .orderBy(col("bucket"))
    }),

    // Kneser-Ney upgrade of the LM screen (Chen & Goodman's absolute
    // discounting with continuation probabilities, D=3/4) in exact
    // rational integer form — worst-50 triage list, like txt_lm_score
    "txt_lm_kn" -> ((s, d) => {
      val all = TextOps.lmScoreKnAll(lmDocs(s, d))
        .orderBy(col("lm_kn_score").asc, col("doc_id")).limit(50)
      all.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("lm_kn_score").asc, col("doc_id"))).cast("int"))
        .select(col("rank"), col("doc_id"), col("n_bigrams"),
          col("n_singletons"), col("lm_kn_score"))
    }),

    // CCNet terciles re-derived over the KN score — same bucketing
    // machinery as txt_ccnet_buckets, better-calibrated score underneath
    "txt_ccnet_kn_buckets" -> ((s, d) => {
      val ranked = graft.operators.OrderStats.withGlobalRank(
        TextOps.lmScoreKnAll(lmDocs(s, d)),
        Seq(col("lm_kn_score"), col("doc_id")))
      ranked.select(expr("(3 * (rn - 1)) DIV n").as("bucket"), col("lm_kn_score"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lm_kn_score")).as("lo_score"),
          max(col("lm_kn_score")).as("hi_score"))
        .orderBy(col("bucket"))
    }),

    // WHOLE-corpus CCNet bucketing: CCNet keeps everything it buckets,
    // so the tercile table must also cover documents that have no bigram
    // at all (< 2 tokens — unscoreable by a bigram LM). Left-join the KN
    // scores back to the doc spine; unscored docs land in sentinel
    // bucket -1 with NULL score bounds, scoreable docs keep exactly the
    // txt_ccnet_kn_buckets terciles. Plan at 100 TB: the spine join is
    // doc_id-keyed (the same key the score agg already shuffled on);
    // everything else is the bucketing machinery above.
    "txt_ccnet_full" -> ((s, d) => {
      val ranked = graft.operators.OrderStats.withGlobalRank(
        TextOps.lmScoreKnAll(lmDocs(s, d)),
        Seq(col("lm_kn_score"), col("doc_id")))
        .select(col("doc_id"), col("lm_kn_score"),
          expr("(3 * (rn - 1)) DIV n").as("bucket"))
      lmDocs(s, d).select(col("doc_id"))
        .join(ranked, Seq("doc_id"), "left")
        .select(coalesce(col("bucket"), lit(-1L)).as("bucket"),
          col("lm_kn_score"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lm_kn_score")).as("lo_score"),
          max(col("lm_kn_score")).as("hi_score"))
        .orderBy(col("bucket"))
    }),

    // KN screen against a FIXED model (train/score split: even doc_ids
    // train the count tables, odd doc_ids are scored as if arriving at
    // ingest) — the batch law behind streaming.QualityScreen, and the
    // one bigram-LM query where NOVEL bigrams genuinely occur: known
    // bigrams take the exact-rational KN probability, novel ones are
    // counted as the novelty signal, all-novel docs score NULL.
    "txt_kn_screen" -> ((s, d) => {
      val model = graft.streaming.QualityScreen.buildModel(
        docs(s, d).filter(col("doc_id") % 2 === 0))
      graft.streaming.QualityScreen.scoreBatch(
        docs(s, d).filter(col("doc_id") % 2 === 1), model)
        .orderBy(col("doc_id"))
    }),

    // out-of-vocabulary screen: token share outside the corpus top-1000
    // vocabulary, per declared language — the cheap quality proxy that
    // needs no LM. Vocabulary cut is deterministic ((cnt DESC, term)
    // total order); the rate is one fixed double division of exact
    // counts. Plan: vocabulary is a term-keyed agg + top-k, broadcast
    // back against the exploded token stream (the 1000-row build side
    // never shuffles the corpus).
    "txt_oov_rate" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      val vocab = TextOps.termFrequencies(docs(s, d))
        .orderBy(col("cnt").desc, col("term")).limit(1000)
        .select(col("term"), lit(1).as("__v"))
      tok.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy(col("lang"))
    }),

    // PMI collocation mining (Church & Hanks 1990) — the phrase pass
    // before tokenizer training. Ranked by the exact-integer LIFT ratio
    // inside the log (strictly monotone in PMI; ln isn't bit-portable),
    // support floor 5, top-100. (lift DESC, w1, w2) is a total order:
    // equal lift with equal counts still splits on the pair itself.
    "txt_collocations" -> ((s, d) =>
      TextOps.collocations(docs(s, d), minCount = 5)
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(100)),

    // RAKE keyphrase extraction (Rose et al. 2010): stopword-delimited
    // candidate phrases ('a'/'the' are the corpus's stopwords), word
    // score = degree/frequency, phrase score = Σ member scores folded
    // in position order — top-20 corpus keyphrases. Exact counts + one
    // division per word + the deterministic fold contract.
    "txt_rake" -> ((s, d) =>
      TextOps.rakeKeywords(docs(s, d), Seq("a", "the"), 20)),

    // sparse-cosine document KNN over the term-count vectors — the
    // classic INVERTED-INDEX similarity search (the sparse complement
    // of the dense sim_topk_* family): candidate pairs come from a
    // term-keyed equi-join of posting lists (only docs SHARING a term
    // are ever scored — never all-pairs), dot products are exact
    // integer Σ tf_q·tf_n, norms exact Σ tf², and cosine² surfaces in
    // exact integer ppm (dot²·1e6 DIV n²_q·n²_n — monotone in cosine).
    // Ranking (cos²ppm DESC, dot DESC, neighbor) is integer-total.
    // Plan at scale: cost Σ_term |postings|² — governed by the df of
    // the hottest term; the production refinement (documented, not
    // needed at fixture df) drops stop-terms above a df cap, exactly
    // like PPJoin's prefix filter. Top-3 per query is a keyed window.
    "txt_sparse_knn" -> ((s, d) => {
      // cached (round 16): `tf` feeds the norms agg, the query-side
      // filter and the posting-list join — three scans, each otherwise
      // re-running the full-token explode + count
      val tf = graft.operators.CacheScope.track(docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val norms = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
      val qtf = tf.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("term"), col("tf").as("qtf"))
      val dot = qtf
        .join(tf.withColumnRenamed("doc_id", "neighbor_id"), Seq("term"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("qtf") * col("tf")).as("dot"))
      val scored = dot
        .join(norms.select(col("doc_id").as("query_id"), col("n2").as("qn2")),
          Seq("query_id"))
        .join(norms.select(col("doc_id").as("neighbor_id"), col("n2").as("nn2")),
          Seq("neighbor_id"))
        // DECIMAL(38,0) intermediates: dot²·1e6 and qn2·nn2 stay exact to
        // 1e38 (dot ≲ 3e15) instead of BIGINT's ~3e6-dot bound; scale-0
        // decimal products never round, and DIV lands back in BIGINT
        // (cos2_ppm ≤ 1e6 by construction). Oracle mirror uses HUGEINT —
        // DuckDB's 128-bit integer — because its DECIMAL `//` degrades
        // to DOUBLE; both are exact over the same range.
        .withColumn("cos2_ppm", expr(
          "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000" +
            " DIV (CAST(qn2 AS DECIMAL(38,0)) * nn2) AS BIGINT)"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos2_ppm").desc, col("dot").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"),
          col("cos2_ppm"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the hashing trick (Weinberger et al., ICML 2009) — fixed-width
    // featurization with NO vocabulary table: term → bucket via the
    // portable 60-bit md5 hash mod 64, per-doc bucket counts. The point
    // at 100 TB: a vocabulary join needs a (huge, skewed) dimension;
    // the hash needs nothing — one narrow projection + a keyed agg,
    // collisions are the accepted trade (documented since the original
    // paper). Bit-portable: the same md5-prefix hash replays in DuckDB.
    "txt_feature_hash" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"),
          (graft.operators.Sampling.hash60(col("term")) % 64).as("bucket"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("doc_id"), col("bucket"))),

    // DSIR importance screen (TextOps.dsirScreen, Xie et al. 2023):
    // top-25 raw docs whose hashed unigram∪bigram profile contrasts
    // toward the lang='en' target distribution — the published
    // "select pretraining data resembling the quality set" recipe,
    // log-ratio replaced by the exact-integer ppm difference (ln is
    // not bit-portable) and Gumbel resampling by the temperature-0
    // integer rank. One explode pass, one doc×bucket shuffle, 64-row
    // broadcast dimension, TakeOrderedAndProject top-k.
    "txt_dsir_screen" -> ((s, d) =>
      TextOps.dsirScreen(docs(s, d), col("lang") === "en", 64, 25)),

    // Heaps'-law vocabulary growth (TextOps.heapsGrowth): cumulative
    // docs/tokens/distinct-vocab at 10 corpus checkpoints via the
    // first-appearance trick (a term counts once, at the bucket of its
    // first doc) — exact integers; range-partitioned global rank, one
    // explode, one term-keyed min-agg, windows on the 10-row frame.
    "txt_heaps_law" -> ((s, d) =>
      TextOps.heapsGrowth(docs(s, d), 10)),

    // rank-based AUC (Mann-Whitney U ≡ area under the ROC curve) of a
    // classifier score against a binary label — the quality-filter EVAL
    // primitive: here "does token count discriminate English docs", the
    // same harness any learned quality scorer plugs into. EXACT by the
    // tie-aware pair identity 2U = 2·#(pos>neg) + #(pos=neg) — all
    // BIGINT; AUC = (2·gt+eq)/(2·n₊·n₋), ONE IEEE division. Plan shape
    // at scale: pair counts come from the DISTINCT-SCORE histogram (a
    // cumulative window over distinct values, never the doc stream —
    // the ref_gap_quantiles compressible-domain pattern), so the corpus
    // is touched once by a narrow projection + keyed count agg.
    "txt_rank_auc" -> ((s, d) => {
      val scored = docs(s, d).select(
        size(TextOps.tokens(col("text"))).cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val hist = scored.groupBy(col("score"))
        .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
      import org.apache.spark.sql.expressions.Window
      val wBelow = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist.withColumn("neg_below",
        coalesce(sum(col("n_neg")).over(wBelow), lit(0L)))
      cum.agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos") * col("neg_below")).as("gt_pairs"),
        sum(col("n_pos") * col("n_neg")).as("eq_pairs"))
        .select(col("n_pos"), col("n_neg"), col("gt_pairs"), col("eq_pairs"),
          (expr("CAST(2 * gt_pairs + eq_pairs AS DOUBLE)") /
            expr("CAST(2 * n_pos * n_neg AS DOUBLE)")).as("auc"))
    }),
  )

  private val nToks = "len(string_split(text, ' '))"

  /** The 5-round BPE training chain as CTE clauses (wf, s0, p1..b5, s5)
    * — shared by the train oracle (reads b1..b5) and the encode oracle
    * (extends with the replay chain e0..e5). */
  private def bpeTrainCtes(rounds: Int, source: String = "documents"): String = {
    val sb = new StringBuilder
    sb.append(s"WITH wf AS (SELECT word, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM $source) u GROUP BY 1),\n")
    sb.append("s0 AS (SELECT '  ' || array_to_string(regexp_extract_all(word, '.'), '  ') || '  ' AS seq, cnt FROM wf)")
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS total
        |       FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i
        |             FROM (SELECT list_filter(string_split(seq, ' '), x -> x <> '') AS syms, cnt FROM s${r - 1}) q
        |             WHERE len(syms) >= 2) u
        |       GROUP BY 1, 2),
        |b$r AS (SELECT a, b, total FROM p$r ORDER BY total DESC, a, b LIMIT 1),
        |s$r AS (SELECT replace(seq, ' ' || b$r.a || '  ' || b$r.b || ' ', ' ' || b$r.a || b$r.b || ' ') AS seq, cnt FROM s${r - 1} CROSS JOIN b$r)""".stripMargin)
    }
    sb.toString
  }

  /** Shared bigram-LM CTEs (t, b, c2, c1, v, pr, agg) — agg emits
    * (doc_id, n_bigrams, novel_bigrams, lm_score), the DuckDB replica of
    * [[graft.operators.TextOps.lmScoreAll]]. */
  private val lmCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS bg
      |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2) u),
      |c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY 1),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM (SELECT unnest(toks) AS tok FROM t) u),
      |pr AS (SELECT b.doc_id, b.pos,
      |         CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vsz AS DOUBLE) AS p,
      |         CASE WHEN c2.c2 = 1 THEN 1 ELSE 0 END AS novel
      |       FROM b JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN v),
      |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(novel) AS BIGINT) AS novel_bigrams,
      |          list_reduce(list(p ORDER BY pos), (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS lm_score
      |        FROM pr GROUP BY 1)""".stripMargin
  /** Kneser-Ney CTE prefix: the exact rational form of
    * [[graft.operators.TextOps.lmScoreKnAll]] — every count BIGINT, one
    * double division per bigram, position-ordered per-doc fold. */
  private val knCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
      |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2) u),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      |n1p AS (SELECT w1, COUNT(*) AS n1p FROM c2 GROUP BY 1),
      |nc AS (SELECT w2, COUNT(*) AS ncont FROM c2 GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS ntypes FROM c2),
      |pr AS (SELECT b.doc_id, b.pos,
      |         CAST((4 * c2.c2 - 3) * nt.ntypes + 3 * n1p.n1p * nc.ncont AS DOUBLE) /
      |         CAST(4 * c1.c1 * nt.ntypes AS DOUBLE) AS p,
      |         CASE WHEN c2.c2 = 1 THEN 1 ELSE 0 END AS singleton
      |       FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN n1p USING (w1) JOIN nc USING (w2) CROSS JOIN nt),
      |kagg AS (SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(singleton) AS BIGINT) AS n_singletons,
      |           list_reduce(list(p ORDER BY pos), (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS lm_kn_score
      |         FROM pr GROUP BY 1)""".stripMargin
  private val markers = "['the','a','of','and','is','to','in']"
  private val markerCnt =
    s"len(list_filter(string_split(text, ' '), t -> list_contains($markers, t)))"

  val oracles: ListMap[String, String] = ListMap(
    "txt_token_stats" ->
      s"""SELECT doc_id, $nToks AS n_tokens, length(text) AS len_chars, CAST(length(text) - ($nToks - 1) AS DOUBLE) / $nToks AS mean_token_len FROM documents ORDER BY doc_id""",
    "txt_term_freq" ->
      """SELECT term, COUNT(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t GROUP BY term ORDER BY cnt DESC, term LIMIT 100""",
    "txt_term_freq_by_lang" ->
      """SELECT lang, term, cnt, rn FROM (SELECT lang, term, cnt, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn FROM (SELECT lang, term, COUNT(*) AS cnt FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents) u GROUP BY lang, term) g) w WHERE rn <= 5 ORDER BY lang, rn""",
    "txt_langid" ->
      s"""SELECT doc_id, lang, $markerCnt AS en_markers, CASE WHEN $nToks = 0 THEN 'und' WHEN CAST($markerCnt AS DOUBLE) / $nToks >= 0.02 THEN 'en' ELSE 'und' END AS predicted FROM documents ORDER BY doc_id""",
    // same (n_toks DESC, doc_id) rank, same cap
    "txt_source_cap" ->
      s"""WITH t AS (SELECT source, doc_id, CAST($nToks AS BIGINT) AS n_toks FROM documents),
        |r AS (SELECT source, doc_id, n_toks,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_toks DESC, doc_id) AS rnk FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rnk <= 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rnk <= 150 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "txt_quality" ->
      s"""SELECT doc_id, $nToks AS n_tokens, CAST(length(text) - ($nToks - 1) AS DOUBLE) / $nToks AS mean_token_len, CAST($markerCnt AS DOUBLE) / $nToks AS stopword_ratio, CAST($nToks BETWEEN 20 AND 100000 AND (CAST(length(text) - ($nToks - 1) AS DOUBLE) / $nToks) BETWEEN 2.0 AND 12.0 AS INT) AS is_quality FROM documents ORDER BY doc_id""",
    "txt_fingerprints" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS distinct_fp, COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS distinct_norm_fp FROM documents GROUP BY source ORDER BY source""",
    "txt_top_terms_per_doc" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE doc_id < 100) u GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (term)) r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "txt_corpus_pipeline" ->
      s"""SELECT source, lang, COUNT(*) AS n_kept, CAST(SUM($nToks) AS BIGINT) AS total_tokens FROM (
         |  SELECT source, lang, text, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) t
         |WHERE rn = 1 AND $nToks BETWEEN 20 AND 100000
         |  AND (CAST(length(text) - ($nToks - 1) AS DOUBLE) / $nToks) BETWEEN 2.0 AND 12.0
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "txt_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |j AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, n.n_docs, tf.tf * ((n.n_docs * 1000000) // dfq.df) AS tfidf_scaled
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n WHERE tf.doc_id < 100),
        |r AS (SELECT j.*, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf_scaled DESC, term) AS INT) AS rnk FROM j)
        |SELECT doc_id, rnk, term, tf, df, n_docs, tfidf_scaled FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "txt_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 50),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS i FROM t),
        |d AS (SELECT doc_id, CAST(i // 24 AS INT) AS chunk_id, CAST(i AS INT) AS start_tok, toks[(i + 1):(i + 32)] AS chunk FROM c)
        |SELECT doc_id, chunk_id, start_tok, CAST(len(chunk) AS INT) AS n_tokens, md5(array_to_string(chunk, ' ')) AS chunk_fp FROM d ORDER BY doc_id, chunk_id""".stripMargin,
    "txt_scrub" ->
      """WITH d AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or https://ex.com/d/' || doc_id || ' ref 99900' || (doc_id + 10000) AS dirty FROM documents),
        |s AS (SELECT doc_id, dirty, regexp_replace(regexp_replace(regexp_replace(dirty,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^ ]+', '<URL>', 'g'),
        |        '[0-9]{7,}', '<NUM>', 'g') AS clean FROM d)
        |SELECT doc_id, md5(dirty) AS dirty_fp, md5(clean) AS clean_fp, CAST(length(dirty) - length(clean) AS INT) AS removed_chars FROM s ORDER BY doc_id""".stripMargin,
    // n-gram counts are exact integers; each fraction is one double
    // division with double-cast operands on both engines (bit-exact)
    "txt_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g FROM t WHERE len(toks) >= 2),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total, CAST(MAX(c) AS BIGINT) AS top, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup FROM c2 GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM t WHERE len(toks) >= 3),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup FROM c3 GROUP BY 1),
        |ty AS (SELECT doc_id, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u GROUP BY 1),
        |f AS (SELECT t.doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  COALESCE(ty.n_types, 0) AS n_types,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(COALESCE(ty.n_types, 0) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS ttr,
        |  COALESCE(a2.top, 0) AS top2_cnt,
        |  CASE WHEN COALESCE(a2.total, 0) = 0 THEN 0.0 ELSE CAST(a2.dup AS DOUBLE) / CAST(a2.total AS DOUBLE) END AS dup2_frac,
        |  CASE WHEN COALESCE(a3.total, 0) = 0 THEN 0.0 ELSE CAST(a3.dup AS DOUBLE) / CAST(a3.total AS DOUBLE) END AS dup3_frac
        |  FROM t LEFT JOIN ty ON t.doc_id = ty.doc_id LEFT JOIN a2 ON t.doc_id = a2.doc_id LEFT JOIN a3 ON t.doc_id = a3.doc_id)
        |SELECT doc_id, n_tokens, n_types, ttr, top2_cnt, dup2_frac, dup3_frac,
        |  CAST(dup2_frac <= 0.2 AND dup3_frac <= 0.18 AS INT) AS pass_repetition
        |FROM f ORDER BY doc_id""".stripMargin,
    // multiplicity is a pure function of (lang weight, doc_id hash); the
    // oracle aggregates copies arithmetically — identical totals to the
    // engine's exploded replica rows
    "txt_corpus_mix" -> {
      val h = graft.operators.Sampling.hash60Sql("doc_id")
      s"""WITH w AS (SELECT doc_id, lang, $nToks AS ntoks,
         |  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 2000 WHEN 'es' THEN 1000 WHEN 'fr' THEN 1500 WHEN 'zh' THEN 250 ELSE 0 END AS wt
         |  FROM documents),
         |c AS (SELECT *, wt // 1000 + CASE WHEN $h % 1000 < wt % 1000 THEN 1 ELSE 0 END AS copies FROM w),
         |a AS (SELECT lang,
         |  CAST(SUM(CASE WHEN copies >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_emitted,
         |  CAST(SUM(copies) AS BIGINT) AS n_rows_emitted,
         |  CAST(SUM(copies * ntoks) AS BIGINT) AS tokens_emitted FROM c GROUP BY 1),
         |t AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ntoks) AS BIGINT) AS tokens_in FROM w GROUP BY 1)
         |SELECT t.lang, t.n_docs, t.tokens_in,
         |  COALESCE(a.n_docs_emitted, 0) AS n_docs_emitted,
         |  COALESCE(a.n_rows_emitted, 0) AS n_rows_emitted,
         |  COALESCE(a.tokens_emitted, 0) AS tokens_emitted
         |FROM t LEFT JOIN a USING (lang) ORDER BY lang""".stripMargin
    },
    // same 60-bit md5 gram hash as the engine (Sampling.hash60); shared
    // fraction is one double division — bit-exact cross-engine
    "txt_decontaminate" -> {
      val h = graft.operators.Sampling.hash60Sql("g")
      val tri = "list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, unnest($tri) AS g FROM t WHERE len(toks) >= 3),
         |h AS (SELECT doc_id, $h AS gh FROM g),
         |ov AS (SELECT tr.doc_id, COUNT(DISTINCT tr.gh) AS n_shared, COUNT(DISTINCT be.doc_id) AS n_bench_docs
         |       FROM (SELECT * FROM h WHERE doc_id % 97 <> 0) tr
         |       JOIN (SELECT * FROM h WHERE doc_id % 97 = 0) be ON tr.gh = be.gh
         |       GROUP BY 1),
         |tot AS (SELECT doc_id, CAST(len($tri) AS BIGINT) AS n_grams FROM t WHERE len(toks) >= 3 AND doc_id % 97 <> 0)
         |SELECT doc_id, n_grams, n_shared, n_bench_docs,
         |  CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS shared_frac,
         |  CAST(CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.2 AS INT) AS flagged
         |FROM ov JOIN tot USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    // single-reducer window is fine HERE (oracle side); the engine side
    // is the distributed two-pass prefix sum (OrderStats scaladoc)
    "txt_seq_pack" ->
      s"""WITH toks AS (SELECT doc_id, CAST($nToks AS BIGINT) AS n FROM documents),
         |cum AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fin FROM toks),
         |spans AS (SELECT doc_id, fin - n AS st, fin FROM cum),
         |contrib AS (SELECT doc_id, st, fin, UNNEST(range(st // 256, (fin - 1) // 256 + 1)) AS seq_id FROM spans)
         |SELECT seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(LEAST(fin, (seq_id + 1) * 256) - GREATEST(st, seq_id * 256)) AS BIGINT) AS seq_tokens,
         |  CAST(SUM(CASE WHEN fin > (seq_id + 1) * 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM contrib GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // same seeded hash60 permutation as the engine (seed 7, shard size 64)
    "txt_shuffle_shards" -> {
      val h = graft.operators.Sampling.hash60Sql("'7|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, shuffle_rank, (shuffle_rank - 1) // 64 AS shard
         |FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY $h, doc_id) AS shuffle_rank FROM documents) t
         |ORDER BY shuffle_rank""".stripMargin
    },
    // same word-boundary pair construction: 1-based substr, pairs only
    // within tokens of length >= 2
    "txt_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM (SELECT w FROM w WHERE length(w) >= 2) t, UNNEST(range(1, length(w))) u(i))
        |SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    // the 5 merge rounds UNROLLED (the pagerank-oracle technique): each
    // round re-derives pair counts from the previous round's sequences,
    // picks the (total DESC, a, b) best, and applies the same
    // boundary-space replace — so engine and oracle agree on every
    // round's choice AND its count, not just the final table
    "txt_bpe_train" -> {
      val sb = new StringBuilder
      sb.append(bpeTrainCtes(5))
      sb.append("\nSELECT * FROM (")
      sb.append((1 to 5).map(r =>
        s"SELECT CAST($r AS INT) AS round, a AS left_sym, b AS right_sym, a || b AS merged, total AS pair_count FROM b$r")
        .mkString(" UNION ALL "))
      sb.append(") ORDER BY round")
      sb.toString
    },
    // identical unrolled chain over the same deterministic hash-sample
    "txt_bpe_train_sampled" -> {
      val src = "(SELECT * FROM documents WHERE " +
        graft.operators.Sampling.hash60Sql("doc_id") + " % 1000 < 300)"
      val sb = new StringBuilder
      sb.append(bpeTrainCtes(5, src))
      sb.append("\nSELECT * FROM (")
      sb.append((1 to 5).map(r =>
        s"SELECT CAST($r AS INT) AS round, a AS left_sym, b AS right_sym, a || b AS merged, total AS pair_count FROM b$r")
        .mkString(" UNION ALL "))
      sb.append(") ORDER BY round")
      sb.toString
    },
    // same training CTEs pick the merges; e0..e5 replay them over the
    // distinct-word frame; piece counts probe back to the token stream
    "txt_bpe_encode" -> {
      val sb = new StringBuilder
      sb.append(bpeTrainCtes(5))
      sb.append(""",
        |e0 AS (SELECT word, '  ' || array_to_string(regexp_extract_all(word, '.'), '  ') || '  ' AS seq
        |       FROM (SELECT DISTINCT word FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w) dw)""".stripMargin)
      for (r <- 1 to 5)
        sb.append(s""",
          |e$r AS (SELECT word, replace(seq, ' ' || b$r.a || '  ' || b$r.b || ' ', ' ' || b$r.a || b$r.b || ' ') AS seq
          |       FROM e${r - 1} CROSS JOIN b$r)""".stripMargin)
      sb.append("""
        |, enc AS (SELECT word, len(list_filter(string_split(seq, ' '), x -> x <> '')) AS n_pieces FROM e5),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(SUM(n_pieces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pieces_per_token
        |FROM tok JOIN enc USING (word) GROUP BY doc_id ORDER BY doc_id""".stripMargin)
      sb.toString
    },
    // same hash60-slice cells (row i = 15-bit slice i of one term hash);
    // MIN over depth rows is the CMS estimate
    "txt_cms_termfreq" -> {
      val h = graft.operators.Sampling.hash60Sql("term")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |sd AS (SELECT unnest(range(0, 4)) AS seed),
         |cells AS (SELECT seed, ($h >> (15 * seed)) % 32 AS cell, COUNT(*) AS c FROM tok CROSS JOIN sd GROUP BY 1, 2),
         |truth AS (SELECT term, COUNT(*) AS true_cnt FROM tok GROUP BY term ORDER BY true_cnt DESC, term LIMIT 30),
         |est AS (SELECT t.term, t.true_cnt, MIN(c.c) AS est_cnt
         |        FROM truth t CROSS JOIN sd JOIN cells c ON c.seed = sd.seed AND c.cell = (${graft.operators.Sampling.hash60Sql("t.term")} >> (15 * sd.seed)) % 32
         |        GROUP BY 1, 2)
         |SELECT term, true_cnt, est_cnt, CAST(est_cnt >= true_cnt AS INT) AS overestimate_ok, est_cnt - true_cnt AS err
         |FROM est ORDER BY true_cnt DESC, term""".stripMargin
    },
    // same budget/availability integer rate and per-doc hash gate
    "txt_budget_mix" -> {
      val h = graft.operators.Sampling.hash60Sql("doc_id")
      s"""WITH tk AS (SELECT doc_id, lang, CAST($nToks AS BIGINT) AS n FROM documents),
         |av AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tokens_in FROM tk GROUP BY lang),
         |rt AS (SELECT lang, tokens_in, (8000 * 1000) // tokens_in AS permille FROM av),
         |cp AS (SELECT t.lang, t.n, r.tokens_in, r.permille,
         |        (r.permille // 1000) + CASE WHEN $h % 1000 < r.permille % 1000 THEN 1 ELSE 0 END AS copies
         |       FROM tk t JOIN rt r USING (lang))
         |SELECT lang, tokens_in, CAST(8000 AS BIGINT) AS budget, MIN(permille) AS rate_permille,
         |       CAST(SUM(copies) AS BIGINT) AS n_rows_out, CAST(SUM(copies * n) AS BIGINT) AS tokens_out
         |FROM cp GROUP BY lang, tokens_in ORDER BY lang""".stripMargin
    },
    // identical rational idf millionths (exact BIGINT), identical one-
    // sequence double score, per-doc sum via list_reduce over the terms
    // SORTED BY TERM (seedless first element == Spark's 0.0 + x: exact
    // for the strictly positive scores here)
    "txt_bm25" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM t) u GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_dl, COUNT(*) AS n_docs FROM dl),
        |sc AS (
        |  SELECT tf.doc_id, dl.dl, tf.term,
        |    CAST(((n_docs - df) * 2 + 1) * 1000000 // (2 * df + 1) AS DOUBLE) *
        |      (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) / 1000000.0 AS s
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |  WHERE tf.term IN ('spark', 'join', 'hash')),
        |agg AS (SELECT doc_id, dl, COUNT(*) AS n_terms_hit,
        |          list_reduce(list(s ORDER BY term), (a, b) -> a + b) AS score
        |        FROM sc GROUP BY 1, 2),
        |top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
        |       doc_id, n_terms_hit, dl, score
        |FROM top ORDER BY rank""".stripMargin,
    "txt_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
        |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS alpha_word_frac,
        |  CAST(len(list_filter(toks, t -> ends_with(t, '...') OR ends_with(t, '…'))) AS DOUBLE) / len(toks) AS ellipsis_frac,
        |  CAST(length(text) - length(replace(replace(text, '#', ''), '$', '')) AS DOUBLE) / len(toks) AS symbol_word_ratio,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS BIGINT) AS stop_hits
        |FROM t)
        |SELECT f.*, CAST(n_tokens BETWEEN 20 AND 100000 AND mean_token_len BETWEEN 3.0 AND 10.0
        |  AND alpha_word_frac > 0.8 AND ellipsis_frac < 0.3 AND symbol_word_ratio < 0.1
        |  AND stop_hits >= 2 AS INT) AS passes_gopher
        |FROM f ORDER BY doc_id""".stripMargin,
    // identical smoothed probabilities (one double division of exact
    // BIGINT counts), per-doc sum via list_reduce over the bigrams
    // SORTED BY POSITION (seedless first element == Spark's 0.0 + x:
    // exact for the strictly positive probabilities here)
    "txt_lm_score" ->
      s"""$lmCtes,
        |top AS (SELECT * FROM agg ORDER BY lm_score ASC, doc_id LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY lm_score ASC, doc_id) AS INT) AS rank,
        |       doc_id, n_bigrams, novel_bigrams, lm_score
        |FROM top ORDER BY rank""".stripMargin,
    // identical scores, tercile by exact integer (3·(rn−1)) // n over
    // the same (lm_score, doc_id) total order
    "txt_ccnet_buckets" ->
      s"""$lmCtes,
        |r AS (SELECT doc_id, lm_score,
        |        ROW_NUMBER() OVER (ORDER BY lm_score, doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM agg)
        |SELECT (3 * (rn - 1)) // n AS bucket, COUNT(*) AS n_docs,
        |  MIN(lm_score) AS lo_score, MAX(lm_score) AS hi_score
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical exact-rational KN probabilities; same fold discipline
    "txt_lm_kn" ->
      s"""$knCtes,
        |top AS (SELECT * FROM kagg ORDER BY lm_kn_score ASC, doc_id LIMIT 50)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY lm_kn_score ASC, doc_id) AS INT) AS rank,
        |       doc_id, n_bigrams, n_singletons, lm_kn_score
        |FROM top ORDER BY rank""".stripMargin,
    "txt_ccnet_kn_buckets" ->
      s"""$knCtes,
        |r AS (SELECT doc_id, lm_kn_score,
        |        ROW_NUMBER() OVER (ORDER BY lm_kn_score, doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM kagg)
        |SELECT (3 * (rn - 1)) // n AS bucket, COUNT(*) AS n_docs,
        |  MIN(lm_kn_score) AS lo_score, MAX(lm_kn_score) AS hi_score
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // train/score split replayed: even-doc count tables, odd docs LEFT
    // JOINed against them — known bigrams take the exact rational KN
    // probability, the fold covers known bigrams only (FILTER)
    "txt_kn_screen" ->
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tt WHERE len(toks) >= 2) u),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tb GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM tb GROUP BY 1),
        |n1p AS (SELECT w1, COUNT(*) AS n1p FROM c2 GROUP BY 1),
        |nc AS (SELECT w2, COUNT(*) AS ncont FROM c2 GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS ntypes FROM c2),
        |st AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 1),
        |sb AS (SELECT doc_id, i AS pos, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM st WHERE len(toks) >= 2) u),
        |pr AS (SELECT sb.doc_id, sb.pos,
        |         CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END AS known,
        |         CASE WHEN c2.c2 IS NOT NULL THEN
        |           CAST((4 * c2.c2 - 3) * nt.ntypes + 3 * n1p.n1p * nc.ncont AS DOUBLE) /
        |           CAST(4 * c1.c1 * nt.ntypes AS DOUBLE) END AS p
        |       FROM sb LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
        |         LEFT JOIN n1p USING (w1) LEFT JOIN nc USING (w2) CROSS JOIN nt)
        |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(known) AS BIGINT) AS n_known,
        |  CAST(COUNT(*) - SUM(known) AS BIGINT) AS n_novel,
        |  CASE WHEN SUM(known) > 0 THEN
        |    list_reduce(list(p ORDER BY pos) FILTER (WHERE p IS NOT NULL), (a, b) -> a + b) / CAST(SUM(known) AS DOUBLE)
        |  END AS lm_kn_score
        |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // whole-corpus coverage: LEFT JOIN back to the documents spine, the
    // unscoreable (< 2 token) docs take sentinel bucket -1 / NULL bounds
    "txt_ccnet_full" ->
      s"""$knCtes,
        |r AS (SELECT doc_id, lm_kn_score,
        |        ROW_NUMBER() OVER (ORDER BY lm_kn_score, doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM kagg),
        |j AS (SELECT d.doc_id, r.lm_kn_score,
        |        COALESCE((3 * (r.rn - 1)) // r.n, -1) AS bucket
        |      FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
        |      LEFT JOIN r ON r.doc_id = d.doc_id)
        |SELECT bucket, COUNT(*) AS n_docs, MIN(lm_kn_score) AS lo_score,
        |  MAX(lm_kn_score) AS hi_score
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_langid_confusion" ->
      s"""SELECT lang, predicted, COUNT(*) AS n FROM (
         |  SELECT lang, CASE WHEN $nToks = 0 THEN 'und' WHEN CAST($markerCnt AS DOUBLE) / $nToks >= 0.02 THEN 'en' ELSE 'und' END AS predicted
         |  FROM documents) t
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "txt_oov_rate" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |vocab AS (SELECT term FROM (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1) t ORDER BY c DESC, term LIMIT 1000),
        |m AS (SELECT lang, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tok LEFT JOIN vocab v ON v.term = tok.term)
        |SELECT lang, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // same chunk rule as dd_chunk_dup; the kept text reassembles with
    // list(... ORDER BY chunk_id) FILTER — byte-identical stitching
    "txt_boilerplate_strip" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
        |        array_to_string(toks[(i-1)*32+1 : i*32], ' ') AS chunk_text
        |      FROM t, UNNEST(range(1, CAST(ceil(len(toks) / 32.0) AS BIGINT) + 1)) u(i)),
        |cf AS (SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS fp FROM c),
        |dfq AS (SELECT fp, COUNT(DISTINCT doc_id) AS df FROM cf GROUP BY 1),
        |fl AS (SELECT cf.doc_id, cf.chunk_id, cf.chunk_text,
        |         CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END AS dropped
        |       FROM cf JOIN dfq USING (fp)),
        |agg AS (SELECT doc_id, COUNT(*) AS n_chunks,
        |          CAST(SUM(dropped) AS BIGINT) AS n_dropped,
        |          array_to_string(list(chunk_text ORDER BY chunk_id) FILTER (WHERE dropped = 0), ' ') AS kept_text
        |        FROM fl GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_chunks - n_dropped AS n_kept, n_dropped,
        |  md5(COALESCE(kept_text, '')) AS kept_fp,
        |  CAST(length(COALESCE(kept_text, '')) AS INT) AS kept_chars
        |FROM agg ORDER BY doc_id""".stripMargin,
    // lift = c2·Nu² / (Nb·c1(w1)·c1(w2)) in HUGEINT-exact integers, one
    // correctly-rounded double division — mirrors TextOps.collocations
    "txt_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i + 1 AS INT)] AS w2
        |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t) u),
        |uni AS (SELECT unnest(toks) AS term FROM t),
        |uc AS (SELECT term, COUNT(*) AS cnt FROM uni GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM bg) AS nb, (SELECT COUNT(*) FROM uni) AS nu),
        |pr AS (SELECT w1, w2, COUNT(*) AS pair_cnt FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, pair_cnt, u1.cnt AS cnt1, u2.cnt AS cnt2,
        |  CAST(CAST(pair_cnt AS HUGEINT) * CAST(nu AS HUGEINT) * CAST(nu AS HUGEINT) AS DOUBLE) /
        |  CAST(CAST(nb AS HUGEINT) * CAST(u1.cnt AS HUGEINT) * CAST(u2.cnt AS HUGEINT) AS DOUBLE) AS lift
        |FROM pr JOIN uc u1 ON u1.term = pr.w1 JOIN uc u2 ON u2.term = pr.w2 CROSS JOIN tot
        |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin,
    // identical segmentation (cumulative stopword count), phrase
    // reassembly in position order, deg/freq word scores, 0.0-seeded
    // position-ordered phrase fold, and the same total rank
    "txt_rake" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |           FROM documents),
        |s AS (SELECT doc_id, pos, term,
        |        term IN ('a', 'the') AS is_stop,
        |        SUM(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS seg
        |      FROM t),
        |m0 AS (SELECT doc_id, pos, term, seg FROM s WHERE NOT is_stop),
        |ph AS (SELECT doc_id, seg, COUNT(*) AS plen,
        |         string_agg(term, ' ' ORDER BY pos) AS phrase
        |       FROM m0 GROUP BY 1, 2 HAVING COUNT(*) <= 8),
        |mem AS (SELECT m0.doc_id, m0.seg, ph.plen, ph.phrase, m0.pos, m0.term
        |        FROM m0 JOIN ph USING (doc_id, seg)),
        |ws AS (SELECT term,
        |         CAST(CAST(SUM(plen) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS wscore
        |       FROM mem GROUP BY 1),
        |sc AS (SELECT doc_id, seg, MAX(plen) AS n_words, MAX(phrase) AS phrase,
        |         list_reduce(list_prepend(0.0, list(wscore ORDER BY pos)), (a, b) -> a + b) AS score
        |       FROM mem JOIN ws USING (term) GROUP BY 1, 2)
        |SELECT doc_id, phrase, n_words, score FROM (
        |  SELECT * FROM sc ORDER BY score DESC, doc_id, seg LIMIT 20) f
        |ORDER BY score DESC, doc_id, seg""".stripMargin,
    // identical inverted-index join, exact integer dot/norm/ppm and the
    // same integer-total rank
    "txt_sparse_knn" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u
        |            GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
        |q AS (SELECT doc_id AS query_id, term, tf AS qtf FROM tf WHERE doc_id % 100 = 0),
        |dt AS (SELECT query_id, tf.doc_id AS neighbor_id, CAST(SUM(qtf * tf) AS BIGINT) AS dot
        |       FROM q JOIN tf USING (term) WHERE query_id <> tf.doc_id GROUP BY 1, 2),
        |sc AS (SELECT query_id, neighbor_id, dot,
        |         CAST(CAST(dot AS HUGEINT) * dot * 1000000
        |              // (CAST(qn.n2 AS HUGEINT) * nn.n2) AS BIGINT) AS cos2_ppm
        |       FROM dt JOIN n qn ON qn.doc_id = query_id
        |               JOIN n nn ON nn.doc_id = neighbor_id),
        |r AS (SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos2_ppm DESC, dot DESC, neighbor_id) AS INT) AS rank,
        |        neighbor_id, dot, cos2_ppm FROM sc)
        |SELECT query_id, rank, neighbor_id, dot, cos2_ppm FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // same md5-prefix bucket hash (the Sampling.hash60 portability
    // contract), same 64-bucket fold
    "txt_feature_hash" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(term AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket,
        |  COUNT(*) AS f
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) u
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    // identical md5 bucket hash, identical integer ppm contrast and
    // integer rank; positive operands so // and DIV agree exactly
    "txt_dsir_screen" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, is_t, unnest(toks) AS feat FROM t),
        |b AS (SELECT doc_id, is_t, toks[i] || ' ' || toks[i+1] AS feat
        |      FROM t, UNNEST(range(1, len(toks))) r(i) WHERE len(toks) >= 2),
        |f AS (SELECT doc_id, is_t,
        |        ('0x' || substr(md5(CAST(feat AS VARCHAR)), 1, 15))::BIGINT % 64 AS bucket
        |      FROM (SELECT * FROM u UNION ALL SELECT * FROM b) a),
        |pd AS (SELECT doc_id, is_t, bucket, COUNT(*) AS c FROM f GROUP BY 1, 2, 3),
        |rw AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cr FROM pd GROUP BY 1),
        |tg AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS ct FROM pd WHERE is_t GROUP BY 1),
        |tot AS (SELECT CAST((SELECT SUM(cr) FROM rw) AS BIGINT) AS tot_r,
        |               CAST((SELECT SUM(ct) FROM tg) AS BIGINT) AS tot_t),
        |dim AS (SELECT rw.bucket,
        |          (COALESCE(tg.ct, 0) * 1000000 // tot.tot_t) - (rw.cr * 1000000 // tot.tot_r) AS dppm
        |        FROM rw LEFT JOIN tg ON tg.bucket = rw.bucket, tot)
        |SELECT pd.doc_id, CAST(SUM(pd.c) AS BIGINT) AS n_feats,
        |       CAST(SUM(pd.c * dim.dppm) AS BIGINT) AS dsir_score
        |FROM pd JOIN dim ON dim.bucket = pd.bucket
        |GROUP BY 1 ORDER BY dsir_score DESC, doc_id LIMIT 25""".stripMargin,
    // identical bucket rule ((rn-1)*10 // n), identical first-appearance
    // min-bucket vocabulary counting, cumulative sums on the 10-row frame
    "txt_heaps_law" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |r AS (SELECT toks,
        |        (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) * 10 // (SELECT COUNT(*) FROM t) AS bucket
        |      FROM t),
        |tok AS (SELECT bucket, unnest(toks) AS term FROM r),
        |dp AS (SELECT bucket, COUNT(*) AS nd FROM r GROUP BY 1),
        |tp AS (SELECT bucket, COUNT(*) AS nt FROM tok GROUP BY 1),
        |vp AS (SELECT bucket, COUNT(*) AS nv FROM
        |         (SELECT term, MIN(bucket) AS bucket FROM tok GROUP BY 1) f GROUP BY 1)
        |SELECT dp.bucket,
        |  CAST(SUM(dp.nd) OVER w AS BIGINT) AS cum_docs,
        |  CAST(SUM(tp.nt) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(vp.nv, 0)) OVER w AS BIGINT) AS cum_vocab
        |FROM dp JOIN tp ON tp.bucket = dp.bucket
        |LEFT JOIN vp ON vp.bucket = dp.bucket
        |WINDOW w AS (ORDER BY dp.bucket ROWS UNBOUNDED PRECEDING)
        |ORDER BY dp.bucket""".stripMargin,
    // identical tie-aware integer pair identity over the distinct-score
    // histogram; one final division
    "txt_rank_auc" ->
      """WITH sc AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |h AS (SELECT score, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |        CAST(SUM(1 - pos) AS BIGINT) AS n_neg FROM sc GROUP BY 1),
        |c AS (SELECT n_pos, n_neg,
        |        COALESCE(CAST(SUM(n_neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS neg_below
        |      FROM h)
        |SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos, CAST(SUM(n_neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(n_pos * neg_below) AS BIGINT) AS gt_pairs,
        |  CAST(SUM(n_pos * n_neg) AS BIGINT) AS eq_pairs,
        |  CAST(2 * SUM(n_pos * neg_below) + SUM(n_pos * n_neg) AS DOUBLE) /
        |    CAST(2 * SUM(n_pos) * SUM(n_neg) AS DOUBLE) AS auc
        |FROM c""".stripMargin,
  )
}
