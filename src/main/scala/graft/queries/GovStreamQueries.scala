package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{CardinalityScreen, ContentManifest, PrivacyScreen}

/** END-TO-END oracle coverage for the streaming governance screens
  * ([[graft.streaming.PrivacyScreen]], [[graft.streaming.ContentManifest]],
  * [[graft.streaming.CardinalityScreen]]): each query is one
  * [[QueryFamily.replayStream]] call, which drives the source table
  * through a REAL multi-batch file stream (one file per trigger over a
  * ≥3-file source, an AvailableNow trigger) into the screen's
  * `foreachBatch` [[graft.streaming.PartitionedUpsert]]; the query then
  * returns the maintained on-disk table. The DuckDB oracle is the BATCH gate over the
  * same rows, so every green row is the online==batch law proven under
  * the driver's own harness — the `rel_incremental_agg` pattern, with the
  * micro-batching done by Structured Streaming instead of hand-split
  * deltas.
  *
  * Determinism across batch splits is the screens' design contract: sum,
  * XOR and HLL-register-max merges are commutative/associative over any
  * partition of the rows into micro-batches, so WHICH rows land in which
  * file (repartition is not row-deterministic) cannot change the
  * maintained table.
  *
  * Scale shape: identical to the screens' own — state is an on-disk
  * partitioned table touched only where a batch lands, the stream holds
  * nothing in executor memory between batches, and the read-back is a
  * scan of a bounded-domain table.
  */
object GovStreamQueries extends QueryFamily {

  /** Every query here replays its multi-batch stream from batch 0 against
    * cleared state on each execution — a bench warmup is a third
    * identical full replay that warms nothing (r14: ~14.5 s of floor and
    * the likeliest per-query-cap victims on a contended host). */
  override def noWarmup: Set[String] = queries.keySet

  /** Both privacy rows: per-QI-class sizes maintained by the stream, read
    * back in the batch gate's (rel_k_anonymity) columns with k applied. */
  private def privacyScreen(s: SparkSession, d: String, name: String,
      restart: Boolean): DataFrame = {
    val rows = Tables.customer(s, d).select(col("c_nationkey"), col("c_mktsegment"))
    val state = QueryFamily.replayStream(s, name, d, rows, restart = restart)(
      PrivacyScreen.maintainClassSizes(_, _, part = "c_nationkey", key = "c_mktsegment"))
    PrivacyScreen.audit(s, state, k = 10)
      .select(col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"), col("class_size"), col("violates_k"),
        col("reident_ppm"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** The batch k-anonymity gate over the full table: the oracle of both
    * privacy rows, since equality across the restart IS the law checked. */
  private val privacyOracle =
    """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
      |  COUNT(*) AS class_size,
      |  CAST(COUNT(*) < 10 AS INT) AS violates_k,
      |  CAST(1000000 // COUNT(*) AS BIGINT) AS reident_ppm
      |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def eventRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      date_format(Tables.eventTime(col("ts")), "yyyy-MM-dd").as("day"),
      col("event_type"), col("user_id"))

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    // online k-anonymity: per-QI-class sizes maintained across micro-
    // batches must equal the batch release gate (rel_k_anonymity) over
    // the full table — same class_size / violates_k / reident_ppm
    // columns, k applied on read.
    "gov_privacy_screen" -> ((s, d) =>
      privacyScreen(s, d, "gov_privacy_screen", restart = false)),

    // the same privacy screen KILLED and RESTARTED mid-stream: lifetime 1
    // folds only the first source file and terminates; lifetime 2 is a
    // fresh start() on the same checkpoint that must resume at batch 1.
    // Oracle = the same full-table batch gate, so a green row proves
    // maintained-state equality ACROSS the restart (any refold or lost
    // batch hash-mismatches). The harsher crash windows (between the
    // upsert's commit and publish) are pinned in UpsertCrashSpec; this
    // row makes the recovery law driver-visible.
    "gov_privacy_restart" -> ((s, d) =>
      privacyScreen(s, d, "gov_privacy_restart", restart = true)),

    // online dataset manifest: per-source (n_docs, total_chars, XOR
    // content fingerprint) folded batch-by-batch must equal the batch
    // fingerprint (rel_dataset_fingerprint) of the whole corpus.
    "gov_manifest_screen" -> ((s, d) => {
      val rows = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"), col("n_chars"))
      val state = QueryFamily.replayStream(s, "gov_manifest_screen", d, rows)(
        ContentManifest.maintainManifest)
      ContentManifest.read(s, state).orderBy(col("source"))
    }),

    // online distinct-count screen: per-(day, event_type) event counts
    // are exact sums (oracled directly); the HLL-union'd user sketches
    // are engine-specific, so the checked output carries the exact
    // distinct count plus the estimate's error contract as a boolean
    // (the rel_approx_users convention).
    "gov_cardinality_screen" -> ((s, d) => {
      val rows = eventRows(s, d)
      val state = QueryFamily.replayStream(s, "gov_cardinality_screen", d, rows)(
        CardinalityScreen.maintainDistincts)
      val exact = rows.groupBy(col("day"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      CardinalityScreen.estimates(s, state)
        .join(exact, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("n_events"),
          col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            lit(0.15) * col("exact_users")).as("within_bound"))
        .orderBy(col("day"), col("event_type"))
    }),
  )

  val oracles: ListMap[String, String] = ListMap(
    "gov_privacy_screen" -> privacyOracle,
    "gov_privacy_restart" -> privacyOracle,
    // the batch fingerprint (identical hash to rel_dataset_fingerprint)
    "gov_manifest_screen" ->
      s"""SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  bit_xor(${graft.operators.Sampling.hash60Sql(
              "CAST(doc_id AS VARCHAR) || ':' || md5(text)")}) AS content_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // exact counts recomputed; the sketch estimate's contract flag must
    // come out TRUE (HLL lgK=12 rsd ≪ the 15% bound)
    "gov_cardinality_screen" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
