package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Sampling

/** ONLINE dataset-manifest maintenance — the streaming counterpart of
  * `rel_dataset_fingerprint` / `rel_fingerprint_delta`: every arriving
  * micro-batch of documents folds its per-source row count, char total
  * and XOR content checksum into the on-disk manifest table through the
  * [[PartitionedUpsert]] exactly-once protocol. Sums and XOR are both
  * commutative/associative over batch deltas, so after EVERY micro-batch
  * the maintained table equals the batch fingerprint of the whole stream
  * prefix — the corpus identity is continuously current without ever
  * rescanning history, and XOR's self-inverse property means a
  * compensating batch (re-fold a doc's hash) REMOVES it from the
  * manifest, the retraction path a takedown pipeline needs.
  *
  * Scale shape: the manifest is the bounded source domain (one row per
  * source), a batch touches only the `source=` partitions it lands in,
  * and redelivery is a no-op via the `_applied` marker commit. */
object ContentManifest {

  /** Per-source manifest delta of one batch of (source, doc_id, text,
    * n_chars) rows — same hash as the batch queries: portable 60-bit
    * md5 of (doc_id : content-md5). `sign = -1` produces a RETRACTION
    * delta: counts and char totals negate while the XOR leg stays the
    * raw hash fold (XOR is its own inverse — re-folding a present doc's
    * hash removes it), so one sum+xor merge serves ingest and takedown
    * symmetrically. */
  private[streaming] def manifestOf(batch: DataFrame,
      sign: Int = 1): DataFrame =
    batch
      .withColumn("h", Sampling.hash60(
        concat(col("doc_id").cast("string"), lit(":"), md5(col("text")))))
      .groupBy(col("source"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(col("n_chars")) * sign).as("total_chars"),
        expr("bit_xor(h)").as("content_fp"))

  private def upsert(path: String, sign: Int = 1) = new PartitionedUpsert(
    path, partCol = "source", keyCols = Nil,
    sumCols = Seq("n_docs", "total_chars"),
    aggregate = manifestOf(_, sign),
    xorCols = Seq("content_fp"),
    // retraction batches are numbered from 0 on their own — their
    // exactly-once markers must not collide with the ingest stream's
    streamTag = if (sign < 0) "retract" else "batch")

  /** Apply one micro-batch of document rows. Exposed for direct testing;
    * [[maintainManifest]] wires it into foreachBatch. */
  def applyBatch(batch: DataFrame, path: String, batchId: Long): Unit =
    upsert(path).applyBatch(batch, batchId)

  /** TAKEDOWN path: apply one micro-batch of documents to REMOVE — each
    * row must carry the same (doc_id, text, n_chars) as its ingested
    * form. n_docs / total_chars decrement and the re-folded hash cancels
    * out of `content_fp`, so retracting every copy of a doc restores the
    * manifest to the never-ingested fingerprint (spec-pinned). */
  def applyRetraction(batch: DataFrame, path: String, batchId: Long): Unit =
    upsert(path, sign = -1).applyBatch(batch, batchId)

  /** The streaming writer: raw document rows in, maintained per-source
    * manifest on disk. Append mode — all state lives in the table. */
  def maintainManifest(rows: DataFrame, path: String): DataStreamWriter[Row] =
    upsert(path).writer(rows)

  /** Read the maintained manifest in the batch queries' column order. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("source").cast("string").as("source"), col("n_docs"),
        col("total_chars"), col("content_fp"))
}
