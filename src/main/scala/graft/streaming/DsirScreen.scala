package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{CacheScope, TextOps}

/** Streaming DSIR importance screen: the (bucket, dppm) contrast table of
  * a STATIC target-vs-raw corpus pair (Xie et al. 2023 — built once, in
  * production persisted as the `numBuckets`-row model), with each arriving
  * micro-batch of documents scored against it via [[TextOps.dsirScore]] —
  * the ingest-path sibling of [[QualityScreen]] (KN perplexity) for the
  * importance-resampling data-selection family.
  *
  * Same contract as [[QualityScreen]]: a PURE stream transform — every
  * per-batch step is the exact batch operator, so stream==batch equality
  * holds by construction (asserted in DsirScreenSpec); all state lives in
  * the tiny static dim (broadcast per batch), the stream carries nothing
  * across batches, and the raw/target history is never re-shuffled. */
object DsirScreen {

  /** One frozen model: the dppm dimension, cached eagerly (in the
    * ambient [[CacheScope]]) so every micro-batch probes a warm
    * `numBuckets`-row table. */
  final case class DsirModel(dim: DataFrame, numBuckets: Int) {
    def materialize(): DsirModel = { CacheScope.track(dim).count(); this }
  }

  def buildModel(corpus: DataFrame, isTarget: Column,
      numBuckets: Int): DsirModel =
    DsirModel(TextOps.dsirDim(corpus, isTarget, numBuckets), numBuckets)

  /** Score one batch of (doc_id, text) rows against the model. */
  def scoreBatch(batch: DataFrame, model: DsirModel): DataFrame =
    TextOps.dsirScore(batch, model.dim, model.numBuckets)

  /** Streaming wiring: per micro-batch, score and write one partition
    * directory ([[BatchDirWriter]]). */
  def writer(docStream: DataFrame, model: DsirModel, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    BatchDirWriter(docStream, outDir, checkpoint)(scoreBatch(_, model))
}
