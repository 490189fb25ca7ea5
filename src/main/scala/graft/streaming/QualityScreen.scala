package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{CacheScope, TextOps}

/** Streaming Kneser-Ney quality screen: the KN count tables of a STATIC
  * training corpus (built once — in production, persisted term-keyed),
  * with each arriving micro-batch of documents scored against them via
  * [[TextOps.knScreen]] — the ingest-path extension of the CCNet-style
  * quality-filter family (reference scope: the consumer-side analytics of
  * `Raport.py`; this is the same score-on-arrival shape applied to text
  * quality).
  *
  * The screen is a PURE stream transform — every per-batch step is the
  * exact batch operator, so stream==batch equality holds by construction
  * and is asserted in QualityScreenSpec. State lives entirely in the
  * static model tables; the stream side carries nothing across batches
  * (Append-safe), so a 100 TB history never re-shuffles per batch. */
object QualityScreen {

  /** One KN model: the four [[TextOps.knTables]] frames, cached eagerly
    * (in the ambient [[CacheScope]]) so every micro-batch probes warm
    * tables instead of re-aggregating the training corpus. */
  final case class KnModel(c2t: DataFrame, w1stats: DataFrame,
      nc: DataFrame, nt: DataFrame) {
    def materialize(): KnModel = {
      Seq(c2t, w1stats, nc, nt).foreach(df => CacheScope.track(df).count())
      this
    }
  }

  def buildModel(trainCorpus: DataFrame): KnModel = {
    val (c2t, w1stats, nc, nt) = TextOps.knTables(trainCorpus)
    KnModel(c2t, w1stats, nc, nt)
  }

  /** Score one batch of (doc_id, text) rows against the model. */
  def scoreBatch(batch: DataFrame, model: KnModel): DataFrame =
    TextOps.knScreen(batch, model.c2t, model.w1stats, model.nc, model.nt)

  /** Streaming wiring: per micro-batch, score and write one partition
    * directory ([[BatchDirWriter]]). */
  def writer(docStream: DataFrame, model: KnModel, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    BatchDirWriter(docStream, outDir, checkpoint)(scoreBatch(_, model))
}
