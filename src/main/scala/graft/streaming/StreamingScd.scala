package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{CacheScope, Layout, Scd}

/** STREAMING maintenance of an SCD Type-2 dimension — the ingest-path
  * version of [[Scd.scd2Merge]] and the dimension-table sibling of
  * [[IncrementalAgg]]'s fact-side maintenance: a `foreachBatch` upsert
  * keeps an on-disk version history equal to sequentially merging every
  * batch (the stream==batch law StreamingScdSpec asserts).
  *
  * On-disk layout is the one the batch operator's scaladoc promises: the
  * table is PARTITIONED by `state` ('current' / 'closed' — a string, not
  * a boolean, because Spark's partition-value inference would read a
  * boolean directory back as a string). Per micro-batch only the
  * `state=current` partition is READ (partition pruning), the merge runs
  * against the batch, and two writes land: a dynamic-partition OVERWRITE
  * of `state=current` (the new current versions) and an APPEND of the
  * newly closed versions into `state=closed`. Closed history is never
  * read or rewritten — O(current + batch), not O(history).
  *
  * Exactly-once: same recipe and same honesty as [[IncrementalAgg]] —
  * an `_applied/batch-<id>` marker short-circuits foreachBatch
  * redelivery; the overwrite, the append, and the marker are not one
  * atomic commit, so a crash between them can re-apply once (closing
  * that window needs a transactional table format, documented not faked).
  * Within a batch, multiple rows per key collapse deterministically to
  * MAX(struct(tracked)) — a production feed would carry a sequence
  * column and keep the max-sequence row instead.
  */
object StreamingScd {

  /** Apply one micro-batch of (key, tracked...) upserts to the history
    * table at `path`, versioned at date `batchDate`. */
  def applyBatch(batch: DataFrame, path: String, batchId: Long,
      batchDate: String, key: String, tracked: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(hp, s"_applied/batch-$batchId")
    if (fs.exists(marker)) return // re-delivered batch: already applied
    val collapsed = batch
      .groupBy(col(key))
      .agg(max(struct(tracked.map(col): _*)).as("t"))
      .select(col(key) +: tracked.map(c => col(s"t.$c").as(c)): _*)
    val current =
      if (fs.exists(hp) && fs.globStatus(
          new org.apache.hadoop.fs.Path(hp, "state=current")).nonEmpty)
        spark.read.parquet(path).filter(col("state") === "current")
          .drop("state").withColumn("is_current", lit(true))
      else {
        val schema = collapsed
          .withColumn("valid_from", lit(""))
          .withColumn("valid_to", lit("").cast("string"))
          .withColumn("is_current", lit(true)).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      }
    val merged = Scd
      .scd2Merge(current, collapsed, key, tracked, batchDate)
      .localCheckpoint() // materialize BEFORE overwriting what it read
    try {
      // write 1: the new current slice replaces state=current only
      Layout.overwritePartitions(
        merged.filter(col("is_current")).drop("is_current")
          .withColumn("state", lit("current")),
        path, "state", dynamic = true)
      // write 2: newly closed versions append to the untouched history
      // (current input had no closed rows, so this is exactly the delta)
      merged.filter(!col("is_current")).drop("is_current")
        .withColumn("state", lit("closed"))
        .write.partitionBy("state").mode("append").parquet(path)
    } finally CacheScope.releaseCheckpoint(merged) // batch-scoped blocks
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Read the maintained table back in the batch operator's shape
    * (key, tracked..., valid_from, valid_to, is_current). */
  def readHistory(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .withColumn("is_current", col("state") === "current")
      .drop("state")

  /** The streaming writer: (key, tracked...) upsert rows in, maintained
    * SCD2 history on disk. `dateOf` maps a batch id to its version date
    * (processing date in production; deterministic labels in tests). */
  def writer(upserts: DataFrame, path: String, checkpoint: String,
      key: String, tracked: Seq[String],
      dateOf: Long => String): DataStreamWriter[Row] =
    upserts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, path, batchId, dateOf(batchId), key, tracked)
      }
}
