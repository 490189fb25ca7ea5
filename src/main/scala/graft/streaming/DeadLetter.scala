package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming ingest with DEAD-LETTER routing — the composition of
  * [[FileIngest]] (landing-prefix tailing) and
  * [[graft.sources.Formats.readJsonQuarantine]]'s quarantine semantics,
  * for the case where the landing files are raw JSON lines rather than
  * parquet: a malformed line must neither kill the query (FAILFAST
  * aborts a stream that has been running for a week on the one bad
  * producer deploy) nor vanish (DROPMALFORMED), but land in a replayable
  * quarantine directory while clean rows flow on.
  */
object DeadLetter {

  val CorruptCol = "_corrupt_record"

  /** Tail `dir` as JSON lines, parsed against `schema` in PERMISSIVE
    * mode: output columns = schema fields + [[CorruptCol]] (null on
    * clean rows, the raw offending line otherwise) + the source line
    * itself is never needed downstream — `from_json` keeps it in
    * [[CorruptCol]]. Split/route in `foreachBatch` via [[route]]. */
  def jsonDirStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 4): DataFrame = {
    val withCorrupt = schema.add(CorruptCol, "string")
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> CorruptCol)).as("r"))
      .select(col("r.*"))
  }

  /** `foreachBatch` body: quarantined raw lines land in
    * `deadLetterDir/batch=<id>` — OVERWRITE per batch id, so a replayed
    * batch after checkpoint recovery rewrites the same directory instead
    * of duplicating audit rows (same idempotence convention as
    * [[ReportSink]] / [[IncrementalAgg]]) — and the clean rows are handed
    * to `sink`. The batch is persisted across the two passes. */
  def route(batch: DataFrame, batchId: Long, deadLetterDir: String)
      (sink: DataFrame => Unit): Unit = {
    batch.persist() // batch-scoped: the finally below frees it, not CacheScope
    try {
      batch.filter(col(CorruptCol).isNotNull)
        .select(col(CorruptCol).as("raw_line"))
        .write.mode("overwrite")
        .parquet(s"$deadLetterDir/batch=$batchId")
      sink(batch.filter(col(CorruptCol).isNull).drop(CorruptCol))
    } finally { batch.unpersist(); () }
  }
}
