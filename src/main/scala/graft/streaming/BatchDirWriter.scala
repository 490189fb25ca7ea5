package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The stream screens' writer: Append mode under `checkpoint`, and per
  * micro-batch the screen's `perBatch` result overwritten into
  * `outDir/batch=<id>`, so a re-delivered batch replaces its own
  * directory. */
private[streaming] object BatchDirWriter {
  def apply(docStream: DataFrame, outDir: String, checkpoint: String)(
      perBatch: DataFrame => DataFrame): DataStreamWriter[Row] =
    docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatch(batch).write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
}
