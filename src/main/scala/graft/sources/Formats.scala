package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-format ingestion surface (SURVEY §2.1 extension): the engine's
  * CSV / JSON-lines / ORC readers and writers, exercised as REAL
  * write-then-read round-trips so the oracle equality proves the codec
  * path end-to-end (same convention as the Multimodal decode family —
  * a fabricated reader would not reproduce the parquet-side aggregate).
  *
  * 100 TB notes, per format:
  *   - CSV/JSON are ROW formats: no column pruning, no row-group
  *     statistics, no predicate pushdown below the parse. They are
  *     ingest/egress formats only — the first job over them should be a
  *     rewrite into parquet/ORC (see [[graft.operators.Layout]]). Both
  *     readers here take an EXPLICIT schema: `inferSchema` is a second
  *     full scan of the data before the first real job, which at 100 TB
  *     doubles ingest cost and races schema drift.
  *   - ORC is columnar with min/max + Bloom statistics; Spark's reader
  *     does push filters and prune columns, so it is a first-class
  *     analytical format on par with parquet.
  *   - All three split by file (CSV/JSON additionally by line within an
  *     uncompressed file), so parallelism follows
  *     `spark.sql.files.maxPartitionBytes` exactly as for parquet.
  *     Gzip'd CSV/JSON is NOT splittable — one task per file — which is
  *     why the writers here leave compression at the source default
  *     rather than forcing gzip.
  */
object Formats {

  /** Write `df` to `path` as `format`, then read it back with `df`'s own
    * schema applied explicitly (self-describing formats like ORC ignore
    * it). The round-trip is lossless by construction for the integer /
    * string projections the fmt_* queries feed it (money is pre-converted
    * to cents, timestamps to epoch-µs longs), so any downstream aggregate
    * over the read-back equals the same aggregate over the parquet
    * source — which is exactly what the DuckDB oracle checks. */
  def roundtrip(spark: SparkSession, df: DataFrame, format: String,
                path: String, options: Map[String, String] = Map.empty): DataFrame = {
    df.write.mode("overwrite").options(options).format(format).save(path)
    spark.read.options(options).schema(df.schema).format(format).load(path)
  }

  /** Schema-on-read with QUARANTINE instead of silent drop or job abort:
    * PERMISSIVE parse routes unparseable lines into a corrupt-record
    * column, and the result splits into (clean, quarantine). At 100 TB a
    * malformed row is a certainty, not an edge case — FAILFAST kills a
    * 12-hour ingest at row 10^12, and DROPMALFORMED silently loses data
    * with no audit trail; quarantining keeps the job running AND keeps
    * the bad bytes replayable after the upstream fix.
    *
    * The parsed batch is cached before the split, for two reasons:
    * one parse feeds both sides, and — load-bearing — Spark REFUSES any
    * raw-file query whose pruned schema is only the corrupt column
    * (column pruning turns `quarantine.count()` into exactly that; the
    * documented workaround is to cache the parsed rows, which
    * materializes full rows and lifts the restriction). The cache block
    * is tiny relative to the source (one ingest batch) and is tracked in
    * the ambient [[graft.operators.CacheScope]], so a caller's `scoped`
    * block releases it after the quarantine audit is written.
    */
  def readJsonQuarantine(spark: SparkSession, path: String,
                         schema: org.apache.spark.sql.types.StructType,
                         corruptCol: String = "_corrupt_record"): (DataFrame, DataFrame) = {
    val parsed = graft.operators.CacheScope.track(spark.read
      .schema(schema.add(corruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path))
    val clean = parsed.filter(col(corruptCol).isNull).drop(corruptCol)
    val quarantine = parsed.filter(col(corruptCol).isNotNull)
    (clean, quarantine)
  }

  /** Write `df` to `path` as parquet partitioned by `partCol` (Hive-style
    * `partCol=v/` directories), then read it back. A filter on `partCol`
    * over the result prunes at PLANNING time — unmatched directories are
    * never listed into the scan (`PartitionFilters` in the plan, pinned
    * by PlanSpec). This is the layout that makes "last 3 months of a
    * 100 TB table" a 3-directory scan instead of a full pass; the
    * partition column must be low-cardinality (month, date, source) or
    * the table degenerates into millions of tiny files — see
    * `Layout.compactionPlan` for the repair path. */
  def partitionedRoundtrip(spark: SparkSession, df: DataFrame,
                           partCol: String, path: String): DataFrame = {
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)
    spark.read.parquet(path)
  }
}
