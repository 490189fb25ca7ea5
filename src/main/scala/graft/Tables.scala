package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet star schema + event/LLM tables
  * (see TESTDATA.md / FIXTURES.md). All engine queries take the sf
  * directory as a parameter so the same plan runs at any scale factor.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loads `<dir>/<name>.parquet` with its resolved schema, so the load
    * runs no Spark job: `spark.read.parquet(path)` alone runs one job per
    * load to infer the schema from the footers, and every query build
    * loads its tables again. The schema is inferred once per JVM for each
    * (path, `nanosAsLong`) and file listing (see [[schema]]). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A path's schema as of one recursive file listing. */
  private final case class Resolved(listing: Seq[(String, Long, Long)], schema: StructType)

  /** One entry per (path, `nanosAsLong`): [[Tables.events]] sets that
    * conf, and it changes the inferred type of a TIMESTAMP(NANOS) column.
    * A listing that differs (a rewritten fixture) replaces the entry. */
  private val schemas = new ConcurrentHashMap[(String, String), Resolved]()

  /** `path`'s parquet schema, inferred by Spark on a cold key or a changed
    * listing (name, length and modification time of every file under the
    * path). The inference job runs outside the map's locks, so concurrent
    * loaders (`graft.Verify`'s threads) never wait on one another's job; two
    * cold loaders of one path both infer the same schema. A path that does
    * not exist falls through to Spark, which reports it as it always has. */
  private def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path).schema
    else {
      val key = (path, spark.conf.get(NanosAsLong, "false"))
      val files = fs.listFiles(p, true)
      val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      val hit = schemas.get(key)
      if (hit != null && hit.listing == listing) hit.schema
      else {
        val resolved = Resolved(listing, spark.read.parquet(path).schema)
        schemas.put(key, resolved)
        resolved.schema
      }
    }
  }

  /** Loads `events` and normalizes `ts` to the engine-wide contract:
    * LongType nanoseconds since epoch. The upstream writer has shipped the
    * column as parquet TIMESTAMP(NANOS) (round ≤8) and as TIMESTAMP_MICROS
    * (round 9+) — a schema drift that a typed source must absorb centrally
    * rather than in 13 query sites (reference `Raport.py:62` is schemaless
    * and tolerant by construction; this is the typed equivalent). Branch on
    * the LOADED dtype (the resolved schema [[apply]] loads with, inferred
    * with `nanosAsLong` on):
    *   - LongType — parquet TIMESTAMP(NANOS) surfaced as an ns long via
    *     `nanosAsLong` (Spark's vectorized reader rejects NANOS otherwise);
    *     pass through.
    *   - TIMESTAMP / TIMESTAMP_NTZ — µs-precision; convert with
    *     `unix_micros(cast(ts as timestamp)) * 1000`. Exact: the session
    *     timezone is UTC everywhere in this engine, so the NTZ→LTZ cast is
    *     identity on the epoch value, and µs→ns is integer multiplication.
    * Every downstream `ts DIV 1000` site and every DuckDB `epoch_us(ts)`
    * oracle then agrees for BOTH schemas. Runtime SQLConf, so it works
    * under the driver's session too. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set(NanosAsLong, "true")
    val df = apply(spark, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected ns-long or timestamp")
    }
  }

  /** ns-since-epoch long → TimestampType (µs precision). Integral
    * division: Column `/` divides in DOUBLE, whose 2^53 mantissa cannot
    * represent ~1.7e18 ns exactly (±1 µs error on a few percent of rows). */
  def eventTime(ns: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    org.apache.spark.sql.functions.timestamp_micros(
      Bridge.column(IntegralDivide(Bridge.expression(ns), Literal(1000L))))
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
