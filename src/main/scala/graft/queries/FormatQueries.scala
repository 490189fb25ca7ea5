package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Formats
import graft.streaming.DeadLetter

/** Multi-format ingestion family (SURVEY §2.1 extension): CSV, JSON-lines,
  * ORC, and Hive-partitioned parquet, each exercised as a REAL
  * write-then-read round-trip inside the timed/oracled query — the oracle
  * aggregate over the parquet source can only match if the format writer
  * and reader both ran losslessly (same proof convention as the
  * Multimodal codec family).
  *
  * Projection discipline: every source column that survives into the
  * round-trip is either integral, string, or pre-converted to an exact
  * integer (money → cents, timestamp → epoch-µs), so text formats (CSV /
  * JSON) have no float-formatting or timezone ambiguity to round-trip —
  * the engine's ingest contract at 100 TB, where a reader/writer
  * formatting asymmetry is a silent-corruption class, not a rounding nit.
  */
object FormatQueries extends QueryFamily {
  import QueryFamily._

  /** The dead-letter row replays its whole multi-batch stream from
    * batch 0 against cleared state on every execution
    * ([[QueryFamily.replayStream]]) — a bench warmup is a wasted
    * identical replay. */
  override def noWarmup: Set[String] = Set("fmt_deadletter_stream")

  /** orders with exact-typed money/date columns (shared by csv/partition). */
  private def ordersExact(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_c"),
      // NTZ→LTZ cast is identity on the epoch value under the UTC session
      unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"),
      col("o_orderpriority"))

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    // CSV ingest/egress: header on, explicit read schema (no inferSchema
    // second scan). Aggregate touches every written column class (key
    // sums, money cents, date-µs extremes) so a quoting/escaping defect
    // in ANY column breaks the oracle hash.
    "fmt_csv_roundtrip" -> ((s, d) => {
      val back = Formats.roundtrip(s, ordersExact(s, d), "csv",
        jvmScratch("fmt_csv"), Map("header" -> "true"))
      back.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_c")).as("price_c_sum"),
          sum(col("o_orderkey")).as("key_sum"),
          min(col("odate_us")).as("min_odate_us"),
          max(col("odate_us")).as("max_odate_us"))
        .orderBy(col("o_orderstatus"))
    }),

    // JSON-lines ingest/egress over customer: the schema-on-read path a
    // log-shaped 100 TB corpus arrives through before its parquet rewrite.
    "fmt_json_roundtrip" -> ((s, d) => {
      val src = Tables.customer(s, d).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_c"), col("c_mktsegment"))
      val back = Formats.roundtrip(s, src, "json", jvmScratch("fmt_json"))
      back.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("bal_c")).as("bal_c_sum"),
          sum(col("c_custkey")).as("key_sum"),
          sum(length(col("c_name"))).as("name_len_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // ORC round-trip over the widest fact projection: ORC is the one
    // non-parquet format here that stays first-class at scale (columnar,
    // min/max + Bloom stats, filter pushdown), so it gets the
    // pricing-summary-shaped aggregate.
    "fmt_orc_roundtrip" -> ((s, d) => {
      val src = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"))
      val back = Formats.roundtrip(s, src, "orc", jvmScratch("fmt_orc"))
      back.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty_c")).as("qty_c_sum"),
          sum(col("price_c")).as("price_c_sum"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Corrupt-record quarantine e2e: JSON lines with every doc_id%7==0
    // row deterministically truncated (strips the closing `"}`— the last
    // struct field is a string precisely so truncation always breaks the
    // quoting). PERMISSIVE parse + split; the oracle computes the
    // expected clean/bad partition directly from parquet, so equality
    // proves the parser quarantined EXACTLY the corrupted rows — no
    // silent drop (DROPMALFORMED) and no over-eager rejection.
    "fmt_json_quarantine" -> ((s, d) => {
      val dir = jvmScratch("fmt_quar")
      Tables.documents(s, d)
        .withColumn("js", to_json(struct(col("doc_id"), col("source"))))
        .select(when(col("doc_id") % 7 === 0,
            expr("substring(js, 1, length(js) - 2)")
          ).otherwise(col("js")).as("value"))
        .write.mode("overwrite").text(dir)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING")
      val (clean, bad) = Formats.readJsonQuarantine(s, dir, schema)
      clean.agg(count(lit(1)).as("n_clean"),
          sum(col("doc_id")).as("clean_id_sum"))
        .crossJoin(bad.agg(count(lit(1)).as("n_bad")))
    }),

    // Dead-letter STREAMING ingest e2e (the fmt_json_quarantine corruption
    // + the gov_* multi-batch file-stream harness, QueryFamily.replayStream):
    // the same deterministically truncated JSON lines land as a 3-file
    // source, streamed one file per micro-batch (an AvailableNow trigger)
    // through DeadLetter.jsonDirStream → route — quarantined raw lines to
    // deadLetterDir/batch=<id>, clean rows to a per-batch parquet sink,
    // both idempotent-overwrite per batch id so checkpoint-recovery
    // replays rewrite instead of duplicating. The oracle computes the
    // clean/bad partition directly from parquet, so a green row proves
    // the STREAMING split quarantined exactly the corrupted rows across
    // micro-batch boundaries — no silent drop, no over-rejection, no
    // double-count. The batch twin is fmt_json_quarantine; this row makes
    // the streaming path driver-visible (it was spec-only through r15).
    "fmt_deadletter_stream" -> ((s, d) => {
      val lines = Tables.documents(s, d)
        // source LAST so truncating the closing `"}` always breaks
        // the quoting (same rule as fmt_json_quarantine)
        .withColumn("js",
          to_json(struct(col("doc_id"), col("n_chars"), col("source"))))
        .select(when(col("doc_id") % 7 === 0,
            expr("substring(js, 1, length(js) - 2)")
          ).otherwise(col("js")).as("value"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, n_chars BIGINT, source STRING")
      val state = replayStream(s, "fmt_deadletter_stream", d, lines,
          json = Some(schema)) { (stream, dir) =>
        stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          DeadLetter.route(batch, id, s"$dir/dead") { clean =>
            clean.write.mode("overwrite").parquet(s"$dir/clean/batch=$id")
          }
        }
      }
      val clean = s.read.parquet(s"$state/clean").drop("batch")
      val quarantined = s.read.parquet(s"$state/dead").drop("batch")
      clean.groupBy(col("source"))
        .agg(count(lit(1)).as("n_clean"),
          sum(col("doc_id")).as("clean_id_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .crossJoin(quarantined.agg(count(lit(1)).as("n_quarantined")))
        .orderBy(col("source"))
    }),

    // Hive-partitioned write + planning-time pruned read: month=1..3 of a
    // month-partitioned orders table — the "last N months of 100 TB is an
    // N-directory scan" layout. The filter lands in PartitionFilters
    // (pruned before file listing), pinned by PlanFingerprintSpec.
    "fmt_partitioned_scan" -> ((s, d) => {
      val src = ordersExact(s, d)
        .withColumn("omonth", month(timestamp_micros(col("odate_us"))))
      val back = Formats.partitionedRoundtrip(s, src, "omonth",
        jvmScratch("fmt_part"))
      back.filter(col("omonth") <= 3)
        .groupBy(col("omonth"))
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("price_c_sum"))
        .orderBy(col("omonth"))
    }))

  val oracles: ListMap[String, String] = ListMap(
    "fmt_csv_roundtrip" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS price_c_sum,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  MIN(epoch_us(o_orderdate)) AS min_odate_us,
         |  MAX(epoch_us(o_orderdate)) AS max_odate_us
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "fmt_json_roundtrip" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  CAST(SUM(${centsSql("c_acctbal")}) AS BIGINT) AS bal_c_sum,
         |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
         |  CAST(SUM(length(c_name)) AS BIGINT) AS name_len_sum
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "fmt_orc_roundtrip" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_c_sum,
         |  CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS price_c_sum
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "fmt_json_quarantine" ->
      """SELECT
        |  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN doc_id END) AS BIGINT) AS clean_id_sum,
        |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |FROM documents""".stripMargin,
    // the streaming split must reproduce the batch clean/bad partition
    // of the corpus exactly, per source, plus the total quarantine count
    "fmt_deadletter_stream" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_clean,
        |  CAST(SUM(doc_id) AS BIGINT) AS clean_id_sum,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id % 7 = 0)
        |    AS n_quarantined
        |FROM documents WHERE doc_id % 7 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,
    "fmt_partitioned_scan" ->
      s"""SELECT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS omonth,
         |  COUNT(*) AS n,
         |  CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS price_c_sum
         |FROM orders WHERE EXTRACT(month FROM o_orderdate) <= 3
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
