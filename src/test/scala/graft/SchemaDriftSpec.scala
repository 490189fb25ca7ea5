package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Regression fixture for the events.ts schema drift that cost round 9 its
  * 23 timestamp queries: the upstream writer switched `ts` from parquet
  * TIMESTAMP(NANOS) (read as an ns long via `nanosAsLong`) to
  * TIMESTAMP_MICROS, and `Tables.events`' hard ns-long assumption broke
  * every `ts DIV 1000` site at analysis time. [[Tables.events]] now
  * normalizes on load; this spec writes the SAME logical table under all
  * three encodings the writer has shipped (or could ship) —
  *   (a) int64 nanoseconds,
  *   (b) TIMESTAMP_MICROS adjusted-to-UTC (Spark TimestampType),
  *   (c) TIMESTAMP_MICROS not-adjusted (Spark TIMESTAMP_NTZ) —
  * and asserts the loaded contract (LongType ns), [[Tables.eventTime]], and
  * a registry `tus` query are identical across them, so the next writer
  * change is a pre-commit signal instead of a lost round.
  */
class SchemaDriftSpec extends GraftSparkSpec {

  // Two users, µs-grain timestamps (ns multiples of 1000 so every encoding
  // represents them exactly); user 1's two events are 40 min apart so the
  // 30-min sessionizer splits them — a real assertion on the time axis.
  private val rowsUs = Seq(
    (0L, 1_000_000L, 1L, "click", 1.0, "{}"),
    (1L, 2_400_000_000_000L + 1_000_000L, 1L, "view", 2.0, "{}"),
    (2L, 5_000_000L, 2L, "click", 3.0, "{}"),
    (3L, 6_000_000L, 2L, "cart", 4.0, "{}"))

  private val timestampType = "spark.sql.parquet.outputTimestampType"

  private def writeFixture(encoding: String): String = {
    val d = Files.createTempDirectory(s"graft-drift-$encoding-").toString
    val base = spark.createDataFrame(rowsUs)
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val df = encoding match {
      case "nanos_long" =>
        base.withColumn("ts", col("ts_us") * lit(1000L))
      case "ts_micros" =>
        base.withColumn("ts", timestamp_micros(col("ts_us")))
      case "ts_ntz" =>
        base.withColumn("ts",
          timestamp_micros(col("ts_us")).cast(org.apache.spark.sql.types.TimestampNTZType))
    }
    Engine.withConf(spark, Seq(timestampType -> "TIMESTAMP_MICROS")) {
      df.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    d
  }

  private lazy val dirs: Map[String, String] =
    Seq("nanos_long", "ts_micros", "ts_ntz").map(e => e -> writeFixture(e)).toMap

  private def loaded(encoding: String): DataFrame = Tables.events(spark, dirs(encoding))

  test("all three encodings load to the ns-long contract with equal values") {
    val expected = rowsUs.map { case (id, us, u, t, v, _) => (id, us * 1000L, u, t, v) }.toSet
    for ((enc, _) <- dirs) {
      val df = loaded(enc)
      assert(df.schema("ts").dataType === LongType, s"encoding $enc")
      val got = df.select("event_id", "ts", "user_id", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))).toSet
      assert(got === expected, s"encoding $enc")
    }
  }

  test("Tables.eventTime agrees across encodings") {
    val times = dirs.keys.toSeq.map { enc =>
      loaded(enc).select(col("event_id"),
        Tables.eventTime(col("ts")).cast("string").as("t"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    assert(times.distinct.size === 1, s"eventTime diverged: $times")
    // and the wall-clock is the UTC µs instant, not a tz-shifted one
    assert(times.head.contains((0L, "1970-01-01 00:00:01")))
  }

  test("the fixture write leaves the parquet timestamp type unset on the shared session") {
    // `getOption` would read the default back; `getAll` holds only set keys
    writeFixture("ts_micros")
    val left = spark.conf.getAll.get(timestampType)
    assert(left.isEmpty, s"$timestampType is left set for every later suite")
  }

  test("a registry tus query (ref_sessions) is identical on all encodings") {
    val outs = dirs.keys.toSeq.map { enc =>
      SparkEntry.queries("ref_sessions")(spark, dirs(enc)).collect().toSeq
    }
    assert(outs.distinct.size === 1, s"ref_sessions diverged across encodings")
    assert(outs.head.nonEmpty)
    // user 1's 40-min gap splits into two sessions → 3 sessions total
  }
}
