package graft.streaming

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Engine, GraftSparkSpec}
import graft.operators.Behavior

/** Streaming semantics (SURVEY §2.8): the Complete-mode snapshot must equal
  * the batch aggregate over the same prefix (T2 cumulative-snapshot law),
  * and stay equal as more data arrives. */
class StreamingSpec extends GraftSparkSpec {

  private def wideEvent(id: Long, user: Long, tpe: String, k: Int) =
    (id, user, tpe, s"""{"k": $k}""")

  test("Complete-mode value counts == batch A1 over the same prefix, " +
    "and update cumulatively (T2)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val input = MemoryStream[(Long, Long, String, Int)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "k")
      .withColumn("props", format_string("""{"k": %d}""", col("k")))
    val q = BehaviorStream.cumulativeValueCounts(
      Behavior.fanoutMessages(events), "vc_test", "0 seconds").start()
    try {
      val batch1 = Seq((0L, 1L, "click", 7), (1L, 1L, "view", 7), (2L, 2L, "click", 9))
      input.addData(batch1: _*)
      q.processAllAvailable()
      val snap1 = s.sql("SELECT * FROM vc_test")
      val batchEquiv1 = Behavior.valueCounts(Behavior.fanoutMessages(
        batch1.toDF("event_id", "user_id", "event_type", "k")
          .withColumn("props", format_string("""{"k": %d}""", col("k")))))
      assert(snap1.exceptAll(batchEquiv1).count() === 0)
      assert(batchEquiv1.exceptAll(snap1).count() === 0)

      // second micro-batch: snapshot must now reflect FULL history
      val batch2 = Seq((3L, 3L, "click", 7), (4L, 1L, "home", 1))
      input.addData(batch2: _*)
      q.processAllAvailable()
      val snap2 = s.sql("SELECT * FROM vc_test")
      val all = (batch1 ++ batch2).toDF("event_id", "user_id", "event_type", "k")
        .withColumn("props", format_string("""{"k": %d}""", col("k")))
      val batchEquiv2 = Behavior.valueCounts(Behavior.fanoutMessages(all))
      assert(snap2.exceptAll(batchEquiv2).count() === 0)
      assert(batchEquiv2.exceptAll(snap2).count() === 0)
      // home never produced a topic (P2)
      assert(snap2.filter(col("topic").startsWith("home")).count() === 0)
    } finally q.stop()
  }

  test("windowed value counts with watermark bound state and match batch windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val msgs = input.toDF().toDF("topic", "value", "ts")
    val q = BehaviorStream.windowedValueCounts(msgs, "10 minutes", "5 minutes")
      .writeStream.queryName("wvc_test").outputMode("complete").format("memory").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(("click_k", "7", ts(1)), ("click_k", "7", ts(4)),
        ("click_k", "7", ts(12)))
      q.processAllAvailable()
      val rows = s.sql("SELECT window.start, cnt FROM wvc_test ORDER BY 1").collect()
      assert(rows.length === 2)
      assert(rows(0).getLong(1) === 2) // 10:00 window
      assert(rows(1).getLong(1) === 1) // 10:10 window
    } finally q.stop()
  }

  test("sliding-window trending services == batch; events span overlapping windows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val data = Seq(("svc1_clicks", "7", "2024-01-01 10:07:00"),
      ("svc1_clicks", "8", "2024-01-01 10:08:00"),
      ("svc2_user", "1", "2024-01-01 10:12:00"))
      .map { case (t, v, ts) => (t, v, java.sql.Timestamp.valueOf(ts)) }

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val msgs = input.toDF().toDF("topic", "value", "ts")
    val q = BehaviorStream.trendingServices(msgs)
      .writeStream.queryName("trend_test").outputMode("complete")
      .format("memory").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val got = s.sql("SELECT window.start, service, cnt FROM trend_test")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      val exp = BehaviorStream.trendingServices(
        data.toDF("topic", "value", "ts"))
        .select(col("window.start"), col("service"), col("cnt"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(got === exp) // stream == batch
      // 10-min window sliding 5: the 10:07/10:08 events land in BOTH the
      // 10:00 and the 10:05 window (2 each); 10:12 in 10:05 and 10:10
      val svc1 = got.filter(_._2 == "svc1")
      assert(svc1.map(_._1) ===
        Set("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
      assert(svc1.forall(_._3 === 2L))
      assert(got.count(_._2 == "svc2") === 2)
    } finally q.stop()
  }

  test("session_window sessionization merges events within the gap (batch mode)") {
    val s = spark
    import s.implicits._
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // user 1: 2 sessions (gap 30m)
      (2L, ts(0))) // user 2: 1 session
      .toDF("user_id", "event_ts")
    val sessions = BehaviorStream.sessionCounts(events, "30 minutes")
      .select(col("user_id"), col("n_events")).orderBy("user_id", "n_events").collect()
    assert(sessions.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("session_window under skew: a 100k-event hot user merges into the " +
    "sessions its gaps imply, not one row per event") {
    val s = spark
    import s.implicits._
    // hot user: 100k events 1 s apart, except every 10_000th event jumps
    // 10 min — with a 30 s gap that is exactly 10 sessions of 10k events;
    // cold user: one event. session_window must hold per-SESSION state
    // (11 rows out), never per-event state.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val hotEvents = s.range(100000).select(
      lit(1L).as("user_id"),
      timestamp_millis(lit(base) + (col("id") % 10000) * 1000L +
        floor(col("id") / 10000) * 1000000000L).as("event_ts"))
    val events = hotEvents.unionAll(
      Seq((2L, new java.sql.Timestamp(base))).toDF("user_id", "event_ts"))
    val sessions = BehaviorStream.sessionCounts(events, "30 seconds")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sessions(1L) === ((10L, 100000L)))
    assert(sessions(2L) === ((1L, 1L)))
  }

  test("checkpoint restart: state survives a query stop/start (T5 exactly-once)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-").toString

    val input = MemoryStream[(String, String)]
    def start() = Behavior.valueCounts(input.toDF().toDF("topic", "value"))
      .writeStream.queryName("restart_test").outputMode("complete")
      .option("checkpointLocation", ckpt).format("memory").start()

    val q1 = start()
    input.addData(("click_k", "7"), ("click_k", "7"))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint; prior counts must be retained and
    // new data must ADD to them, not replace them
    val q2 = start()
    try {
      input.addData(("click_k", "7"), ("view_k", "9"))
      q2.processAllAvailable()
      val counts = s.sql("SELECT * FROM restart_test").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(counts(("click_k", "7")) === 3) // 2 before restart + 1 after
      assert(counts(("view_k", "9")) === 1)
    } finally q2.stop()
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = BehaviorStream.clickAttribution(
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      purchases.toDF().toDF("p_user_id", "purchase_id", "purchase_ts"),
      "30 minutes")
    val q = joined.writeStream.queryName("attr_test")
      .outputMode("append").format("memory").start()
    try {
      clicks.addData((1L, 100L, ts(0)), (2L, 101L, ts(0)))
      purchases.addData(
        (1L, 900L, ts(10)), // in window -> attributed to click 100
        (3L, 901L, ts(10)), // no click by user 3
        (2L, 902L, ts(50))) // 50 min after click 101 -> outside window
      q.processAllAvailable()
      val got = s.sql("SELECT user_id, click_id, purchase_id FROM attr_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === Seq((1L, 100L, 900L)))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a parquet backlog through the " +
    "pipeline and terminates (batch-backfill / catch-up mode)") {
    val s = spark
    // the operational mode for reprocessing history through the SAME
    // streaming pipeline (checkpointing + exactly-once included) without
    // leaving a forever-running query: AvailableNow processes everything
    // present at start, possibly as multiple rate-limited micro-batches,
    // then stops on its own
    val dir = java.nio.file.Files.createTempDirectory("graft_backlog_")
      .toFile.getAbsolutePath
    val batch = graft.Tables.events(s, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"), col("props"))
    batch.write.mode("overwrite").parquet(dir)
    val backlog = s.readStream.schema(batch.schema).parquet(dir)
    val q = BehaviorStream.cumulativeValueCounts(
      Behavior.fanoutMessages(backlog), "backfill_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      // self-terminates once the backlog is drained — a ProcessingTime
      // trigger would hang here forever
      assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
      val snap = s.sql("SELECT * FROM backfill_test")
      val expected = Behavior.valueCounts(
        Behavior.fanoutMessages(s.read.parquet(dir)))
      assert(snap.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(snap).count() === 0)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched clicks with nulls " +
    "only after the watermark proves no match can arrive") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = BehaviorStream.clickAttributionOuter(
      clicks.toDF().toDF("user_id", "click_id", "click_ts"),
      purchases.toDF().toDF("p_user_id", "purchase_id", "purchase_ts"),
      "30 minutes")
    val q = joined.writeStream.queryName("attr_outer_test")
      .outputMode("append").format("memory").start()
    try {
      clicks.addData((1L, 100L, ts(0)), (2L, 101L, ts(0)))
      purchases.addData((1L, 900L, ts(10))) // matches click 100
      q.processAllAvailable()
      def snap() = s.sql(
        "SELECT user_id, click_id, purchase_id FROM attr_outer_test")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      // click 101 is unmatched so far, but its null row must NOT appear
      // yet: a purchase inside its 30-minute window could still arrive
      assert(snap() === Set((1L, 100L, Some(900L))))

      // advance both watermarks far past click 101's window: the state
      // expiry emits the definitive unmatched row with null purchase
      clicks.addData((9L, 999L, ts(120)))
      purchases.addData((8L, 998L, ts(120)))
      q.processAllAvailable()
      q.processAllAvailable() // null emission lands in the next trigger
      assert(snap().contains((2L, 101L, None)))
      // ...and the matched click is never re-emitted as unmatched
      assert(!snap().contains((1L, 100L, None)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups redelivered event ids") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = BehaviorStream.dedupEvents(
      input.toDF().toDF("event_id", "event_type", "ts"), "10 minutes")
    val q = deduped.writeStream.queryName("dedup_test")
      .outputMode("append").format("memory").start()
    try {
      input.addData(
        (1L, "click", ts(0)),
        (1L, "click", ts(1)), // redelivery of event 1 -> dropped
        (2L, "view", ts(2)))
      q.processAllAvailable()
      input.addData((1L, "click", ts(3))) // still within watermark -> dropped
      q.processAllAvailable()
      val got = s.sql("SELECT event_id FROM dedup_test ORDER BY event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(1L, 2L))
    } finally q.stop()
  }

  test("RocksDB state store provider runs the cumulative aggregate") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rocks = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    Engine.withConf(s, Seq(rocks)) {
      val input = MemoryStream[(String, String)]
      val q = Behavior.valueCounts(input.toDF().toDF("topic", "value"))
        .writeStream.queryName("rocks_test").outputMode("complete")
        .format("memory").start()
      try {
        input.addData(("click_k", "7"), ("click_k", "7"), ("view_k", "9"))
        q.processAllAvailable()
        input.addData(("click_k", "7"))
        q.processAllAvailable()
        val counts = s.sql("SELECT * FROM rocks_test").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(counts(("click_k", "7")) === 3)
        // the query really ran on RocksDB, not the default provider
        assert(q.lastProgress.json.contains("rocksdb"), q.lastProgress.json.take(500))
      } finally q.stop()
    }
  }

  test("4-way fan-out on a stream (stream-static broadcast dim join) == batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[(Long, Long, String, Int)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "k")
      .withColumn("props", format_string("""{"k": %d}""", col("k")))
    // stream-static join: stateless, no watermark — runs per microbatch
    val q = Behavior.fanoutMessages(events, customer)
      .writeStream.format("memory").queryName("fanout4_test")
      .outputMode("append").start()
    try {
      val rows = Seq((0L, 1L, "click", 7), (1L, 2L, "view", 3),
        (2L, 9L, "click", 5)) // user 9: no dim row -> segment 'unknown'
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = s.sql("SELECT topic, value FROM fanout4_test")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val want = Behavior.fanoutMessages(
        rows.toDF("event_id", "user_id", "event_type", "k")
          .withColumn("props", format_string("""{"k": %d}""", col("k"))),
        customer)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got === want)
      // 4 messages per non-home event, reference parity
      assert(got.size === rows.size * 4)
      assert(got.contains(("click_segment", "unknown")))
      assert(got.contains(("click_segment", "BUILDING")))
    } finally q.stop()
  }

  test("kafka fan-out writer shape: (topic, value) string columns (S3 contract)") {
    val s = spark
    import s.implicits._
    val wide = Seq((0L, 1L, "click", """{"k": 3}""")).toDF("event_id", "user_id", "event_type", "props")
    val out = Behavior.fanoutMessages(wide)
    assert(out.schema.fieldNames.toSeq === Seq("topic", "value"))
    assert(out.schema.fields.forall(_.dataType.typeName == "string"))
  }

  // No Kafka connector ships with this engine's Spark build, so both Kafka
  // paths must fail at definition time with Spark's "data source not
  // found" error (S1/S3), before touching a broker.
  private def assertKafkaNotFound(body: => Any): Unit = {
    val e = intercept[AnalysisException](body)
    assert(e.getCondition === "_LEGACY_ERROR_TEMP_1140")
    assert(e.getMessage.contains("Failed to find data source: kafka"))
  }

  test("kafka source fails fast without a connector (S1)") {
    assertKafkaNotFound(BehaviorStream.kafkaSource(spark, "localhost:1"))
  }

  test("kafka fan-out writer fails fast at start without a connector (S3)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Long, Long, String, String)]
    val wide = input.toDF().toDF("event_id", "user_id", "event_type", "props")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kafka-ckpt-").toString
    val running = s.streams.active.length
    assertKafkaNotFound(
      BehaviorStream.kafkaFanoutWriter(wide, "localhost:1", ckpt).start())
    assert(s.streams.active.length === running) // no query was started
  }

  test("streaming incremental agg: maintained partitioned table == batch " +
    "recompute after every micro-batch; re-applied batch is a no-op") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_agg").toString + "/table"
    val input = MemoryStream[(String, String, Long)]
    val rows = input.toDF().toDF("day", "event_type", "cents")
    val q = IncrementalAgg.maintainDailyAgg(rows, path).start()

    def maintained() = s.read.parquet(path)
      .select(col("day").cast("string"), col("event_type"), col("cnt"), col("ct"))
    def recompute(data: Seq[(String, String, Long)]) =
      data.toDF("day", "event_type", "cents")
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("ct"))
    def assertEqual(data: Seq[(String, String, Long)]): Unit = {
      val want = recompute(data)
      assert(maintained().exceptAll(want).count() === 0)
      assert(want.exceptAll(maintained()).count() === 0)
    }
    val b1 = Seq(("2024-01-01", "click", 100L), ("2024-01-01", "view", 50L),
      ("2024-01-02", "click", 70L))
    val b2 = Seq(("2024-01-02", "click", 30L), ("2024-01-03", "view", 9L))
    try {
      // batch 1: two days
      input.addData(b1: _*)
      q.processAllAvailable()
      assertEqual(b1)
      // batch 2: one existing day (merge must SUM, not replace) + one new
      input.addData(b2: _*)
      q.processAllAvailable()
      assertEqual(b1 ++ b2)
      // the day-01 partition was untouched by batch 2
      assert(maintained().filter(col("day") === "2024-01-01").count() === 2)
    } finally q.stop()

    // idempotence: re-applying an already-committed batch id is a no-op
    // (the foreachBatch re-delivery case)
    IncrementalAgg.applyBatch(
      Seq(("2024-01-03", "view", 999L)).toDF("day", "event_type", "cents"),
      path, batchId = 1L)
    assertEqual(b1 ++ b2)
    // a NEW batch id still applies
    val b3 = Seq(("2024-01-03", "view", 999L))
    IncrementalAgg.applyBatch(b3.toDF("day", "event_type", "cents"),
      path, batchId = 99L)
    assertEqual(b1 ++ b2 ++ b3)
  }

  test("upsert value counts (Update-style A1): maintained table == batch A1 " +
    "over prefix after every micro-batch, across a kill + restart") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_upsert_a1").toString
    val path = root + "/table"
    val ckpt = root + "/ckpt"
    val input = MemoryStream[(String, String)]
    def startQuery() = BehaviorStream
      .upsertValueCounts(input.toDF().toDF("topic", "value"), path)
      .option("checkpointLocation", ckpt)
      .start()
    def assertEqual(data: Seq[(String, String)]): Unit = {
      val got = s.read.parquet(path)
        .select(col("topic").cast("string").as("topic"), col("value"), col("cnt"))
      val want = Behavior.valueCounts(data.toDF("topic", "value"))
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    }
    val b1 = Seq(("gitlab_clicks", "1"), ("gitlab_clicks", "1"),
      ("gitlab_age", "31"), ("kafka_city", "Radom"))
    val b2 = Seq(("gitlab_clicks", "1"), ("kafka_city", "Radom"),
      ("kafka_city", "Gdynia"))
    val b3 = Seq(("gitlab_age", "31"), ("odoo_clicks", "1"))
    val q1 = startQuery()
    try {
      input.addData(b1: _*)
      q1.processAllAvailable()
      assertEqual(b1)
      input.addData(b2: _*)
      q1.processAllAvailable()
      assertEqual(b1 ++ b2) // merge SUMS into touched topics, keeps others
    } finally q1.stop() // kill
    // restart from the same checkpoint: cumulative counts came from the
    // TABLE, not from any in-memory state — the law must keep holding
    val q2 = startQuery()
    try {
      input.addData(b3: _*)
      q2.processAllAvailable()
      assertEqual(b1 ++ b2 ++ b3)
    } finally q2.stop()
  }

  test("incremental agg exactly-once: a crash in EITHER window around the " +
    "marker commit never double counts") {
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_crash_agg").toString + "/table"
    def maintained() = s.read.parquet(path)
      .select(col("day").cast("string"), col("event_type"), col("cnt"), col("ct"))
    def assertEqual(data: Seq[(String, String, Long)]): Unit = {
      val want = data.toDF("day", "event_type", "cents")
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("ct"))
      assert(maintained().exceptAll(want).count() === 0)
      assert(want.exceptAll(maintained()).count() === 0)
    }
    val b0 = Seq(("2024-02-01", "click", 10L), ("2024-02-02", "view", 5L))
    IncrementalAgg.applyBatch(b0.toDF("day", "event_type", "cents"), path, 0L)
    assertEqual(b0)

    // window 1: crash AFTER the marker commit, BEFORE publish. The old
    // in-place merge re-applied the delta here (the documented re-apply-
    // once hole); the staged protocol must finish the publish from
    // staging on re-delivery without re-merging.
    val b1 = Seq(("2024-02-02", "view", 7L), ("2024-02-03", "click", 2L))
    assert(IncrementalAgg.stageAndCommit(
      b1.toDF("day", "event_type", "cents"), path, 1L))
    // "crash": publish never runs; table still shows only b0
    assertEqual(b0)
    // re-delivery of the SAME batch: recovery publishes the staged data,
    // stageAndCommit short-circuits on the marker — applied exactly once
    IncrementalAgg.applyBatch(b1.toDF("day", "event_type", "cents"), path, 1L)
    assertEqual(b0 ++ b1)
    // a second re-delivery is a pure no-op (nothing staged, marker set)
    IncrementalAgg.applyBatch(b1.toDF("day", "event_type", "cents"), path, 1L)
    assertEqual(b0 ++ b1)

    // window 2: crash AFTER staging, BEFORE the marker commit — the
    // batch is NOT committed, so recovery must DISCARD the orphan
    // staging (not publish it) and the re-delivered batch re-merges
    // from the unchanged table.
    val b2 = Seq(("2024-02-03", "click", 100L))
    val delta = b2.toDF("day", "event_type", "cents")
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("ct"))
    val existing = s.read.parquet(path).filter(col("day") === "2024-02-03")
      .select(col("day").cast("string").as("day"), col("event_type"),
        col("cnt"), col("ct"))
    existing.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("ct")).as("ct"))
      .write.mode("overwrite").partitionBy("day")
      .parquet(path + "/_staging/batch-2")
    // "crash": no marker written; table unchanged
    assertEqual(b0 ++ b1)
    IncrementalAgg.applyBatch(b2.toDF("day", "event_type", "cents"), path, 2L)
    assertEqual(b0 ++ b1 ++ b2)
    // the orphan staging was discarded and re-created, not double-applied
    assert(!new java.io.File(path + "/_staging/batch-2").exists())
  }
}
