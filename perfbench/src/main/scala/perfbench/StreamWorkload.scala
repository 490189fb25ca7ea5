package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Tables
import graft.operators.Behavior
import graft.streaming.ReportSink

/** The reference's click → 4-message fan-out → cumulative report pipeline,
  * driven through the engine's public streaming API.
  *
  * Clicks go into a MemoryStream with one partition per core, as a Kafka
  * topic with one partition per core would deliver them; the stream is
  * `Behavior.fanoutMessages(clicks, customer)` written by
  * `ReportSink.writer(..., cadence = "0 seconds")`, so a report tick starts
  * as soon as the previous one ends.
  *
  * 1. Set-up, three times: session start, customer load, and a report
  *    stream that reports [[warmEvents]] clicks and stops (see
  *    [[Main.setup]]). This also warms codegen and the JIT.
  * 2. Latency phase, open loop, after one tick of one click has started
  *    the stream: one generator thread offers [[baseRate]] clicks/s for
  *    `seconds`, then the stream drains. Each click is timed
  *    from its scheduled send time (not the time the generator got to it)
  *    to the end of the first report tick that includes it.
  * 3. Capacity phase, closed loop on the same stream: [[capBatches]]
  *    batches of [[capBatch]] clicks, each offered once the tick before has
  *    committed. The throughput is the median over the batches of the
  *    batch's clicks over the time from its offer to its commit.
  * 4. The final report must equal the batch report over every click of
  *    both phases (the output check).
  *
  * Complete-mode state grows with every new (topic, value) pair, so tick
  * cost grows with history: the phase lengths are fixed, never adaptive. */
object StreamWorkload {
  /** The reference's 12 services (`home` is dropped producer-side). */
  val services: Array[String] = Array("gitlab", "jupyterhub", "git", "openldap",
    "googlekubernetes", "odoo", "rabbitmq", "activemq", "camel", "cassandra",
    "kafka", "zookeeper")
  val baseRate = 2000.0
  val capBatches = 3
  val capBatch = 12000
  val warmEvents = 500
  val chunkMs = 20L

  final case class Click(event_id: Long, user_id: Long, event_type: String, props: String)

  /** Seeded click source: user ids drawn from the customer keys. */
  final class Clicks(seed: Long, nCustomers: Long) {
    private val rng = new Random(seed)
    private var next = 0L
    def take(n: Int): Seq[Click] = Seq.fill(n) {
      val c = Click(next, (rng.nextDouble() * nCustomers).toLong,
        services(rng.nextInt(services.length)), s"""{"k": ${rng.nextInt(100)}}""")
      next += 1
      c
    }
  }

  /** What one phase sent and what the stream reported back. */
  final class Phase(val rate: Double) {
    val sent = mutable.ArrayBuffer.empty[Click]
    /** (MemoryStream offset, first event, end event) per addData. */
    val chunks = mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var backlogMax = 0L
    var lateMaxMs = 0.0
    var t0Ns = 0L
    def sched(i: Int): Long = t0Ns + (i / rate * 1e9).toLong
  }

  private def input(spark: SparkSession): MemoryStream[Click] =
    MemoryStream[Click](spark, Main.cores)(Encoders.product[Click])

  def run(a: Main.Args, tracer: Tracer): Map[String, Any] = {
    val (spark, setupS) = Main.setup(3) { s =>
      val customer = Tables.customer(s, a.data)
      val in = input(s)
      val dir = s"${a.out}/setup/${System.nanoTime()}"
      val q = ReportSink.writer(Behavior.fanoutMessages(in.toDF(), customer),
        s"$dir/report", s"$dir/checkpoint", cadence = "0 seconds").start()
      try {
        in.addData(new Clicks(-1L - a.seed, customer.count()).take(warmEvents))
        q.processAllAvailable()
      } finally q.stop()
    }
    Main.log(f"setup done, median $setupS%.2f s")
    val customer = Tables.customer(spark, a.data)
    val clicks = new Clicks(a.seed, customer.count())
    tracer.install(spark)

    val base = new Phase(baseRate)
    val cap = new Phase(Double.NaN)
    @volatile var current = new Phase(Double.NaN)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        onProgress(current, e.progress, if (current eq base) Some(tracer) else None)
    }
    spark.streams.addListener(listener)
    val in = input(spark)
    val q = tracer.within(spark, tracer.begin("query report_stream", "queries")) {
      ReportSink.writer(Behavior.fanoutMessages(in.toDF(), customer),
        s"${a.out}/stream/report", s"${a.out}/stream/checkpoint", cadence = "0 seconds")
    }.start()
    var layers = Map.empty[String, Double]
    // the stream's first tick also starts it (state store, first plan): a
    // one-click tick before the open loop keeps that out of the latencies
    val prime = clicks.take(1)
    val capRates = try {
      in.addData(prime)
      q.processAllAvailable()
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      tracer.resetCounters()
      current = base
      val processToFirstOp = Main.sinceProcessStart
      openLoop(in, clicks, base, a.seconds)
      q.processAllAvailable()
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      layers = streamLayers(base, tracer) + ("setup.process_to_first_op_s" -> processToFirstOp)
      Main.log(s"latency phase done: ${base.progress.size} ticks")
      current = cap
      (1 to capBatches).map { _ =>
        val t0 = System.nanoTime()
        val batch = clicks.take(capBatch)
        in.addData(batch)
        cap.sent ++= batch
        q.processAllAvailable()
        capBatch / ((System.nanoTime() - t0) / 1e9)
      }
    } finally {
      q.stop()
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    Main.log(s"capacity phase done: ${cap.progress.size} ticks")
    val check = checkReport(spark, customer, prime ++ base.sent ++ cap.sent,
      s"${a.out}/stream/report", q.lastProgress.batchId)
    Main.log("report check done")
    Map[String, Any](
      "setup_s" -> setupS,
      "latencies" -> base.latencies.toSeq,
      "throughput_per_s" -> pct(capRates, 50),
      "attempted" -> (1 + base.sent.size + cap.sent.size),
      "failed" -> check.values.sum,
      "errors" -> check.filter(_._2 > 0).map { case (k, v) => k -> s"$v mismatched" },
      "notes" -> (f"${base.progress.size} latency-phase ticks, generator at most " +
        f"${base.lateMaxMs}%.1f ms late, backlog at most ${base.backlogMax} clicks; " +
        s"${cap.progress.size} capacity ticks at ${capRates.map(r => f"$r%.0f").mkString(" ")} clicks/s")) ++
      (if (tracer.enabled) Map("layers" -> layers) else Map.empty)
  }

  private def pct(v: Iterable[Double], q: Double): Double = {
    val s = v.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.min(s.length - 1, math.ceil(q / 100 * s.length).toInt - 1)))
  }

  /** Offers clicks at the phase's rate for `seconds`, in chunks of
    * [[chunkMs]]. */
  private def openLoop(in: MemoryStream[Click], clicks: Clicks, ph: Phase,
      seconds: Double): Unit = {
    val total = math.max(1, (ph.rate * seconds).toInt)
    ph.t0Ns = System.nanoTime()
    var sentN = 0
    while (sentN < total) {
      val due = math.min(total,
        ((System.nanoTime() - ph.t0Ns) / 1e9 * ph.rate).toLong.toInt + 1)
      if (due > sentN) {
        val batch = clicks.take(due - sentN)
        val off = in.addData(batch).json().toLong
        val lateMs = (System.nanoTime() - ph.sched(due - 1)) / 1e6
        ph.synchronized {
          ph.sent ++= batch
          ph.chunks += ((off, sentN, due))
          if (lateMs > ph.lateMaxMs) ph.lateMaxMs = lateMs
        }
        sentN = due
      }
      Thread.sleep(chunkMs)
    }
  }

  /** Times every click of the tick that just ended and records the tick. */
  private def onProgress(ph: Phase, p: StreamingQueryProgress, tracer: Option[Tracer]): Unit = {
    if (p.numInputRows == 0 && p.sources.forall(_.endOffset == null)) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val startWallMs = Instant.parse(p.timestamp).toEpochMilli
    val nowNs = System.nanoTime()
    val endNs = nowNs - (System.currentTimeMillis() - startWallMs - d.getOrElse("triggerExecution", 0L)) * 1000000L
    val lo = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
    val hi = p.sources.head.endOffset.toLong
    ph.synchronized {
      ph.progress += p
      var sentIn = 0
      for ((off, from, until) <- ph.chunks) {
        if (off > lo && off <= hi) for (i <- from until until)
          ph.latencies += (endNs - ph.sched(i)) / 1e9
        if (off <= hi) sentIn = until
      }
      ph.backlogMax = math.max(ph.backlogMax, ph.sent.size - sentIn)
    }
    tracer.filter(_.enabled).foreach { t =>
      val b = t.begin(s"batch ${p.batchId}", "stream",
        startNs = endNs - d.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = b.startNs
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
           "commitOffsets"); ms <- d.get(k)) {
        t.end(t.begin(s"stream $k", "stream.phase", b.id, at), at + ms * 1000000L)
        at += ms * 1000000L
      }
      t.end(b, endNs)
    }
  }

  /** The final report must equal the batch report over every click sent,
    * and its click total must equal the clicks sent. Returns the number of
    * mismatched rows per table plus `missing_or_duplicate_clicks`. */
  private def checkReport(spark: SparkSession, customer: DataFrame, sent: Seq[Click],
      reportDir: String, lastBatch: Long): Map[String, Long] = {
    import spark.implicits._
    val events = spark.sparkContext.parallelize(sent, Main.cores).toDF()
    val counts = Behavior.valueCounts(Behavior.fanoutMessages(events, customer)).persist()
    val expected = ReportSink.reportTables(counts)
    def bag(df: DataFrame): Map[Row, Int] = df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    val mism = expected.map { case (name, exp) =>
      val want = bag(exp)
      val got = bag(spark.read.parquet(s"$reportDir/batch=$lastBatch/$name").select(exp.columns.map(col): _*))
      name -> (want.keySet ++ got.keySet).toSeq
        .map(r => math.abs(want.getOrElse(r, 0) - got.getOrElse(r, 0)).toLong).sum
    }
    val clicks = spark.read.parquet(s"$reportDir/batch=$lastBatch/value_counts")
      .filter(col("topic").endsWith("_clicks")).agg(sum("cnt")).head().getLong(0)
    counts.unpersist()
    mism + ("missing_or_duplicate_clicks" -> math.abs(clicks - sent.size))
  }

  private def streamLayers(ph: Phase, tracer: Tracer): Map[String, Double] = {
    val ps = ph.progress.toSeq
    def p50(key: String): Double =
      pct(ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue)), 50)
    val ops = ps.flatMap(_.stateOperators.headOption)
    tracer.layerMetrics(1) ++ Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_p50_ms" -> p50("triggerExecution"),
      "stream.addBatch_p50_ms" -> p50("addBatch"),
      "stream.queryPlanning_p50_ms" -> p50("queryPlanning"),
      "stream.walCommit_p50_ms" -> p50("walCommit"),
      "stream.commitOffsets_p50_ms" -> p50("commitOffsets"),
      "stream.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_mem_bytes" -> ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "stream.state_commit_ms" -> pct(ops.map(_.commitTimeMs.toDouble), 50),
      // Complete mode re-emits every state row each tick
      "stream.rows_emitted_per_row_updated" ->
        ops.map(_.numRowsTotal).sum.toDouble / math.max(1L, ops.map(_.numRowsUpdated).sum),
      "stream.backlog_max_events" -> ph.backlogMax.toDouble,
      "gen.late_max_ms" -> ph.lateMaxMs)
  }
}
