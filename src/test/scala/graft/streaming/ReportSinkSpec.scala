package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.GraftSparkSpec
import graft.operators.Behavior

/** The report sink (S8 replacement) end-to-end over a MemoryStream:
  * per-tick tables must be CUMULATIVE (reference T2 semantics), not
  * batch-local. */
class ReportSinkSpec extends GraftSparkSpec with AdaptiveSparkPlanHelper {

  test("report tables are cumulative across ticks and idempotently re-writable") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val out = Files.createTempDirectory("graft-report-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString

    val input = MemoryStream[(Long, Long, String, Int)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "k")
      .withColumn("props", format_string("""{"k": %d}""", col("k")))
    val q = ReportSink.writer(Behavior.fanoutMessages(events), out, ckpt,
      cadence = "0 seconds").start()
    try {
      input.addData((0L, 1L, "click", 7), (1L, 2L, "view", 9))
      q.processAllAvailable()
      val vc0 = s.read.parquet(s"$out/batch=0/value_counts")
      assert(vc0.count() === 6) // 2 events x 3 dims, all distinct values
      val cbs0 = s.read.parquet(s"$out/batch=0/clicks_by_service")
      assert(cbs0.columns.toSeq === Seq("service", "clicks", "pct", "label"))
      assert(cbs0.agg(sum("pct")).head().getDouble(0) === 100.0)
      // F5: the reference's pie-slice label `f'{service} ({count})'`
      assert(cbs0.filter(col("service") === "click")
        .head().getAs[String]("label") === "click (1)")

      // tick 2: the NEW batch dir must reflect FULL history (T2), so the
      // click_clicks count is 2 (one from each tick)
      input.addData((2L, 3L, "click", 7))
      q.processAllAvailable()
      val vc1 = s.read.parquet(s"$out/batch=1/value_counts")
      val clickCnt = vc1.filter(col("topic") === "click_clicks").head().getLong(2)
      assert(clickCnt === 2)
      val bd1 = s.read.parquet(s"$out/batch=1/dim_breakdown")
      assert(bd1.filter(col("dim") === "clicks").count() === 0)
      assert(bd1.filter(col("dim") === "k" && col("value") === "7")
        .head().getLong(3) === 2) // cumulative k=7 across both click events
    } finally q.stop()

    // idempotent re-write of a batch snapshot (S9 unnecessary)
    val snap = Seq(("click_clicks", "1", 5L)).toDF("topic", "value", "cnt")
    ReportSink.writeReport(snap, out, 0L)
    assert(spark.read.parquet(s"$out/batch=0/value_counts").count() === 1)
  }

  test("a tick builds the snapshot cache once, writes every table from it " +
    "as one part file, and drops it after the last write") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val session = s.asInstanceOf[classic.SparkSession]
    val out = Files.createTempDirectory("graft-report-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    // start from an empty cache so the check below sees only this stream
    s.catalog.clearCache()

    // (table, write plan) of every parquet write under `out`
    val writes = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.executedPlan match {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.toUri.getPath.startsWith(out) =>
            writes.add((c.outputPath.getName, w))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)

    val input = MemoryStream[(Long, Long, String, Int)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "k")
      .withColumn("props", format_string("""{"k": %d}""", col("k")))
    val q = ReportSink.writer(Behavior.fanoutMessages(events), out, ckpt,
      cadence = "0 seconds").start()
    try {
      input.addData((0L, 1L, "click", 7), (1L, 2L, "view", 9),
        (2L, 3L, "click", 8))
      q.processAllAvailable()
      assert(session.sharedState.cacheManager.isEmpty)

      val tables = Set("value_counts", "clicks_by_service", "dim_breakdown")
      eventually(timeout(30.seconds)) {
        assert(writes.asScala.map(_._1).toSet === tables)
      }
      assert(writes.size === tables.size)
      writes.asScala.foreach { case (name, plan) =>
        assert(find(plan)(_.isInstanceOf[InMemoryTableScanExec]).isDefined,
          s"$name does not read the snapshot cache:\n$plan")
        assert(find(plan)(_.isInstanceOf[StateStoreSaveExec]).isEmpty,
          s"$name recomputes the stateful aggregate:\n$plan")
      }
      tables.foreach { name =>
        val parts = new File(s"$out/batch=0/$name").list()
          .filter(_.startsWith("part-"))
        assert(parts.length === 1, s"$name: ${parts.toSeq}")
      }
    } finally {
      q.stop()
      s.listenerManager.unregister(listener)
    }
  }

  test("runAll returns only after every write has ended and rethrows the " +
    "first failure") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      ReportSink.runAll(spark.asInstanceOf[classic.SparkSession], Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); slowDone.set(true) },
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage === "first")
    assert(slowDone.get())
  }
}
