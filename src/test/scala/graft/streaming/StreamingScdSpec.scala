package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSparkSpec
import graft.operators.Scd

/** Streaming SCD2 maintenance e2e: a MemoryStream of dimension upserts
  * drives [[StreamingScd]]; the on-disk history must equal sequentially
  * applying [[Scd.scd2Merge]] per batch (stream==batch law), closed
  * history must survive untouched, and a re-delivered batch id must be a
  * no-op (marker idempotence). */
class StreamingScdSpec extends GraftSparkSpec {

  private def sorted(rows: Array[Row]) =
    rows.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      Option(r.getString(3)), r.getBoolean(4))).sortBy(t => (t._1, t._3))

  test("stream of upsert batches equals sequential batch merges") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val path = Files.createTempDirectory("graft-sscd-").toString + "/dim"
    val ckpt = Files.createTempDirectory("graft-sscd-ckpt-").toString
    val input = MemoryStream[(Long, String)]
    val dates = Map(0L -> "2000-01-01", 1L -> "2000-02-01")
    val baseline = persistentRddIds()
    val q = StreamingScd.writer(input.toDF().toDF("k", "seg"),
      path, ckpt, "k", Seq("seg"), dates).start()
    try {
      input.addData((1L, "A"), (2L, "B"))
      q.processAllAvailable()
      input.addData((2L, "B2"), (3L, "C"))
      q.processAllAvailable()
    } finally q.stop()
    // each batch's checkpointed merge is released once its writes finish
    assert(leakedSince(baseline) === Set.empty[Int],
      "a micro-batch's checkpoint blocks outlived the batch")

    val got = StreamingScd.readHistory(s, path)
      .select("k", "seg", "valid_from", "valid_to", "is_current").collect()
    // the batch law: seed -> merge batch 0 -> merge batch 1
    val seed = Seq.empty[(Long, String, String, String, Boolean)]
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val want = Scd.scd2Merge(
      Scd.scd2Merge(seed, Seq((1L, "A"), (2L, "B")).toDF("k", "seg"),
        "k", Seq("seg"), "2000-01-01"),
      Seq((2L, "B2"), (3L, "C")).toDF("k", "seg"),
      "k", Seq("seg"), "2000-02-01").collect()
    assert(sorted(got) === sorted(want))
    // and the expected content, spelled out
    assert(sorted(got) === Seq(
      (1L, "A", "2000-01-01", None, true),
      (2L, "B", "2000-01-01", Some("2000-02-01"), false),
      (2L, "B2", "2000-02-01", None, true),
      (3L, "C", "2000-02-01", None, true)).sortBy(t => (t._1, t._3)))
  }

  test("a re-delivered batch id is a no-op") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-sscd2-").toString + "/dim"
    val b0 = Seq((1L, "A")).toDF("k", "seg")
    StreamingScd.applyBatch(b0, path, 0L, "2000-01-01", "k", Seq("seg"))
    val before = sorted(StreamingScd.readHistory(s, path)
      .select("k", "seg", "valid_from", "valid_to", "is_current").collect())
    // same batch id again, different payload: marker short-circuits
    StreamingScd.applyBatch(Seq((1L, "X")).toDF("k", "seg"),
      path, 0L, "2000-01-01", "k", Seq("seg"))
    val after = sorted(StreamingScd.readHistory(s, path)
      .select("k", "seg", "valid_from", "valid_to", "is_current").collect())
    assert(after === before)
  }
}
