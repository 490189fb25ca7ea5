package graft.streaming

import java.nio.file.Files

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{Engine, GraftSparkSpec}

/** Driver-side collector for restart tests: the memory sink refuses
  * checkpoint recovery (not fault-tolerant), foreachBatch supports it —
  * and in local mode the batch closure runs in this JVM, so a shared
  * buffer observes exactly what a restarted query emits. */
object StateRecoverySpec {
  val collected = TrieMap.empty[String, ArrayBuffer[UserProfile]]
}

/** T4 checkpoint recovery: a `flatMapGroupsWithState` query killed and
  * restarted from its checkpoint must resume with its state intact.
  *
  * The proof shape: batch 1 is processed and COMMITTED before the stop, so
  * on restart the source replays only batch 2 — if the restarted query's
  * profile for user 1 still counts batch 1's events, those counts can only
  * have come from the restored state store, not from re-reading input.
  * Run twice: default HDFS-backed provider and RocksDB (the provider a
  * large cluster runs, where state exceeds executor heap). */
class StateRecoverySpec extends GraftSparkSpec {
  import StateRecoverySpec.collected

  /** Run the kill-restart scenario under the session's current state-store
    * provider; returns the restarted query's final profile for user 1. */
  private def killRestartScenario(tag: String): (Long, Long, Long, Long) = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val ckpt = Files.createTempDirectory(s"graft_ckpt_$tag").toString
    val input = MemoryStream[UserEvent]
    def start(phase: String) = {
      val key = s"${tag}_$phase"
      collected.put(key, ArrayBuffer.empty)
      UserState.profiles(input.toDF(), evictAfter = None)
        .writeStream.queryName(s"recover_$key")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserProfile], _: Long) =>
          collected(key).synchronized { collected(key) ++= batch.collect() }
          ()
        }
        .start()
    }

    // phase 1: two users, commit, then kill the query
    val q1 = start("p1")
    try {
      input.addData(
        UserEvent(1L, "click", 1000L),
        UserEvent(1L, "view", 2000L),
        UserEvent(2L, "click", 1500L))
      q1.processAllAvailable()
    } finally q1.stop()
    q1.awaitTermination()
    assert(collected(s"${tag}_p1").map(_.user_id).toSet === Set(1L, 2L))

    // phase 2: new data for user 1 only, restart from the same checkpoint
    input.addData(UserEvent(1L, "click", 5000L))
    val q2 = start("p2")
    try {
      q2.processAllAvailable()
      val rows = collected(s"${tag}_p2").toSeq
      // the restarted query's sink sees ONLY batch-2 updates (user 1) —
      // batch 1 was committed pre-kill and is not replayed
      assert(rows.map(_.user_id).toSet === Set(1L),
        "restart replayed already-committed input")
      val r = rows.maxBy(_.n_events)
      (r.n_events, r.n_clicks, r.first_ts_ms, r.last_ts_ms)
    } finally q2.stop()
  }

  test("flatMapGroupsWithState state survives kill + restart (default provider)") {
    // 3 events / 2 clicks / ts span [1000, 5000]: 2 events + 1 click and
    // the 1000 ms first_ts are batch-1 facts recoverable only from state
    assert(killRestartScenario("hdfs") === ((3L, 2L, 1000L, 5000L)))
  }

  test("flatMapGroupsWithState state survives kill + restart (RocksDB provider)") {
    val rocks = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    Engine.withConf(spark, Seq(rocks)) {
      assert(killRestartScenario("rocksdb") === ((3L, 2L, 1000L, 5000L)))
    }
  }
}
