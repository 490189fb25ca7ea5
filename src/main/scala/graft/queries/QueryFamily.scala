package graft.queries

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.streaming.{DeadLetter, FileIngest}

/** A named family of driver-checked queries: Spark plan + DuckDB oracle.
  *
  * Cross-engine determinism contract (see SparkEntry scaladoc):
  * every query ends in ORDER BY over its full output key; aggregates of
  * double columns go through integer-cent arithmetic ([[QueryFamily.cents]])
  * so the result is exact and identical regardless of either engine's
  * summation order or decimal-conversion rules.
  */
trait QueryFamily {
  def queries: ListMap[String, (SparkSession, String) => DataFrame]
  def oracles: ListMap[String, String]

  /** Queries for which a bench warmup run is pure waste (round 15): the
    * [[QueryFamily.replayStream]] rows clear their state and replay their
    * whole stream from batch 0 on every execution, so there is no cache
    * to warm — the bench harness gives these a single timed run per visit
    * instead of warmup+timed. Default: none. */
  def noWarmup: Set[String] = Set.empty
}

object QueryFamily {

  /** Money-typed double → exact integer cents. Safe across engines: the
    * source values are decimally 2dp, so x*100 is always within ~1e-9 of an
    * integer — both engines' ROUND land on the same one. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer cents → double for presentation; integer→double
    * conversion is exact below 2^53 in both engines. */
  def dollars(c: Column): Column = c.cast("double") / 100

  /** SQL mirror of [[cents]]. */
  def centsSql(col: String): String = s"CAST(ROUND($col * 100) AS BIGINT)"

  /** SQL mirror of [[dollars]]. */
  def dollarsSql(expr: String): String = s"CAST($expr AS DOUBLE) / 100"

  /** Per-JVM-unique scratch path under java.io.tmpdir. Queries that
    * materialize intermediate tables (rel_incremental_agg,
    * dd_index_persist) MUST use this instead of a fixed path: two
    * concurrent JVMs over the same tmpdir (driver Verify + a manual
    * Bench) would otherwise race the same directory. Every path handed
    * out is recorded and recursively deleted by a JVM shutdown hook, so
    * repeated bench/verify runs don't accumulate scratch directories. */
  def jvmScratch(name: String): String = {
    val path =
      sys.props("java.io.tmpdir") + s"/$name-jvm${ProcessHandle.current().pid()}"
    scratchPaths.synchronized { scratchPaths += path }
    path
  }

  private val scratchPaths = scala.collection.mutable.LinkedHashSet.empty[String]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchPaths.synchronized(scratchPaths.toList).foreach { p =>
        try deleteRecursively(new java.io.File(p)) catch { case _: Exception => }
      }, "graft-scratch-cleanup"))
  }

  /** Clear a scratch path so a query re-run inside one JVM starts from
    * an empty state (bench re-executes each registered query several
    * times; an upsert table or stream checkpoint left by the previous
    * run would otherwise leak into the next). */
  def clearScratch(path: String): Unit = deleteRecursively(new java.io.File(path))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Per-query wall cap (`SPARK_GRAFT_QUERY_CAP_S`, default 150 s): the
    * cap of Bench's watchdog and of every [[replayStream]] row. */
  def queryCapS: Double = sys.env.get("SPARK_GRAFT_QUERY_CAP_S")
    .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(150.0)

  /** Data dir whose source each stream row (by name) last wrote in this JVM. */
  private val replaySources = scala.collection.mutable.Map.empty[String, String]

  /** Runs a registry row's Structured Streaming query to completion and
    * returns the path of the state its `sink` maintains. The one replay
    * mechanism of the rows that fold bounded input through a stream:
    *
    *  - `rows` is written as a ≥3-file source once per (JVM, data dir):
    *    the files are IMMUTABLE inputs (in production they already exist,
    *    the stream's job is to fold them in), so Bench re-runs reuse them,
    *    and a JVM that runs the row at a second data dir rewrites it.
    *    `json = None` writes parquet, read back through
    *    [[graft.streaming.FileIngest.parquetDirStream]]; `Some(schema)`
    *    writes `rows`' one string column as text lines, read back through
    *    [[graft.streaming.DeadLetter.jsonDirStream]] with `schema`.
    *  - State and checkpoint are cleared first, so every execution replays
    *    from batch 0 against empty state instead of double-folding (which
    *    is why these rows are `noWarmup`).
    *  - One file per trigger, `Trigger.AvailableNow`: a real multi-batch
    *    stream that terminates once the source is drained.
    *  - `restart = true` is the kill+restart recovery law: only file 0 is
    *    revealed and one lifetime drains it and terminates; the rest land
    *    and a second `start()` resumes from the same checkpoint. The file
    *    source's log must carry the seen-files set across lifetimes
    *    (refolding file 0 double-counts), and the sink's exactly-once
    *    markers must hold across the boundary.
    *
    * The await is BOUNDED by one [[queryCapS]] budget shared by every
    * lifetime: the stream's jobs run under its own job group, so Bench's
    * watchdog (cancelJobGroup on "bench-<name>") cannot reach them, and an
    * unbounded await on a wedged micro-batch would hang the whole run past
    * any outer kill timeout. A capped stream throws so the harness
    * records the error and coverage continues; the stop is bounded too
    * (the default `spark.sql.streaming.stopTimeout` of 0 waits forever). */
  private[queries] def replayStream(s: SparkSession, name: String,
      dataDir: String, rows: => DataFrame, json: Option[StructType] = None,
      restart: Boolean = false)(
      sink: (DataFrame, String) => DataStreamWriter[Row]): String = {
    val root = jvmScratch(s"graft_$name")
    val (all, state, cp) = (s"$root/all", s"$root/state", s"$root/cp")
    replaySources.synchronized {
      if (!replaySources.get(name).contains(dataDir) || !new File(all).isDirectory) {
        clearScratch(root)
        val files = rows.repartition(3).write
        if (json.isEmpty) files.parquet(all) else files.text(all)
        replaySources(name) = dataDir
      }
    }
    // a restarted stream tails its own dir, revealed file by file
    val src = if (restart) s"$root/src" else all
    (Seq(state, cp) ++ Option.when(restart)(src)).foreach(clearScratch)
    val deadline = System.nanoTime() + (queryCapS * 1e9).toLong
    def lifetime(): Unit = {
      val stream = json.fold(FileIngest.parquetDirStream(s, src,
        s.read.parquet(all).schema, maxFilesPerTrigger = 1))(
        DeadLetter.jsonDirStream(s, src, _, maxFilesPerTrigger = 1))
      val q = sink(stream, state)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      val capS = (deadline - System.nanoTime()) / 1e9
      if (capS <= 0 || !q.awaitTermination((capS * 1000).toLong)) {
        // a stop that itself times out must not mask the cap error: the
        // row is reported capped either way
        val stopErr = graft.Engine.withConf(s,
            Seq("spark.sql.streaming.stopTimeout" -> "10000")) {
          try { q.stop(); None } catch { case e: Throwable => Some(e) }
        }
        val cap = new RuntimeException(
          f"$name stream exceeded the $queryCapS%.0f s per-query cap")
        stopErr.foreach(cap.addSuppressed)
        throw cap
      }
    }
    if (restart) {
      val files = new File(all).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      def reveal(fs: Seq[File]): Unit = fs.foreach(f =>
        Files.copy(f.toPath, new File(src, f.getName).toPath): Unit)
      new File(src).mkdirs()
      reveal(files.take(1))
      lifetime() // folds batch 0, then terminates (AvailableNow drained)
      reveal(files.drop(1))
    }
    lifetime() // a restart resumes from the checkpoint: batches 1..n only
    state
  }
}
