package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * e2e streaming queries clear scratch and replay their whole stream
    * from batch 0 on every execution, so there is no cache to warm — the
    * bench harness gives these a single timed run per visit instead of
    * warmup+timed. Default: none. */
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
    * cap of Bench's watchdog and of the e2e streaming queries (the gov_*
    * family and the dead-letter ingest row). */
  def queryCapS: Double = sys.env.get("SPARK_GRAFT_QUERY_CAP_S")
    .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(150.0)

  /** BOUNDED await for an in-query stream: the stream's jobs run under
    * ITS OWN job group, so Bench's per-query watchdog (cancelJobGroup on
    * "bench-<name>") cannot reach them — an unbounded awaitTermination on
    * a wedged micro-batch would hang the whole benchmark past the
    * driver's kill timeout (the round-9 lose-the-artifact mode). A capped
    * stream throws so the harness records the error and coverage
    * continues; the stop itself is bounded too (the default
    * spark.sql.streaming.stopTimeout of 0 waits indefinitely). */
  def awaitBounded(s: SparkSession, name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      capS: Double): Unit = {
    if (capS <= 0) {
      // budget already exhausted by an earlier lifetime of this query
      try q.stop() catch { case _: Throwable => () }
      throw new RuntimeException(s"$name stream exceeded the per-query cap")
    }
    val finished = q.awaitTermination((capS * 1000).toLong)
    if (!finished) {
      // a stop that itself times out must not mask the cap error — the
      // query is getting reported capped either way
      val stopErr = graft.Engine.withConf(s, Seq("spark.sql.streaming.stopTimeout" -> "10000")) {
        try { q.stop(); None }
        catch { case e: Throwable => Some(e) }
      }
      val cap = new RuntimeException(
        f"$name stream exceeded the ${capS}%.0f s per-query cap")
      stopErr.foreach(cap.addSuppressed)
      throw cap
    }
  }
}
