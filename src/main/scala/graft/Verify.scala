package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Future

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Deadline defense (round 12 lost its ENTIRE correctness artifact — the
  * driver recorded `{}`): two layers, mirroring Bench's.
  *   1. oracle_sql.json (and the partial-run marker) are written BEFORE
  *      the query loop. A mid-run SIGTERM now leaves a comparable
  *      artifact — the already-dumped queries verify, the missing dirs
  *      surface as per-query errors — instead of an oracle-less dump the
  *      driver can only score as zero.
  *   2. Queries run on a small thread pool over the shared SparkSession
  *      (`SPARK_GRAFT_VERIFY_THREADS`, default 8). At sf0.01 the data is
  *      ~2 MB, so per-query wall is dominated by planning + Janino codegen
  *      + stage scheduling, which overlap across threads; the serial run
  *      measured 784 s on an idle host, uncomfortably close to a driver
  *      timeout once contention doubles it. Spark actions are thread-safe;
  *      each query writes its own output dir, so results are unchanged.
  *      Cache hygiene: `clearCache()` every 32 completions (not per-query
  *      — a concurrent clear only costs a recompute, never correctness)
  *      keeps dedup-family `cache()` blocks from accumulating. */
object Verify {

  /** Oracle tables (the driver registers a DuckDB view per name over the
    * given sf dir — tools/check.py mirrors it). */
  private val oracleTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Rewrite a registered oracle to read the sf0.1 parquet regardless of
    * which sf dir the driver's views point at: prepend CTEs named after
    * the tables, reading `read_parquet('<sf01Dir>/<t>.parquet')` — CTE
    * names shadow same-named views in DuckDB, so the oracle body runs
    * unchanged against the other scale. Handles oracles that already
    * start with WITH / WITH RECURSIVE (a RECURSIVE with-list admits
    * non-recursive members). */
  private[graft] def sf01SpotSql(sql: String, sf01Dir: String): String = {
    val ctes = oracleTables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('$sf01Dir/$t.parquet'))").mkString(", ")
    val trimmed = sql.trim
    val lower = trimmed.toLowerCase
    if (lower.startsWith("with recursive"))
      "WITH RECURSIVE " + ctes + ", " + trimmed.substring("with recursive".length).trim
    else if (lower.startsWith("with"))
      "WITH " + ctes + ", " + trimmed.substring("with".length).trim
    else
      "WITH " + ctes + " " + trimmed
  }

  /** Queries whose DuckDB oracle is intractable at sf0.1 and therefore
    * never spot-checked there (their sf0.01 row remains the gate):
    * recursive-CTE oracles (the dd_ cluster/graph family — measured >40
    * CPU-minutes in DuckDB at sf0.1) are skipped by rule; the named set
    * below is from the round-16 per-oracle DuckDB timing sweep at sf0.1
    * (30 s per-oracle cap, 8 DuckDB threads — see [[sf01SpotHeavy]]). */
  private[graft] def sf01SpotEligible(name: String): Boolean =
    SparkEntry.oracleSql.get(name).exists { sql =>
      !sql.toUpperCase.contains("RECURSIVE") && !sf01SpotHeavy(name)
    }

  /** Round-16 sweep (30 s per-oracle cap, DuckDB 8 threads, sf0.1):
    * these exceeded the cap — the O(n²)-oracle dedup/graph checks whose
    * REGISTERED Spark paths are bucketed but whose DuckDB replicas are
    * deliberately brute-force — plus dd_link_predict at 26.6 s. Every
    * other non-recursive oracle measured ≤ 8.6 s (median ≪ 1 s). Policy:
    * anything over ~10 s is excluded so a contended driver host can't
    * blow its gate budget on a spot row. */
  private[graft] val sf01SpotHeavy: Set[String] = Set(
    "dd_assortativity", "dd_communities", "dd_containment",
    "dd_index_persist", "dd_kcore", "dd_minhash", "dd_modularity",
    "dd_ngram_jaccard", "dd_pagerank", "dd_ppjoin", "dd_triangles",
    "dd_link_predict")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(appName = "graft-verify", cores = cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name prefixes for local iteration (same
    // contract as Bench); unset = full driver run. Filters BOTH the query
    // dumps and oracle_sql.json so tools/check.py sees a consistent pair.
    val only = SparkEntry.onlyPrefixes
    def keep(name: String): Boolean = only.forall(_.exists(name.startsWith))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ---- sf0.1 rotating oracle spot-check (round 16) ----
    // Correctness otherwise runs only at sf0.01, so scale-dependent
    // wrongness (overflow, sampling-threshold boundaries, AQE-sensitive
    // plans) would pass every round. Re-use the plan gate's 1-in-8
    // per-round rotation: this round's slice is ALSO run at sf0.1 and
    // dumped as `sf01_spot_<name>`, with the registered oracle rewritten
    // (table views shadowed by read_parquet CTEs over the sf0.1 dir) so
    // the driver's unchanged compare loop hash-scores it like any other
    // row — every query gets an sf0.1 hash-compare within 8 rounds.
    // Full runs only (a SPARK_GRAFT_ONLY iteration skips it);
    // SPARK_GRAFT_SF01_SPOT=off disables, SPARK_GRAFT_SF01_DIR overrides.
    val sf01Dir = sys.env.getOrElse("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    val spotNames: Seq[String] =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_SF01_SPOT").contains("off") ||
          !new java.io.File(s"$sf01Dir/lineitem.parquet").exists) Seq.empty
      else {
        val round = graft.tools.PlanFingerprint.currentRound()
        graft.tools.PlanFingerprint
          .rotationSlice(SparkEntry.queries.keySet, round)
          .filter(sf01SpotEligible).toSeq.sorted
      }
    val json = (SparkEntry.oracleSql.filter(kv => keep(kv._1)) ++
      spotNames.map(n => s"sf01_spot_$n" -> sf01SpotSql(SparkEntry.oracleSql(n), sf01Dir)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Partial-run marker (mirrors Bench's "only" tag): a filtered run
    // overwrites oracle_sql.json with a subset, and WITHOUT a marker the
    // stale full-run parquet dumps sitting next to it would make the
    // partial artifact look like a complete verification. A sibling file
    // (not a key inside oracle_sql.json — the driver iterates that file's
    // keys as query names) records the active filter; a full run deletes
    // any stale marker so it can't mislabel a complete artifact either.
    val marker = Paths.get(s"$outDir/_partial_run.json")
    only match {
      case Some(p) =>
        Files.writeString(marker, s"""{"only": ${q(p.mkString(","))}}""")
      case None => Files.deleteIfExists(marker)
    }
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    // one query's dump: build at `dataDir`, write one parquet part to
    // `outDir/outName`, log ok/failed; every 32nd completion clears the cache
    def dump(fn: (SparkSession, String) => DataFrame, dataDir: String,
        outName: String): Future[_] =
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, dataDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$outName")
            val s = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[verify] $outName ok $s%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $outName failed: ${e.getMessage}")
          }
          if (done.incrementAndGet() % 32 == 0) spark.catalog.clearCache()
        }
      })
    val tasks = SparkEntry.queries.filter(kv => keep(kv._1))
      .map { case (name, fn) => dump(fn, sfDir, name) }
    // Global deadline (3rd layer): a single wedged query (host stall, codegen
    // livelock) must not hold the artifact hostage past the driver's own
    // timeout — the driver SIGKILLs and records `{}`. On breach: cancel all
    // Spark jobs, abandon the pool, exit 0. Finished dumps verify; the
    // stragglers surface as per-query errors instead of a zeroed round.
    val deadlineS = sys.env.getOrElse("SPARK_GRAFT_VERIFY_DEADLINE_S", "2700").toLong
    val deadlineNs = System.nanoTime() + deadlineS * 1000000000L
    def awaitAll(ts: Iterable[Future[_]]): Boolean =
      ts.exists { t =>
        val leftMs = (deadlineNs - System.nanoTime()) / 1000000L
        try { t.get(math.max(leftMs, 1L), java.util.concurrent.TimeUnit.MILLISECONDS); false }
        catch { case _: java.util.concurrent.TimeoutException => true }
      }
    var timedOut = awaitAll(tasks)
    // PHASE 2 (strictly after phase 1 — a scratch-stateful query must
    // never run at two SFs concurrently): the rotation slice at sf0.1,
    // dumped under the sf01_spot_ prefix, inside the same global deadline.
    if (!timedOut && spotNames.nonEmpty) {
      System.err.println(s"[verify] sf01 spot slice (${spotNames.size}): " +
        spotNames.mkString(", "))
      val spotTasks = spotNames.map(name =>
        dump(SparkEntry.queries(name), sf01Dir, s"sf01_spot_$name"))
      timedOut = awaitAll(spotTasks)
    }
    if (timedOut) {
      System.err.println(s"[verify] DEADLINE ${deadlineS}s breached — cancelling stragglers")
      spark.sparkContext.cancelAllJobs()
      pool.shutdownNow(): Unit
    } else pool.shutdown()
    spark.stop()
    // a straggler thread ignoring its interrupt must not block JVM exit
    if (timedOut) sys.exit(0)
  }
}
