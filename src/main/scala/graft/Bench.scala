package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-run benchmark: executes every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds
  * and Spark job counts.
  *
  * Each query gets one untimed warmup execution (absorbs Janino codegen +
  * JIT compilation, which otherwise dominates sub-second queries), then
  * one timed execution per pass that writes the full result to Spark's
  * `noop` sink — what a caller receives, so Catalyst cannot prune the
  * final sort or the windows, joins and aggregates a `count()` never
  * reads. The jobs each timed run submits are counted by its job group.
  *
  * Stall defense: this host exhibits intermittent multi-second JVM stalls
  * (documented in prior rounds' verdicts — identical runs vary 0.3 s vs
  * 80 s; round 7's artifact recorded 8-27x phantom regressions on
  * byte-identical code). Two countermeasures:
  *   1. TWO full interleaved passes over the registry — alphabetical,
  *      then reverse-alphabetical — keeping each query's MIN across all
  *      runs of both passes. A sustained stall window hits *different*
  *      queries in the two passes (opposite run order), so no single
  *      window can inflate one query family's best-of in both.
  *   2. Per-run times of queries whose merged runs disagreed (plus any
  *      exception messages) are emitted as a SECOND short JSON line
  *      AFTER the main artifact line — the driver captures a bounded
  *      TAIL of stdout, so the detail that makes stall-vs-regression
  *      decidable always survives truncation (round 7 lost it by
  *      putting the detail first on one long line).
  *
  * Output is three JSON lines: (1) the full artifact with the per-query
  * map (time-ascending, so truncation eats only cheap queries), (2) the
  * anomaly/error detail, (3) an ULTRA-SHORT scalars-only total line —
  * last so a consumer that JSON-parses the final line of a bounded tail
  * always succeeds.
  *
  * Deadline defense (round 9 lost its ENTIRE artifact to the driver's
  * timeout — rc=124, SIGTERM mid-run, nothing on stdout): two layers.
  *   1. An internal wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`,
  *      default 2400 s — under any plausible driver timeout). When the
  *      budget is exceeded, measurement STOPS — remaining queries are
  *      skipped — and the three artifact lines are emitted with
  *      `"partial":true` plus an `n_unmeasured` count, so a slow host
  *      degrades to a partial artifact instead of no artifact.
  *   2. A PROVISIONAL artifact line (same schema, flagged
  *      `"provisional_pass":0`) printed the moment pass 0 completes, and
  *      flushed — so even a hard external SIGTERM during pass 1 leaves
  *      one complete parseable line on stdout. The final three lines
  *      print later and supersede it for any consumer that reads the
  *      LAST parseable line of the tail.
  */
object Bench {

  /** Runs registry queries for the harness. Each run writes the full
    * result to the `noop` sink under its own Spark job group: the
    * per-query cap cancels that group, and a listener counts the jobs
    * started under each timed run's group.
    *
    * PER-QUERY wall cap (round 13): the budget check in BenchCore fires
    * BETWEEN queries, so one wedged execution could previously absorb
    * the entire budget (observed: a contended-host graph query crawling
    * at localCheckpoint granularity for >20 min). A watchdog timer
    * cancels the run's job group after `capS` — the action throws, the
    * harness records the error (or keeps the other pass's clean run),
    * and coverage of the remaining registry is preserved. The cap is
    * ~25x the slowest sf0.1 query's best full-result run, so only true
    * pathology (stall, wedge, runaway plan) is ever cut.
    */
  private[graft] final class Runner(spark: SparkSession, sfDir: String, capS: Double) {
    private val sc = spark.sparkContext
    private val watchdog = new java.util.Timer("bench-query-cap", true)

    // a warmup runs under its own group, so only timed runs are counted
    private def group(name: String, timed: Boolean): String =
      (if (timed) "bench-timed-" else "bench-warmup-") + name

    private val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("bench-timed-"))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })

    // JVM-thread canary (round 16): the r15 accumulated-state pathology
    // announced itself as monotonic thread growth (7,800+ live threads by
    // the dd_ family). Sample the live thread count after every query;
    // warn on stderr each time it crosses another +500, and report the
    // per-family max at the end — so a future BENCH artifact that reads
    // slow in the back half carries its own heap-pathology evidence.
    val familyThreads = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    @volatile private var threadWarnAt = 1000
    private def sampleThreads(name: String): Unit = {
      val n = Thread.activeCount()
      val fam = name.takeWhile(_ != '_')
      familyThreads(fam) = math.max(familyThreads.getOrElse(fam, 0), n)
      if (n >= threadWarnAt) {
        threadWarnAt = n + 500
        System.err.println(s"[bench-canary] live threads=$n after $name")
      }
    }

    def run(name: String, timed: Boolean): Unit = {
      val g = group(name, timed)
      // interruptOnCancel frees the executor threads too (a cancelled
      // cartesian-ish stage would otherwise keep all 32 cores busy as
      // zombies, crawling every subsequent measurement)
      sc.setJobGroup(g, s"bench per-query cap ${capS}s", interruptOnCancel = true)
      @volatile var fired = false
      val tt = new java.util.TimerTask {
        def run(): Unit = { fired = true; sc.cancelJobGroup(g) }
      }
      watchdog.schedule(tt, (capS * 1000).toLong)
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (fired) throw new RuntimeException(f"capped>$capS%.0fs", e) else throw e
      } finally { tt.cancel(); sc.clearJobGroup(); sampleThreads(name) }
    }

    /** Jobs started by `name`'s timed runs since the last call. Waits
      * until every queued listener event is delivered first: job-start
      * events are posted before the action returns, but arrive later. */
    def timedJobs(name: String): Int = {
      Bridge.drainListenerBus(sc)
      Option(jobs.remove(group(name, timed = true))).fold(0)(_.intValue)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // HEAP-SIZE IMMUNITY: Spark's ContextCleaner purges shuffle files /
    // broadcasts / localCheckpoint RDDs from a GC reference queue, so a
    // launcher that hands this JVM a huge heap (-Xmx96g) that never
    // fills never GCs, the cleaner never fires, and 240 queries of
    // accumulated state (7,800+ threads observed) crawl the back half of
    // the run 10-90x. tools/run_main.sh bounds ITS heap to 8g, but
    // graft.Bench is also launched directly — this periodic System.gc()
    // (Spark's own knob, default 30min) makes the cleaner fire on any
    // heap every 60s. A static conf, so it goes in as a system property
    // the session's SparkConf reads (see Engine.session).
    System.setProperty("spark.cleaner.periodicGC.interval", "60s")
    val spark = Engine.session(appName = "graft-bench", cores = cpus.toInt)
    // SPARK_GRAFT_SHUFFLE (default = cpus, Engine.session's): a scaling
    // sweep runs this binary at 10x data with shuffle partitions scaled
    // alongside — the knob every real deployment turns with data size
    // (SCALING.md §"Fixed-parallelism drift").
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
    // optional query filter for local iteration and the scaling sweeps
    // (SparkEntry.selected); unset = every registered query.
    val only = SparkEntry.onlyPrefixes
    val selected = SparkEntry.selected()
    // internal deadline, kept under the driver's kill timeout so the
    // artifact always prints from inside the JVM (see scaladoc)
    val wallBudgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(2400.0)
    val capS = sys.env.get("SPARK_GRAFT_QUERY_CAP_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(150.0)
    val runner = new Runner(spark, sfDir, capS)
    // measurement mechanics (two passes, best-of, budget truncation) +
    // artifact-line builders live in BenchCore.Harness so the deadline
    // defenses are unit-tested with a fake clock
    val h = new BenchCore.Harness(
      selected.map(_._1),
      runner.run,
      () => System.nanoTime(),
      wallBudgetS,
      runner.timedJobs,
      // one cache scope per visit: the warmup fills the operator caches
      // the timed run then reads, keeping every timed run warm-cache
      // (the methodology of every prior round's artifact; cold timings
      // measured ~4x higher on the cache-heavy dd_ queries and are not
      // comparable), and the visit's storage is released when it ends
      visit = body => graft.operators.CacheScope.scoped(body()),
      // e2e streaming queries (gov_*) replay their whole stream from
      // batch 0 every run — a warmup is a wasted third replay
      noWarmup = SparkEntry.noWarmupQueries)
    val onlyTag = only.map(p => s""""only":"${p.mkString(",")}",""").getOrElse("")
    h.runPass(0)
    // deadline insurance: one complete parseable line on stdout the
    // moment pass 0 is done, before pass 1 risks the driver timeout
    println(h.artifactLine(sfDir, onlyTag,
      s""""provisional_pass":0,${if (h.truncated) "\"partial\":true," else ""}"""))
    System.out.flush()
    h.runPass(1)
    // thread canary summary (stderr — diagnostic, not part of the
    // 3-line artifact contract the driver parses)
    System.err.println("[bench-canary] per-family max live threads: " +
      runner.familyThreads.map { case (f, n) => s"$f=$n" }.mkString(" "))
    // a deadline-truncated run is labelled so its partial total can't be
    // mistaken for a full benchmark artifact; unmeasured != failed
    val partialTag =
      if (h.truncated) s""""partial":true,"n_unmeasured":${h.nUnmeasured},""" else ""
    // The consumer keeps only a bounded TAIL of stdout (~2000 chars —
    // observed in BENCH_r07.json) and the full-registry queries map is
    // ~3500 chars, so the map's HEAD is always truncated away.
    // artifactLine emits the map sorted by ASCENDING time: the entries
    // that get cut are the cheapest sub-second queries, and the slow
    // queries that dominate the total — the ones any regression read
    // needs — always survive at the end of the line, right before
    // "value". JSON maps carry no key-order semantics; this only
    // controls what truncation keeps.
    val artifact = h.artifactLine(sfDir, onlyTag, partialTag)
    println(artifact)
    // SECOND, SHORT line: per-run detail for queries whose merged runs
    // disagreed by >2x (a stall or a bimodal plan), harness wall seconds
    // (warmups + all runs of both passes — wall >> value is the
    // signature of a stalled host), and the headline total again. Emitted
    // AFTER the main line so the bounded stdout tail always keeps it
    // whole — and if the consumer JSON-parses the tail's last line, it
    // gets this complete, valid object instead of a truncated fragment.
    val detail = h.detailLine(sfDir, onlyTag, partialTag)
    println(detail)
    // THIRD, ULTRA-SHORT final line (~80 chars): guaranteed to be the
    // last line of the bounded stdout tail AND short enough that a JSON
    // parse of that last line always succeeds outright, even though the
    // full queries map above exceeds the tail. Scalars only.
    println(h.finalLine(partialTag))
    // SELF-CONTAINED ARTIFACT FILE (round 14): the driver preserves only
    // the last ~2000 chars of stdout, which truncates the full per-query
    // map (~3500 chars) — r13's verdict could floor-compare just 34 of
    // 234 queries. Persist the three artifact lines to a repo file too,
    // so the complete result survives regardless of stdout capture. The
    // write is atomic-rename (temp + move) and best-effort: a read-only
    // CWD must not fail the benchmark itself. SPARK_GRAFT_BENCH_OUT
    // overrides the path; "off" disables (the scaling sweeps redirect it
    // so a 10x-data run can't overwrite the sf0.1 artifact).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    if (outPath != "off") {
      // temp in the TARGET's directory (same filesystem — ATOMIC_MOVE
      // across mounts always fails), deleted on any failure path
      val target = java.nio.file.Paths.get(outPath).toAbsolutePath.normalize
      var tmp: java.nio.file.Path = null
      try {
        tmp = java.nio.file.Files.createTempFile(
          target.getParent, ".bench_last", ".tmp")
        java.nio.file.Files.write(tmp,
          (artifact + "\n" + detail + "\n" + h.finalLine(partialTag) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"bench_last write skipped: ${e.getMessage}")
        if (tmp != null)
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
