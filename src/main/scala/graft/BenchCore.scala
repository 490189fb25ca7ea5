package graft

import scala.collection.mutable

/** The benchmark harness logic of [[Bench]], extracted pure so the
  * deadline/stall defenses are unit-testable with a fake clock (the
  * round-9 failure mode — driver rc=124 SIGTERM leaving NO artifact —
  * is insured against by code paths that only fire under deadline
  * pressure, which a real bench run never exercises on a healthy host;
  * `BenchCoreSpec` drives them deterministically).
  *
  * [[Bench.main]] owns only the Spark session and stdout; everything
  * below is deterministic given the injected `runQuery` + `nowNanos`.
  */
private[graft] object BenchCore {

  def fmt(v: Double): String =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** Parse prior-round per-query seconds from an artifact in this
    * program's own output format. Hand-rolled regex keeps the dependency
    * surface at zero. WHITESPACE-TOLERANT (round 14): the committed
    * BENCH_PRIOR.json is pretty-printed (`"queries": {` with a space and
    * one `"name": secs` pair per line), and the original compact-only
    * regexes silently matched NOTHING against it — every r13 bench ran
    * with an empty prior, disarming the 3×-regression retries and
    * leaving the contention projection on 0.5 s defaults.
    */
  def parsePrior(text: String): Map[String, Double] = parseNumMap(text, "queries")

  /** The cold single-run floors BENCH_PRIOR.json carries for the 25
    * cache_class queries (measured in a cold Scaling sweep, round 15) —
    * a degraded (warmup-shed, single-run) visit of one of these
    * legitimately reads up to ~15× its warm floor, so the degraded-mode
    * RECOVERY window must expect the cold floor, not the warm prior
    * (round 16; see the recovery block in [[Harness.runPass]]). */
  def parseColdFloor(text: String): Map[String, Double] = parseNumMap(text, "cold_floor")

  /** `"key": {"name": num, ...}` extractor shared by [[parsePrior]] and
    * [[parseColdFloor]]; whitespace-tolerant for the pretty-printed
    * committed file (the round-14 lesson). */
  private def parseNumMap(text: String, key: String): Map[String, Double] = {
    val qm = ("\"" + key + """"\s*:\s*\{""").r.findFirstMatchIn(text)
    if (qm.isEmpty) return Map.empty
    val qStart = qm.get.end
    val qEnd = text.indexOf('}', qStart)
    val body = text.substring(qStart, if (qEnd < 0) text.length else qEnd)
    val pair = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.Ee+-]+)""".r
    pair.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Two-pass best-of measurement with stall retries and an internal
    * wall-clock budget. See [[Bench]]'s scaladoc for the methodology
    * rationale; the mechanics live here.
    *
    * @param selected alphabetical query names (pass 0 order; pass 1 runs
    *                 the reverse)
    * @param runQuery executes one query to completion (warmup and timed
    *                 runs use the same thunk)
    * @param nowNanos injectable clock; both the budget check and the
    *                 per-run timing read it
    * @param budgetS  wall seconds after which measurement STOPS and the
    *                 artifact is flagged partial
    * @param prior    prior-round per-query seconds (3x-regression retry
    *                 trigger)
    * @param visit    runs one visit (a query's warmup and its timed runs)
    *                 — Bench wraps it in one `CacheScope.scoped`, so the
    *                 warmup fills the caches the timed runs read and the
    *                 visit's storage is released when it ends
    * @param noWarmup queries for which the per-visit warmup run is pure
    *                 waste and is always skipped (round 15): the e2e
    *                 streaming queries (`gov_*`) clear their scratch and
    *                 replay the whole multi-batch stream from batch 0 on
    *                 EVERY execution, so a "warmup" is a third identical
    *                 full replay that warms nothing — it tripled their
    *                 bench cost (~14.5 s of machinery floor in r14) and
    *                 made them the likeliest per-query-cap victims on a
    *                 contended host. Best-of across the timed visits
    *                 still absorbs first-visit codegen/JIT.
    * @param coldPrior cold single-run floors for the cache_class queries
    *                 (BENCH_PRIOR.json `cold_floor`, round 16): what a
    *                 DEGRADED (warmup-shed, single-run) visit of such a
    *                 query legitimately costs on a healthy host — up to
    *                 ~15× its warm prior. The recovery window expects
    *                 max(prior, coldPrior) per degraded visit; without
    *                 it, a post-stall stretch dominated by cache_class
    *                 queries could NEVER read ≤2× warm prior, and a
    *                 healthy host stayed cold-shedding for the rest of
    *                 the run (the exact r15 artifact-inflation mode).
    */
  final class Harness(
      selected: Seq[String],
      runQuery: String => Unit,
      nowNanos: () => Long,
      budgetS: Double,
      prior: Map[String, Double],
      visit: (() => Unit) => Unit = body => body(),
      noWarmup: Set[String] = Set.empty,
      coldPrior: Map[String, Double] = Map.empty) {

    // merged per-query run times across both passes (insertion order =
    // alphabetical, the order the artifact reports)
    val allRuns: mutable.LinkedHashMap[String, List[Double]] =
      mutable.LinkedHashMap[String, List[Double]]()
    // name -> first exception message. A query is only REPORTED failed
    // (-1.0) when it has NO successful runs at all: a query that
    // measured cleanly in pass 0 and threw in pass 1 (transient host/FS
    // hiccup) keeps its valid pass-0 best-of, and the error message
    // still surfaces on the detail line.
    val errors: mutable.LinkedHashMap[String, String] =
      mutable.LinkedHashMap[String, String]()
    var truncated = false
    /** Warmup shedding under extreme contention (r12's failure mode: a
      * ~15×-slow host can't fit even ONE warm pass in the budget — 45
      * queries went unmeasured). When pass 0's projection says the
      * remaining warm+timed visits won't fit in 85% of the budget, all
      * later visits drop the warmup and take a single timed run: a
      * cold-ish upper bound beside `"degraded":true` beats no number,
      * pass 1 / retryPass sharpen it if the host recovers, and best-of
      * keeps the minimum so extra cold samples can never worsen a
      * query's reported time.
      *
      * RECOVERABLE since round 15 (was sticky): this host's documented
      * stall mode is TRANSIENT — a stall window during pass 0 armed
      * degraded mode, the host recovered minutes later, and the rest of
      * a perfectly healthy run still measured cold single runs (the
      * cache_class queries read ~4× their warm floors, inflating the
      * round's public artifact ~1.5×). Degraded visits now accumulate a
      * (prior-mass, observed-seconds) window; once ≥10 s of prior mass
      * shows observed ≤ 2× expected — healthy, given a degraded visit is
      * ONE timed run (~1× warm prior for plain queries; the cold floor,
      * up to ~15× warm, for the cache-refilling class — see `coldPrior`)
      * — warmups re-arm. A still-slow window (≥3× arms degrade; ≤2×
      * recovers — hysteresis) just resets and keeps shedding. */
    var degraded = false
    private var recPrior = 0.0
    private var recObserved = 0.0
    // one-shot: after a recovery the pass-0 projection stays OFF — its
    // slowdown estimate reads the CUMULATIVE wall (which still carries
    // the stall window) and would re-arm degrade on a now-healthy host
    // in the same pass. If contention truly resumes, the hard budget
    // check still truncates safely (coverage already has pass-0 samples).
    private var projectionArmed = true

    private val t0 = nowNanos()
    def wallS: Double = (nowNanos() - t0) / 1e9
    def overBudget: Boolean = wallS > budgetS

    /** Prior-seconds estimate for projection; queries without a prior
      * (newly registered) assume a median-ish 0.5 s. */
    private def priorOf(name: String): Double =
      prior.get(name).filter(_ > 0).getOrElse(0.5)

    /** COVERAGE-FIRST protocol (round 13; round 12's contended driver
      * run burned its whole budget on per-query stall retries inside
      * pass 0 and left 45 queries unmeasured — coverage must outrank
      * sample quality):
      *
      *   pass 0 (alphabetical):          warmup + ONE timed run, no
      *                                   retries — fastest path to a
      *                                   number for every query;
      *   pass 1 (reverse-alphabetical):  warmup + one more timed run —
      *                                   the second best-of sample, in
      *                                   opposite order so a stall
      *                                   window can't hit the same
      *                                   queries twice;
      *   [[retryPass]] (last):           bounded re-measure of stall
      *                                   suspects, most-suspicious
      *                                   first, spending only LEFTOVER
      *                                   budget.
      *
      * Each visit's warmup fills the per-query caches its timed runs
      * read (one `visit` call spans both), so every timed run is
      * warm-cache.
      */
    def runPass(pass: Int): Unit = {
      val order = if (pass == 0) selected else selected.reverse
      for ((name, i) <- order.zipWithIndex) {
        if (overBudget) truncated = true
        else try visit { () =>
          if (!degraded && !noWarmup(name))
            runQuery(name) // warmup: codegen + JIT + cache fill
          val s = nowNanos()
          runQuery(name)
          val secs = (nowNanos() - s) / 1e9
          allRuns(name) = allRuns.getOrElse(name, Nil) :+ secs
          // degraded-mode recovery window (see `degraded`'s scaladoc):
          // a transient stall must not shed warmups for the whole run.
          // Expected cost of THIS degraded visit = the cold floor where
          // one exists (a degraded visit is a single cold run; the
          // cache_class queries cold-run up to ~15× warm prior by
          // design, and judging them against the warm prior made
          // recovery unreachable whenever they dominated the window).
          if (degraded) {
            recPrior += math.max(priorOf(name), coldPrior.getOrElse(name, 0.0))
            recObserved += secs
            if (recPrior >= 10.0) {
              if (recObserved <= 2.0 * recPrior) {
                degraded = false
                projectionArmed = false
              }
              recPrior = 0.0
              recObserved = 0.0
            }
          }
        } catch {
          case e: Throwable => errors.getOrElseUpdate(name, errMsg(e))
        }
        // contention projection (pass 0 only, while still warm-mode):
        // observed slowdown vs prior over the queries visited so far,
        // extrapolated over the rest at warm+timed (2 runs) cost.
        // Two guards keep a HEALTHY-but-busy host from shedding warmups
        // (the first cut degraded a ~1.6x-busy host into cold runs that
        // INFLATED the total 2.2x): the projection is only evaluated
        // once >=10s of prior mass has amortized session startup /
        // first-codegen wall time out of the slowdown estimate, and
        // shedding requires an estimated slowdown >=3x — below that a
        // full warm run fits any plausible budget anyway.
        // ...and only on the genuine FIRST coverage pass: polishPass
        // reuses runPass(0) late in the run, where wallS spans the whole
        // benchmark and the slowdown estimate is meaningless (it flagged
        // a healthy 131 s run degraded). First-visit queries have exactly
        // one merged run; polish visits have >= 2 — and a query that
        // ERRORED in both coverage passes has no allRuns entry at all
        // (forall on None is vacuously true), so the error map must also
        // gate, or a repeat error during polish re-arms the projection
        // with whole-benchmark wallS and spuriously sheds warmups.
        if (pass == 0 && !degraded && projectionArmed &&
            !errors.contains(name) && allRuns.get(name).forall(_.size <= 1)) {
          // per-query visit cost: warm+timed (2 runs) normally, a single
          // timed run for the no-warmup class
          def visitRuns(n: String): Double = if (noWarmup(n)) 1.0 else 2.0
          val doneCost = order.take(i + 1).map(n => visitRuns(n) * priorOf(n)).sum
          val donePrior = order.take(i + 1).map(priorOf).sum
          if (donePrior >= 10.0) {
            val slowdown = math.max(1.0, wallS / doneCost)
            val restCost =
              order.drop(i + 1).map(n => visitRuns(n) * priorOf(n)).sum * slowdown
            if (slowdown >= 3.0 && wallS + restCost > 0.85 * budgetS)
              degraded = true
          }
        }
      }
    }

    private def errMsg(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
        .replaceAll("[\"\\\\\n\r\t]", " ").take(120)

    /** A query whose merged runs disagree >2x (stall or bimodal plan),
      * or whose best-of exceeds 3x its prior-round value (regression —
      * or a stall that hit every visit). */
    def suspect(name: String): Boolean = {
      val rs = allRuns.getOrElse(name, Nil)
      rs.nonEmpty && (rs.max > 2.0 * rs.min ||
        prior.get(name).exists(p => p > 0 && rs.min > 3.0 * p))
    }

    /** Final phase: re-measure stall suspects with whatever budget the
      * two coverage passes left, most-suspicious first (largest
      * max/min disagreement), at most `maxExtra` extra timed runs each,
      * stopping a query's retries early once it stops being suspect.
      * On a healthy host suspects are few and this phase is cheap; on a
      * stalled host it is the FIRST thing the budget truncates, after
      * coverage is already complete.
      */
    def retryPass(maxExtra: Int = 2): Unit = {
      val ranked = selected.filter(suspect).sortBy { n =>
        val rs = allRuns(n); -(rs.max / math.max(rs.min, 1e-9))
      }
      for (name <- ranked) {
        if (overBudget) truncated = true
        else try visit { () =>
          if (!degraded && !noWarmup(name))
            runQuery(name) // warmup refill (the last visit's caches are gone)
          var extra = 0
          while (suspect(name) && extra < maxExtra && !overBudget) {
            val s = nowNanos()
            runQuery(name)
            allRuns(name) = allRuns(name) :+ (nowNanos() - s) / 1e9
            extra += 1
          }
        } catch {
          case e: Throwable => errors.getOrElseUpdate(name, errMsg(e))
        }
      }
    }

    /** Optional third coverage pass, taken only when the first two
      * passes + retries used under half the budget (a healthy host):
      * sharpens every query's best-of back to the pre-round-13 sample
      * count for ~10% tighter totals, at zero risk — on a contended
      * host the gate skips it outright, and even when taken, runPass's
      * per-query budget check truncates it safely (coverage is already
      * complete, so truncation costs only sample quality). Returns
      * whether the pass ran. */
    def polishPass(): Boolean = {
      val take = wallS < 0.5 * budgetS
      if (take) runPass(0)
      take
    }

    /** (name, best-of seconds or -1.0 if never measured, all runs) */
    def currentResults: Seq[(String, Double, List[Double])] =
      selected.map { name =>
        val rs = allRuns.getOrElse(name, Nil)
        if (rs.isEmpty) (name, -1.0, List.empty[Double])
        else (name, rs.min, rs)
      }

    def total: Double = currentResults.map(_._2).filter(_ >= 0).sum

    /** queries that never got a run AND never threw — deadline-skipped,
      * distinct from failed */
    def nUnmeasured: Int =
      currentResults.count(r => r._3.isEmpty && !errors.contains(r._1))

    /** queries that THREW (in `errors`) — deadline-skipped queries are
      * counted by [[nUnmeasured]] instead: a budget truncation is a host
      * property, not a query failure, and labeling skips as failures made
      * the r12 partial artifact read as 45 broken queries when every one
      * of them was merely unmeasured (`errors` was empty). */
    def nFailed: Int = currentResults.count(r => r._2 < 0 && errors.contains(r._1))

    /** Line-1 builder, shared by the provisional pass-0 emission and the
      * final artifact (the only difference is the extra flag fields).
      * The map is sorted by ASCENDING time so the consumer's bounded
      * stdout tail truncates only the cheapest queries.
      */
    def artifactLine(sfDir: String, onlyTag: String, extraFields: String): String = {
      val results = currentResults
      val qs = results.sortBy(_._2).map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","unit":"sec","sf":"$sfDir",$onlyTag$extraFields"queries":$qs,"value":${fmt(total)}}"""
    }

    /** Line 2: per-run detail for queries whose merged runs disagreed by
      * >2x (stall or bimodal plan), all error messages, and harness wall
      * seconds (wall >> value is the stalled-host signature).
      *
      * Error entries SUPERSEDED by a successful run report separately as
      * `recovered_errors` (round 15): BENCH_r14 carried
      * `errors:{"dd_dedup_corpus":"capped>150s"}` beside a clean 1.51 s
      * best-of and `n_failed:0` for the same query — a transient
      * host-contention cap that a later pass recovered, but the stale
      * entry made a passing run read as broken. `errors` now carries only
      * queries with NO successful run (the ones [[nFailed]] counts), so
      * `errors` non-empty ⇔ something is actually failed. */
    def detailLine(sfDir: String, onlyTag: String, partialTag: String): String = {
      val perRun = currentResults.collect {
        case (k, _, rs) if rs.nonEmpty && rs.max > 2.0 * rs.min =>
          "\"" + k + "\":[" + rs.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val (recovered, live) =
        errors.partition { case (k, _) => allRuns.getOrElse(k, Nil).nonEmpty }
      def asJson(m: mutable.LinkedHashMap[String, String]): String =
        m.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
          .mkString("{", ",", "}")
      val recTag =
        if (recovered.isEmpty) ""
        else s""""recovered_errors":${asJson(recovered)},"""
      s"""{"anomalous_runs":$perRun,"errors":${asJson(live)},$recTag"wall":${fmt(wallS)},"sf":"$sfDir",$onlyTag$partialTag"value":${fmt(total)}}"""
    }

    /** Line 3: ultra-short scalars-only final line — always survives the
      * bounded tail whole, so a JSON parse of the last line succeeds. */
    def finalLine(partialTag: String): String =
      s"""{"metric":"total","unit":"sec",$partialTag"value":${fmt(total)},"n_queries":${currentResults.size},"n_failed":$nFailed}"""
  }
}
