package graft

import scala.collection.mutable

/** The benchmark harness logic of [[Bench]], extracted pure so the
  * deadline defenses are unit-testable with a fake clock (the
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

  /** Two-pass best-of measurement with an internal wall-clock budget.
    * See [[Bench]]'s scaladoc for the methodology rationale; the
    * mechanics live here.
    *
    * @param selected alphabetical query names (pass 0 order; pass 1 runs
    *                 the reverse)
    * @param runQuery executes one query to completion; the flag is true
    *                 for a timed run and false for the warmup
    * @param nowNanos injectable clock; both the budget check and the
    *                 per-run timing read it
    * @param budgetS  wall seconds after which measurement STOPS and the
    *                 artifact is flagged partial
    * @param timedJobs Spark jobs the query's latest timed run submitted,
    *                 read after its clock stops
    * @param visit    runs one visit (a query's warmup and its timed run)
    *                 — Bench wraps it in one `CacheScope.scoped`, so the
    *                 warmup fills the caches the timed run reads and the
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
    */
  final class Harness(
      selected: Seq[String],
      runQuery: (String, Boolean) => Unit,
      nowNanos: () => Long,
      budgetS: Double,
      timedJobs: String => Int,
      visit: (() => Unit) => Unit = body => body(),
      noWarmup: Set[String] = Set.empty) {

    // merged per-query run times across both passes (insertion order =
    // alphabetical, the order the artifact reports)
    val allRuns: mutable.LinkedHashMap[String, List[Double]] =
      mutable.LinkedHashMap[String, List[Double]]()
    // name -> Spark jobs of the query's best (reported) timed run
    val jobs: mutable.Map[String, Int] = mutable.Map[String, Int]()
    // name -> first exception message. A query is only REPORTED failed
    // (-1.0) when it has NO successful runs at all: a query that
    // measured cleanly in pass 0 and threw in pass 1 (transient host/FS
    // hiccup) keeps its valid pass-0 best-of, and the error message
    // still surfaces on the detail line.
    val errors: mutable.LinkedHashMap[String, String] =
      mutable.LinkedHashMap[String, String]()
    var truncated = false

    private val t0 = nowNanos()
    def wallS: Double = (nowNanos() - t0) / 1e9
    def overBudget: Boolean = wallS > budgetS

    /** One coverage pass: warmup + ONE timed run per query, alphabetical
      * for pass 0 and reverse-alphabetical for pass 1, so a stall window
      * can't hit the same queries in both. Each visit's warmup fills the
      * per-query caches its timed run reads (one `visit` call spans
      * both), so every timed run is warm-cache. Once the budget is spent
      * the remaining visits are skipped and the run is `truncated`.
      */
    def runPass(pass: Int): Unit = {
      val order = if (pass == 0) selected else selected.reverse
      for (name <- order) {
        if (overBudget) truncated = true
        else try visit { () =>
          if (!noWarmup(name))
            runQuery(name, false) // warmup: codegen + JIT + cache fill
          val s = nowNanos()
          runQuery(name, true)
          val secs = (nowNanos() - s) / 1e9
          val n = timedJobs(name)
          val prev = allRuns.getOrElse(name, Nil)
          if (prev.isEmpty || secs < prev.min) jobs(name) = n
          allRuns(name) = prev :+ secs
        } catch {
          case e: Throwable => errors.getOrElseUpdate(name, errMsg(e))
        }
      }
    }

    private def errMsg(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
        .replaceAll("[\"\\\\\n\r\t]", " ").take(120)

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
      * The `queries` map is sorted by ASCENDING time so the consumer's
      * bounded stdout tail truncates only the cheapest queries; the
      * `jobs` map (Spark jobs of each measured query's best timed run,
      * by name) goes before it for the same reason.
      */
    def artifactLine(sfDir: String, onlyTag: String, extraFields: String): String = {
      val results = currentResults
      val qs = results.sortBy(_._2).map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val js = selected.flatMap(k => jobs.get(k).map(n => "\"" + k + "\":" + n))
        .mkString("{", ",", "}")
      s"""{"metric":"total","unit":"sec","sf":"$sfDir",$onlyTag$extraFields"jobs":$js,"queries":$qs,"value":${fmt(total)}}"""
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
