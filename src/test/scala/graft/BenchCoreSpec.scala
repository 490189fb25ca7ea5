package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Locks in the bench harness's deadline + stall defenses with a fake
  * clock — the code paths that saved round 10's artifact (provisional
  * pass-0 line, budget truncation with `"partial":true`, pass-1-failure
  * best-of retention) only fire under deadline/host pressure, which a
  * healthy real run never exercises. Pure JVM: no SparkSession.
  */
class BenchCoreSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String) = mapper.readTree(line)

  /** Harness over a fake clock: each runQuery(name) advances the clock
    * by the next duration (seconds) from `costs(name)`, cycling the last
    * value once exhausted. */
  private class Fake(costs: Map[String, Seq[Double]], budgetS: Double,
      prior: Map[String, Double] = Map.empty,
      failWhen: (String, Int) => Boolean = (_, _) => false,
      noWarmup: Set[String] = Set.empty,
      coldPrior: Map[String, Double] = Map.empty,
      visit: (() => Unit) => Unit = body => body()) {
    var nowNs = 0L
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val h = new BenchCore.Harness(
      costs.keys.toSeq.sorted,
      name => {
        val i = calls(name); calls(name) = i + 1
        if (failWhen(name, i)) sys.error(s"boom $name#$i")
        val cs = costs(name)
        nowNs += (cs(math.min(i, cs.size - 1)) * 1e9).toLong
      },
      () => nowNs, budgetS, prior, noWarmup = noWarmup, coldPrior = coldPrior,
      visit = visit)
  }

  test("healthy run: best-of map, ascending artifact order, all three lines parse") {
    val f = new Fake(Map("qa" -> Seq(3.0), "qb" -> Seq(1.0), "qc" -> Seq(2.0)), budgetS = 1e9)
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass()
    // each coverage pass = warmup + 1 timed → 2 runs kept, no suspects
    assert(f.h.allRuns("qb") === List(1.0, 1.0))
    assert(f.h.nFailed === 0 && f.h.nUnmeasured === 0 && !f.h.truncated)
    assert(math.abs(f.h.total - 6.0) < 1e-9)
    val art = f.h.artifactLine("/sf", "", "")
    val j = parse(art)
    assert(j.get("value").asDouble === 6.0)
    // ascending-time order: cheap first, expensive last (truncation
    // from the head keeps the queries that dominate the total)
    val names = {
      val it = j.get("queries").fieldNames(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toList
    }
    assert(names === List("qb", "qc", "qa"))
    assert(parse(f.h.detailLine("/sf", "", "")).get("errors").isEmpty)
    val fin = parse(f.h.finalLine(""))
    assert(fin.get("n_queries").asInt === 3 && fin.get("n_failed").asInt === 0)
  }

  test("budget exceeded mid-pass-0: provisional + final lines flagged partial, unmeasured excluded from total") {
    // each query costs 10 s/run; pass-0 measures qa (warmup + timed =
    // t=20 s), then the budget check stops qb and qc before any run
    val f = new Fake(Map("qa" -> Seq(10.0), "qb" -> Seq(10.0), "qc" -> Seq(10.0)), budgetS = 15.0)
    f.h.runPass(0)
    assert(f.h.truncated)
    val prov = parse(f.h.artifactLine("/sf", "",
      s""""provisional_pass":0,${if (f.h.truncated) "\"partial\":true," else ""}"""))
    assert(prov.get("provisional_pass").asInt === 0)
    assert(prov.get("partial").asBoolean)
    // unmeasured queries report -1 in the map but do NOT pollute the total
    assert(prov.get("queries").get("qb").asDouble === -1.0)
    assert(prov.get("value").asDouble === 10.0) // qa's timed 10 s run
    f.h.runPass(1); f.h.retryPass() // still over budget: no further measurement
    assert(f.h.nUnmeasured === 2 && f.h.allRuns.size === 1)
    val fin = parse(f.h.finalLine(s""""partial":true,"n_unmeasured":${f.h.nUnmeasured},"""))
    assert(fin.get("partial").asBoolean && fin.get("n_unmeasured").asInt === 2)
    // deadline skips are NOT failures (r12's partial artifact said
    // n_failed:45 with an empty errors map — unmeasured, every one)
    assert(f.h.nFailed === 0)
    assert(fin.get("n_failed").asInt === 0)
  }

  test("pass-1 failure keeps the valid pass-0 best-of; error surfaces as RECOVERED, not live") {
    // qa: 2 clean calls in pass 0 (warmup + timed), every later call
    // throws. r14's artifact carried this as a live `errors` entry beside
    // a clean best-of and n_failed:0 — a passing run that read as broken.
    // A superseded error must now report under `recovered_errors`, and
    // `errors` stays empty (non-empty errors ⇔ something actually failed).
    val f = new Fake(Map("qa" -> Seq(2.0)), budgetS = 1e9,
      failWhen = (n, i) => n == "qa" && i >= 2)
    f.h.runPass(0); f.h.runPass(1)
    assert(f.h.allRuns("qa") === List(2.0)) // pass-0 run retained
    assert(f.h.nFailed === 0)               // NOT reported failed
    val det = parse(f.h.detailLine("/sf", "", ""))
    assert(det.get("errors").isEmpty)
    assert(det.get("recovered_errors").get("qa").asText.startsWith("RuntimeException"))
    assert(parse(f.h.finalLine("")).get("n_failed").asInt === 0)
  }

  test("a cap error recovered by a LATER pass also reports recovered (the r14 artifact shape)") {
    // qa's pass-0 warmup throws (aborting that pass's visit), then pass 1
    // succeeds — the dd_dedup_corpus r14 sequence, in the other order
    val f = new Fake(Map("qa" -> Seq(2.0)), budgetS = 1e9,
      failWhen = (n, i) => n == "qa" && i < 1)
    f.h.runPass(0)
    assert(f.h.errors.contains("qa") && f.h.allRuns.get("qa").isEmpty)
    // before recovery the error is live (it IS the failure explanation)
    assert(parse(f.h.detailLine("/sf", "", "")).get("errors").has("qa"))
    f.h.runPass(1)
    assert(f.h.allRuns("qa") === List(2.0))
    val det = parse(f.h.detailLine("/sf", "", ""))
    assert(det.get("errors").isEmpty && det.get("recovered_errors").has("qa"))
    assert(f.h.nFailed === 0)
  }

  test("no-warmup queries take a single timed run per visit and never pay a warmup") {
    val f = new Fake(Map("gov_x" -> Seq(5.0), "qa" -> Seq(2.0)), budgetS = 1e9,
      noWarmup = Set("gov_x"))
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass()
    assert(f.calls("gov_x") === 2) // one timed run per pass, zero warmups
    assert(f.calls("qa") === 4)    // warmup + timed per pass
    assert(f.h.allRuns("gov_x") === List(5.0, 5.0))
    // the contention projection uses the 1-run visit cost for the class:
    // a healthy host with a big no-warmup query must not read as slow.
    // wall at end of pass 0 = 2+2 (qa warm+timed) + 5 (gov_x timed) = 9 s
    // vs doneCost = 2*2 + 1*5 = 9 → slowdown 1, no degrade.
    val g = new Fake(
      Map("gov_x" -> Seq(20.0), "qa" -> Seq(2.0), "qb" -> Seq(2.0)),
      budgetS = 60.0, prior = Map("gov_x" -> 20.0, "qa" -> 2.0, "qb" -> 2.0),
      noWarmup = Set("gov_x"))
    g.h.runPass(0)
    assert(!g.h.degraded)
  }

  test("no-success query reports -1 and counts failed") {
    val f = new Fake(Map("qa" -> Seq(1.0)), budgetS = 1e9, failWhen = (_, _) => true)
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass()
    assert(f.h.nFailed === 1 && f.h.total === 0.0)
    assert(parse(f.h.artifactLine("/sf", "", "")).get("queries").get("qa").asDouble === -1.0)
  }

  test("one visit wrapper call spans each warmup and its timed runs, in runPass and retryPass") {
    // Bench scopes operator caches per visit: a timed run must read the
    // caches its warmup filled, so both run inside ONE wrapper call.
    // Recorded: the runs each wrapper call made, per query name.
    var fake: Fake = null
    val visits = scala.collection.mutable.Buffer.empty[Map[String, Int]]
    val recordVisit: (() => Unit) => Unit = body => {
      val before = fake.calls.toMap
      body()
      visits += fake.calls.toMap.map { case (n, c) => n -> (c - before.getOrElse(n, 0)) }
        .filter(_._2 > 0)
    }
    // qa: 1 s until its 4th run, 10 s after → a stall suspect for retry
    fake = new Fake(Map("qa" -> Seq(1.0, 1.0, 1.0, 10.0), "qb" -> Seq(1.0)),
      budgetS = 1e9, visit = recordVisit)
    fake.h.runPass(0); fake.h.runPass(1)
    assert(fake.h.suspect("qa"))
    fake.h.retryPass()
    assert(visits.toList === List(
      Map("qa" -> 2), Map("qb" -> 2),  // pass 0: warmup + timed per visit
      Map("qb" -> 2), Map("qa" -> 2),  // pass 1, reverse order
      Map("qa" -> 3)))                 // retry: warmup refill + 2 extras
    assert(fake.calls.values.sum === visits.map(_.values.sum).sum,
      "a run executed outside any visit")
  }

  test("stall suspect re-measured in the final retry phase, bounded at 2 extra runs") {
    // pass 0 sees 1 s, pass 1 and everything after see 10 s → merged
    // runs disagree >2x forever, so only the retry cap stops the loop
    val f = new Fake(Map("qa" -> Seq(1.0, 1.0, 10.0)), budgetS = 1e9)
    f.h.runPass(0)
    assert(f.h.allRuns("qa").size === 1) // coverage pass: exactly one sample
    f.h.runPass(1)
    assert(f.h.allRuns("qa").size === 2)
    assert(f.h.suspect("qa"))
    f.h.retryPass()
    assert(f.h.allRuns("qa").size === 4)  // + warmup-backed 2 extras, capped
    assert(f.h.allRuns("qa").min === 1.0) // best-of survives the stall runs
    // the disagreeing runs surface on the detail line for adjudication
    val det = parse(f.h.detailLine("/sf", "", ""))
    assert(det.get("anomalous_runs").get("qa").size === 4)
  }

  test("3x-prior regression triggers bounded re-measure in the retry phase") {
    // steady 9 s runs vs prior 1 s → suspect via the prior branch; the
    // suspicion never clears, so the per-query cap is what bounds it
    val f = new Fake(Map("qa" -> Seq(9.0)), budgetS = 1e9, prior = Map("qa" -> 1.0))
    f.h.runPass(0); f.h.runPass(1)
    assert(f.h.allRuns("qa").size === 2)
    f.h.retryPass()
    assert(f.h.allRuns("qa").size === 4)
  }

  test("coverage outranks retries: a stalled host measures every query before any retry spends budget") {
    // every query 5 s/run with prior 1 s → ALL are 3x-prior suspects.
    // Budget 45 s: pass 0 costs 30 s (3 × warmup+timed), pass 1 fits
    // only qc (t=40), then truncation. The retry phase gets nothing —
    // but every query HAS a measurement. Round 12's in-pass retries
    // would have burned the budget on qa and left qc unmeasured.
    val f = new Fake(Map("qa" -> Seq(5.0), "qb" -> Seq(5.0), "qc" -> Seq(5.0)),
      budgetS = 45.0, prior = Map("qa" -> 1.0, "qb" -> 1.0, "qc" -> 1.0))
    f.h.runPass(0)
    assert(f.h.nUnmeasured === 0 && !f.h.truncated)
    f.h.runPass(1); f.h.retryPass()
    assert(f.h.truncated && f.h.nUnmeasured === 0)
    assert(f.h.allRuns.values.forall(_.nonEmpty))
  }

  test("polish pass runs only when under half the budget was spent") {
    // healthy: 3 queries × 2 s/run → two passes cost 12 s of a 100 s
    // budget → polish taken, third sample lands
    val f = new Fake(Map("qa" -> Seq(2.0), "qb" -> Seq(2.0), "qc" -> Seq(2.0)), budgetS = 100.0)
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass()
    assert(f.h.polishPass())
    assert(f.h.allRuns("qa").size === 3)
    // contended: same queries, budget 20 s → two passes spend 12 s
    // (>50%) → polish skipped, samples stay at 2
    val g = new Fake(Map("qa" -> Seq(2.0), "qb" -> Seq(2.0), "qc" -> Seq(2.0)), budgetS = 20.0)
    g.h.runPass(0); g.h.runPass(1); g.h.retryPass()
    assert(!g.h.polishPass())
    assert(g.h.allRuns("qa").size === 2)
  }

  test("extreme contention sheds warmups: degraded mode measures every query") {
    // 4x-contended host (prior 2.5 s, actual 10 s/run), budget 100 s.
    // Warm-mode would cost 2x10x5 = 100 s and truncate; the projection
    // arms at qd (prior mass 10 s — startup noise amortized), sees
    // slowdown 80/(2x10) = 4 >= 3 and forecast 80 + 2x2.5x4 = 100 over
    // 85, flips degraded, and qe takes a single timed run — ALL FIVE
    // measured by wall 90.
    val costs = Seq("qa", "qb", "qc", "qd", "qe").map(_ -> Seq(10.0)).toMap
    val prior = costs.keys.map(_ -> 2.5).toMap
    val f = new Fake(costs, budgetS = 100.0, prior = prior)
    f.h.runPass(0)
    assert(f.h.degraded)
    assert(f.h.allRuns.size === 5 && f.h.nUnmeasured === 0)
    // qa..qd paid warmup + timed before the flip; qe ran timed-only
    assert(f.calls("qa") === 2 && f.calls("qd") === 2 && f.calls("qe") === 1)
    // pass 1 keeps shedding warmups (sticky): single runs land until the
    // budget truncates
    f.h.runPass(1)
    assert(f.h.truncated)
    assert(f.calls("qe") === 2)
    // a healthy host never degrades (slowdown 1)
    val g = new Fake(costs.map { case (k, _) => k -> Seq(2.5) },
      budgetS = 100.0, prior = prior)
    g.h.runPass(0); g.h.runPass(1)
    assert(!g.h.degraded && g.h.allRuns("qa").size === 2)
  }

  test("TRANSIENT stall: degraded mode un-sticks once observed times match priors again") {
    // the r15 driver-run failure mode: a stall window during pass 0 armed
    // degraded (correctly), the host recovered minutes later, and sticky
    // shedding measured the rest of a healthy run cold — cache_class
    // best-ofs read ~4x floors. qa..qe run 10 s (4x prior) — the stall;
    // qf..qj run at prior speed. Expect: degrade arms inside the stall,
    // the recovery window (>=10 s prior mass at <=2x) re-arms warmups
    // before the pass ends, and pass 1 is fully warm.
    val names = ('a' to 'j').map(c => s"q$c")
    val costs = names.map(n =>
      n -> (if (n <= "qe") Seq(10.0) else Seq(2.5))).toMap
    val prior = names.map(_ -> 2.5).toMap
    val f = new Fake(costs, budgetS = 220.0, prior = prior)
    f.h.runPass(0)
    assert(!f.h.degraded, "degraded must have un-stuck before pass 0 ended")
    // the tail queries after recovery pay warmup + timed again
    assert(f.calls("qj") === 2)
    // a query visited while degraded got its single cold run
    val shedded = names.count(n => f.calls(n) == 1)
    assert(shedded > 0, "degrade never armed — the stall window was missed")
    f.h.runPass(1)
    assert(!f.h.degraded)
    assert(f.calls("qj") === 4) // pass 1 warm again: warmup + timed
    assert(f.h.allRuns("qj").min === 2.5)
  }

  test("recovery window expects COLD floors for cache_class queries (r16)") {
    // the r15 residual: degraded visits are single COLD runs, and the
    // cache_class queries legitimately cold-run far above their warm
    // prior (cold floors up to ~15x) — so a post-stall stretch dominated
    // by them could NEVER read <=2x warm prior and a healthy host stayed
    // cold-shedding. qa..qd stall at 4x (arms degrade after qd); qe is a
    // plain query at its true cold cost; qf..qj are cache_class: cold
    // first run 20 s (= their cold floor, 8x warm prior), warm 2.5 s.
    val names = ('a' to 'j').map(c => s"q$c")
    val costs = names.map { n =>
      if (n <= "qd") n -> Seq(10.0)
      else if (n == "qe") n -> Seq(10.0, 2.5)
      else n -> Seq(20.0, 2.5)
    }.toMap
    val prior = names.map(_ -> 2.5).toMap
    val cold = names.filter(_ >= "qf").map(_ -> 20.0).toMap
    val withCold = new Fake(costs, budgetS = 220.0, prior = prior,
      coldPrior = cold)
    withCold.h.runPass(0)
    assert(!withCold.h.degraded,
      "healthy host must recover even when cache_class queries follow the stall")
    assert(withCold.calls("qj") === 2, "post-recovery visits are warm again")
    // CONTROL — without the cold floors the same healthy run never
    // recovers (the exact r15 artifact-inflation mode this fix targets)
    val withoutCold = new Fake(costs, budgetS = 220.0, prior = prior)
    withoutCold.h.runPass(0)
    assert(withoutCold.h.degraded)
    assert(withoutCold.calls("qj") === 1)
  }

  test("parseColdFloor reads the committed BENCH_PRIOR.json cold_floor map") {
    val text =
      """{
        |  "metric": "total",
        |  "queries": {
        |    "dd_assortativity": 1.176
        |  },
        |  "value": 129.5,
        |  "cold_floor": {
        |    "dd_assortativity": 17.585,
        |    "dd_bfs_hops": 7.522
        |  }
        |}""".stripMargin
    val cf = BenchCore.parseColdFloor(text)
    assert(cf === Map("dd_assortativity" -> 17.585, "dd_bfs_hops" -> 7.522))
    // and the warm map still parses independently of the new section
    assert(BenchCore.parsePrior(text) === Map("dd_assortativity" -> 1.176))
  }

  test("mildly-busy host and startup spikes do NOT shed warmups") {
    // the first calibration degraded a ~1.6x-busy host into COLD single
    // runs that inflated the artifact 2.2x — these two controls pin the
    // guards that prevent it
    val prior = Seq("qa", "qb", "qc", "qd", "qe").map(_ -> 2.5).toMap
    // 2x contention: slowdown 2 < 3 — warm best-of quality preserved
    // even though the two passes will spend the whole budget
    val mild = new Fake(prior.keys.map(_ -> Seq(5.0)).toMap,
      budgetS = 100.0, prior = prior)
    mild.h.runPass(0); mild.h.runPass(1)
    assert(!mild.h.degraded)
    assert(mild.h.allRuns("qa").size === 2) // both warm samples landed
    // a 30 s session-startup/codegen spike on the first visit with
    // healthy per-query times after: the >=10s prior-mass gate keeps the
    // early biased slowdown estimate from ever being evaluated
    val spiky = new Fake(
      Map("qa" -> Seq(30.0, 2.5), "qb" -> Seq(2.5), "qc" -> Seq(2.5),
        "qd" -> Seq(2.5), "qe" -> Seq(2.5)),
      budgetS = 200.0, prior = prior)
    spiky.h.runPass(0)
    assert(!spiky.h.degraded && spiky.h.allRuns.size === 5)
  }

  test("polish pass never re-arms the contention projection") {
    // polishPass reuses runPass(0) LATE in the run: by then wallS spans
    // the whole benchmark, so the slowdown estimate at the first polish
    // visits (wall 180 vs 2x10s of prior mass = 9x) plus the full
    // remaining prior mass would satisfy both degrade guards — exactly
    // how a healthy 131 s full run got flagged degraded. First-visit
    // gating (merged runs <= 1) must keep polish visits out of it.
    val prior = Seq("qa", "qb", "qc", "qd").map(_ -> 10.0).toMap
    val f = new Fake(prior.keys.map(_ -> Seq(10.0)).toMap,
      budgetS = 400.0, prior = prior)
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass() // wall 160, no suspects
    assert(!f.h.degraded)
    assert(f.h.polishPass()) // 160 < 200: polish taken
    assert(!f.h.degraded) // the regression: this was true before the gate
    assert(f.h.allRuns("qa").size === 3) // polish stayed warm
  }

  test("a query that errors in every pass cannot re-arm the projection during polish") {
    // qa throws on EVERY call → it has no allRuns entry (forall on None
    // is vacuously true), so the first-visit gate alone would evaluate
    // the projection at qa's POLISH visit, where wallS spans the whole
    // benchmark (160 s vs 2x10 s of visited prior = slowdown 8) and the
    // remaining prior mass pushes the forecast over 85% of budget — a
    // healthy run spuriously flagged degraded, shedding warmups for the
    // rest of polish. The errors-map gate must keep it out.
    val prior = Map("qa" -> 10.0, "qb" -> 4.0, "qc" -> 4.0, "qd" -> 4.0, "qe" -> 4.0)
    val f = new Fake(prior.keys.map(_ -> Seq(10.0)).toMap,
      budgetS = 400.0, prior = prior, failWhen = (n, _) => n == "qa")
    f.h.runPass(0); f.h.runPass(1); f.h.retryPass() // wall 160, qa errored twice
    assert(!f.h.degraded && f.h.errors.contains("qa"))
    assert(f.h.polishPass()) // 160 < 200: polish taken, qa fails again
    assert(!f.h.degraded) // the regression: true before the errors gate
    assert(f.h.allRuns("qb").size === 3) // polish stayed warm for the rest
  }

  test("parsePrior reads this program's own artifact line") {
    val line = """{"metric":"total","unit":"sec","sf":"/sf","queries":{"qa":1.5,"qb":0.25},"value":1.75}"""
    assert(BenchCore.parsePrior(line) === Map("qa" -> 1.5, "qb" -> 0.25))
    assert(BenchCore.parsePrior("""{"no":"queries"}""") === Map.empty)
  }

  test("parsePrior reads the committed pretty-printed BENCH_PRIOR.json shape") {
    // the real file is json.dumps(indent=1): '"queries": {' with a space
    // and one '"name": secs' pair per line — the compact-only regexes
    // silently returned Map.empty against it (r13 ran with no prior)
    val pretty =
      """{
        | "metric": "total",
        | "cache_class": ["qa"],
        | "queries": {
        |  "qa": 1.176,
        |  "qb": 0.6682
        | },
        | "value": 1.8442
        |}""".stripMargin
    assert(BenchCore.parsePrior(pretty) === Map("qa" -> 1.176, "qb" -> 0.6682))
  }
}
