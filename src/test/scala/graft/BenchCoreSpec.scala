package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Locks in the bench harness's deadline defenses with a fake
  * clock — the code paths that saved round 10's artifact (provisional
  * pass-0 line, budget truncation with `"partial":true`, pass-1-failure
  * best-of retention) only fire under deadline/host pressure, which a
  * healthy real run never exercises. Pure JVM: no SparkSession.
  */
class BenchCoreSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String) = mapper.readTree(line)

  /** Harness over a fake clock: each run of `name` (warmup or timed)
    * advances the clock by the next duration (seconds) from
    * `costs(name)`, cycling the last value once exhausted. Every timed
    * run reports one Spark job. */
  private class Fake(costs: Map[String, Seq[Double]], budgetS: Double,
      failWhen: (String, Int) => Boolean = (_, _) => false,
      noWarmup: Set[String] = Set.empty,
      visit: (() => Unit) => Unit = body => body()) {
    var nowNs = 0L
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val h = new BenchCore.Harness(
      costs.keys.toSeq.sorted,
      (name, _) => {
        val i = calls(name); calls(name) = i + 1
        if (failWhen(name, i)) sys.error(s"boom $name#$i")
        val cs = costs(name)
        nowNs += (cs(math.min(i, cs.size - 1)) * 1e9).toLong
      },
      () => nowNs, budgetS, _ => 1, noWarmup = noWarmup, visit = visit)
  }

  test("healthy run: best-of map, ascending artifact order, all three lines parse") {
    val f = new Fake(Map("qa" -> Seq(3.0), "qb" -> Seq(1.0), "qc" -> Seq(2.0)), budgetS = 1e9)
    f.h.runPass(0); f.h.runPass(1)
    // each coverage pass = warmup + 1 timed → 2 runs kept
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
    f.h.runPass(1) // still over budget: no further measurement
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
    f.h.runPass(0); f.h.runPass(1)
    assert(f.calls("gov_x") === 2) // one timed run per pass, zero warmups
    assert(f.calls("qa") === 4)    // warmup + timed per pass
    assert(f.h.allRuns("gov_x") === List(5.0, 5.0))
  }

  test("no-success query reports -1 and counts failed") {
    val f = new Fake(Map("qa" -> Seq(1.0)), budgetS = 1e9, failWhen = (_, _) => true)
    f.h.runPass(0); f.h.runPass(1)
    assert(f.h.nFailed === 1 && f.h.total === 0.0)
    assert(parse(f.h.artifactLine("/sf", "", "")).get("queries").get("qa").asDouble === -1.0)
  }

  test("one visit wrapper call spans each warmup and its timed run") {
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
    fake = new Fake(Map("qa" -> Seq(1.0), "qb" -> Seq(1.0)),
      budgetS = 1e9, visit = recordVisit)
    fake.h.runPass(0); fake.h.runPass(1)
    assert(visits.toList === List(
      Map("qa" -> 2), Map("qb" -> 2),  // pass 0: warmup + timed per visit
      Map("qb" -> 2), Map("qa" -> 2))) // pass 1, reverse order
    assert(fake.calls.values.sum === visits.map(_.values.sum).sum,
      "a run executed outside any visit")
  }
}
