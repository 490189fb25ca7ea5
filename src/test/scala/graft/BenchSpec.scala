package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.operators.CacheScope

/** `Bench.Runner` against a real session: the per-query Spark job count
  * that `BenchCoreSpec`'s fake runner only stubs. */
class BenchSpec extends GraftSparkSpec {

  test("each timed run records the jobs of its own job group, warmups excluded") {
    val sf = "/root/testdata/sf0.001"
    val runner = new Bench.Runner(spark, sf, capS = 600.0)
    val (a, b) = ("ref_sessions", "ref_value_counts")
    // Nothing here waits for listener delivery. A slow listener backs the
    // bus up instead, so job-start events are still queued when their
    // action returns and timedJobs must drain the bus itself (without
    // its drain, the second read of ref_sessions below came up short:
    // 2, then 4, of its 5 jobs in two runs).
    val backlog = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(backlog)
    try {
      val (ja, jb) = CacheScope.scoped {
        runner.run(a, timed = false) // warmup: its own group, never counted
        runner.run(a, timed = true)
        runner.run(b, timed = true)
        (runner.timedJobs(a), runner.timedJobs(b))
      }
      assert(ja >= 1 && jb >= 1)
      assert(runner.timedJobs(a) === 0, "a count is read once")
      // the same plans again submit the same jobs: neither group picked
      // up the other's jobs or the warmup's
      CacheScope.scoped {
        runner.run(b, timed = true)
        runner.run(a, timed = true)
      }
      assert(runner.timedJobs(a) === ja && runner.timedJobs(b) === jb)
      // through the harness, the artifact line carries them under `jobs`
      val h = new BenchCore.Harness(Seq(a, b), runner.run, () => System.nanoTime(),
        1e9, runner.timedJobs, visit = body => CacheScope.scoped(body()))
      h.runPass(0)
      val jobs = new ObjectMapper().readTree(h.artifactLine(sf, "", "")).get("jobs")
      assert(jobs.get(a).asInt === ja && jobs.get(b).asInt === jb)
    } finally spark.sparkContext.removeSparkListener(backlog)
  }
}
