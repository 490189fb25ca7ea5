package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Relates the count()-timed history (`graft.Bench`: `local[32]`, warm-up
  * then best of two `count()` runs) to this benchmark's measure (full
  * result to the `noop` sink at `local[cores]`, one warm-up then one timed
  * run), query by query, back to back in one process. Not a workload:
  * `run.py --workload bridge` runs it once for the notes. */
object Bridge {
  def run(a: Main.Args): Map[String, Any] = {
    val names = QueryWorkload.names
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def measure(cores: Int)(op: SparkSession => String => Unit, runs: Int): Map[String, Double] = {
      val s = graft.Engine.session(appName = "perfbench-bridge", cores = cores)
      val out = names.map { q =>
        op(s)(q)
        q -> (1 to runs).map(_ => timed(op(s)(q))).min
      }.toMap
      s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      out
    }
    val old = measure(32)(s => q => SparkEntry.queries(q)(s, a.data).count(), 2)
    val now = measure(Main.cores)(s => q =>
      SparkEntry.queries(q)(s, a.data).write.format("noop").mode("overwrite").save(), 1)
    Map("pairs" -> names.map(q => Seq(q, old(q), now(q))))
  }
}
