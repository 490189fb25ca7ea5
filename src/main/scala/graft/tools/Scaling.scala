package graft.tools

import graft.{Engine, SparkEntry}

/** Scale-proof measurement harness: one timed `count()` per query at a
  * given data directory, printed as `name<TAB>seconds`. Used with
  * [[ScaleUp]]-generated sf1 data to compute sf0.1→sf1 per-query
  * scaling ratios for SCALING.md.
  *
  * Methodology vs graft.Bench: Bench's warmup + two interleaved passes
  * + best-of exists to make SUB-SECOND queries comparable across rounds
  * on a noisy host. At 10× data every query of interest runs seconds —
  * codegen/JIT cost is amortized inside the first run — so a single
  * timed run per query keeps the whole sweep inside one driver slot
  * instead of multiplying a 10×-data pass by the full best-of protocol.
  * Ratios are read against the SAME session/config at the smaller SF
  * (also measured here when asked), not against Bench artifacts.
  *
  * `SPARK_GRAFT_ONLY` / `SPARK_GRAFT_SKIP` filter as in Bench
  * ([[SparkEntry.selected]]); a per-query wall cap
  * (`SPARK_GRAFT_QUERY_CAP_S`, default 300) marks a blown-up query
  * `TIMEOUT` and moves on instead of wedging the sweep — a superlinear
  * outlier should become a report line, not a lost run. */
object Scaling {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cores = cpus.toInt)
    // SPARK_GRAFT_SHUFFLE decouples shuffle parallelism from the core
    // count for the cluster-sizing experiment (SCALING.md §Parallelism):
    // same cores, more/smaller shuffle partitions — if a flagged query's
    // superlinear drift melts, it was per-partition working-set pressure
    // (the knob a real cluster turns with data size), not operator cost.
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
    val capS = sys.env.get("SPARK_GRAFT_QUERY_CAP_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(300.0)
    val selected = SparkEntry.selected()

    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // the iteration log is THREAD-LOCAL, so it must be drained on the
      // worker thread that ran the query — and cleared at entry, because
      // the cached pool may hand this query the thread of a previously
      // TIMED-OUT query whose zombie left entries behind
      val fut = pool.submit(
        new java.util.concurrent.Callable[(Long, String)] {
          def call(): (Long, String) = {
            graft.operators.Graph.drainIterationLog(): Unit
            val n = graft.operators.CacheScope.scoped(fn(spark, sfDir).count())
            (n, graft.operators.Graph.drainIterationLog())
          }
        })
      val line =
        try {
          // rounds-to-converge of any iterative graph operator the query
          // ran — the SCALING.md iteration column (flat rounds ⇒ a high
          // family ratio is input growth, not convergence creep)
          val (n, iters) =
            fut.get(capS.toLong, java.util.concurrent.TimeUnit.SECONDS)
          val s = (System.nanoTime() - t0) / 1e9
          val itersTag = if (iters.isEmpty) "" else s"\titers=$iters"
          f"$name\t$s%.3f\trows=$n$itersTag"
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            fut.cancel(true)
            f"$name\tTIMEOUT>${capS}%.0f"
          case e: Exception =>
            spark.sparkContext.cancelAllJobs()
            s"$name\tERROR\t${e.getMessage.linesIterator.nextOption.getOrElse("")}"
        }
      println(line)
      System.out.flush()
    }
    pool.shutdownNow()
    spark.stop()
  }
}
