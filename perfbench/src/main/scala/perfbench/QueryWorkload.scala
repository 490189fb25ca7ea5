package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed loop, one client: runs a fixed set of registered queries, each
  * materialized in full.
  *
  * 1. Set-up, three times: session start, `Engine.attach` and one
  *    full-result query (see [[Main.setup]]).
  * 2. Check pass, untimed, one thread per core: every query once, its full
  *    result written as parquet for `run.py` to compare with the DuckDB
  *    oracle. This pass is also the warm-up (codegen cache, JIT).
  * 3. Timed passes until `seconds` have elapsed, at least [[minPasses]]:
  *    every query once per pass in a seed-shuffled order, its result
  *    written to the `noop` sink, so nothing the caller receives can be
  *    pruned away.
  *
  * A query's latency runs from the call of its registered function to the
  * end of the write; `run.py` reduces each query's samples to their median.
  * A query that throws or exceeds [[capSeconds]] counts as failed. */
object QueryWorkload {
  /** Every sixth `ref_*` query by name (7 of 42). A pass over all 42
    * plus the check pass that warms it takes about 100 s on 4 cores, more
    * than one run may take; a fixed stride keeps the mix of the family. */
  val names: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("ref_")).toSeq.sorted
      .zipWithIndex.collect { case (q, i) if i % 6 == 0 => q }

  val capSeconds = 60L
  /** The timed passes still run while the JIT compiles (each pass is
    * faster than the one before); a per-query median over four or more
    * passes leaves the slowest out. */
  val minPasses = 4

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)

  def run(a: Main.Args, tracer: Tracer): Map[String, Any] = {
    val (spark, setupS) = Main.setup(3) { s =>
      graft.Engine.attach(s, a.data)
      SparkEntry.queries(names.head)(s, a.data).write.format("noop").mode("overwrite").save()
    }
    Main.log(f"setup done, median $setupS%.2f s")
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val errors = mutable.LinkedHashMap.empty[String, String]

    def capped[T](name: String)(body: => T): Option[T] = {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name, interruptOnCancel = true)
      val cancel = watchdog.schedule((() => sc.cancelJobGroup(name)): Runnable,
        capSeconds, TimeUnit.SECONDS)
      try Some(body)
      catch { case e: Throwable =>
        errors.synchronized(errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      } finally { cancel.cancel(false); sc.clearJobGroup() }
    }

    // untimed, so it runs on one thread per core to keep the run short
    val pool = Executors.newFixedThreadPool(Main.cores)
    order(names, a.seed, -1).map { q =>
      pool.submit((() => capped(q) {
        SparkEntry.queries(q)(spark, a.data).write.mode("overwrite")
          .parquet(s"${a.out}/check/$q")
      }): Runnable)
    }.foreach(_.get())
    pool.shutdown()
    val checkFailed = errors.synchronized(errors.keySet.toSet)
    Main.log("check pass done")

    tracer.install(spark)
    tracer.resetCounters()
    val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val processToFirstOp = Main.sinceProcessStart
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed < a.seconds) {
      val pass = passes.size
      val root = tracer.begin(s"pass $pass", "pass")
      val p0 = System.nanoTime()
      for (q <- order(names, a.seed, pass)) {
        val q0 = System.nanoTime()
        val ok = capped(q) {
          val df = tracer.within(spark, tracer.begin(s"query $q", "queries", root.id)) {
            SparkEntry.queries(q)(spark, a.data)
          }
          write(spark, tracer, df, q, root.id)
        }
        val lat = (System.nanoTime() - q0) / 1e9
        if (ok.isDefined) latencies.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += lat
        else failed += 1
      }
      passes += (System.nanoTime() - p0) / 1e9
      Main.log(f"timed pass $pass done: ${passes.last}%.2f s")
      tracer.end(root)
    }
    tracer.drain(spark)
    watchdog.shutdownNow()

    val base = Map[String, Any](
      "setup_s" -> setupS,
      "query_latencies" -> latencies.map { case (q, l) => q -> l.toSeq }.toMap,
      "attempted" -> (names.size * passes.size + names.size),
      "failed" -> (failed + checkFailed.size),
      "errors" -> errors.toMap,
      "check_dir" -> s"${a.out}/check",
      "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "notes" -> f"${names.size} queries, ${passes.size} timed passes: ${passes.map(p => f"$p%.2f").mkString(" ")} s")
    if (!tracer.enabled) base
    else base ++ Map("layers" -> (tracer.layerMetrics(passes.size) +
      ("setup.process_to_first_op_s" -> processToFirstOp)))
  }

  /** The materializing write, as a span whose children are its jobs and
    * Catalyst phases. A traced run waits for the listener bus after each
    * write so that every event lands under the right span. */
  private def write(spark: SparkSession, tracer: Tracer, df: DataFrame,
      q: String, parent: Long): Unit = {
    val w = tracer.begin(s"write $q", "write", parent)
    tracer.currentWrite = Some(w)
    tracer.within(spark, w)(df.write.format("noop").mode("overwrite").save())
    tracer.drain(spark)
    tracer.currentWrite = None
  }
}
