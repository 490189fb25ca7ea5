package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * program once per run and checks what it writes:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <input dir> --out <run dir>
  *
  * It writes `<run dir>/result.json` (timings, counts, errors) and, for a
  * traced run, `<run dir>/trace.json` (the spans). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val startNs = System.nanoTime()

  /** Progress line on stderr (the run log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - startNs) / 1e9}%7.2f] $msg")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"))
    new File(a.out).mkdirs()
    val heap = new OldGenPeak
    val tracer = new Tracer(a.trace)
    val result = a.workload match {
      case "ref_queries" => QueryWorkload.run(a, tracer)
      case "report_stream" => StreamWorkload.run(a, tracer)
      case "bridge" => Bridge.run(a)
    }
    val full = result ++ Map("mem_peak_mb" -> heap.peakMb, "cores" -> cores)
    writeJson(s"${a.out}/result.json", full)
    if (a.trace) writeJson(s"${a.out}/trace.json", tracer.allSpans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    })
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v))

  /** Seconds since the JVM started: at the first timed operation, the
    * whole set-up a single run pays (JVM start, class loading, every
    * set-up and the warm-up). */
  def sinceProcessStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Starts a session `n` times, each followed by `warm`, and keeps the
    * last; returns it with the median start-plus-warm time in seconds.
    * The first start also pays class loading and JIT, so the median is
    * the steady cost of bringing the engine up. */
  def setup(n: Int)(warm: SparkSession => Unit): (SparkSession, Double) = {
    val times = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val s = graft.Engine.session(appName = "perfbench", cores = cores)
      warm(s)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < n) { s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      t
    }
    (SparkSession.active, times.sorted.apply(n / 2))
  }

  /** Peak old-generation occupancy measured after each GC. */
  final class OldGenPeak {
    @volatile private var peak = 0L
    private val listener: NotificationListener = (n, _) => {
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        for ((pool, use) <- info.getGcInfo.getMemoryUsageAfterGc.asScala
             if pool.contains("Old Gen") || pool.contains("Tenured"))
          if (use.getUsed > peak) peak = use.getUsed
      }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    def peakMb: Double = peak / 1048576.0
  }
}
