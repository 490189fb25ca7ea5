package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{Engine, SparkEntry}

/** Scratch diagnostic (not part of the driver contract): run named
  * SparkEntry queries and report the NUMBER OF SPARK JOBS each submits —
  * the deterministic evidence for driver-action-economy changes in the
  * iterative graph loops (bench seconds on this host carry ±1s noise at
  * the 1-2s query scale; job counts do not). Usage:
  *   tools/run_main.sh graft.tools.JobCount <name,name,...> [sfDir]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session(cores = 32)
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup pass (codegen/JIT) — not counted
      graft.operators.CacheScope.scoped {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      Thread.sleep(500) // let listener drain
      jobs.set(0)
      val t0 = System.nanoTime()
      graft.operators.CacheScope.scoped {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[jobcount] $name%-28s jobs=${jobs.get()}%4d  $sec%7.3f s")
    }
    spark.stop()
  }
}
