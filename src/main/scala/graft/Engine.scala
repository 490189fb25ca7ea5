package graft

import org.apache.spark.sql.SparkSession

/** User-facing entry point: one call wires a session to the engine —
  * every table registered as a temp view (SQL-first usage, the S2
  * catalog-discovery analog) and the native functions registered under
  * their SQL names. A user of the reference switches by pointing `attach`
  * at their data directory and writing the same aggregations in SQL or
  * the DataFrame API.
  */
object Engine {

  /** The engine's session: the only `SparkSession.builder` call in the
    * repository. Bench, Verify, the tests, the tools and the benchmark
    * harness all start here, so they plan under the same settings.
    *
    * A caller that needs more adds it around the call, not as a
    * parameter. A runtime SQL conf is set on the returned session with
    * `spark.conf.set` (Bench's `SPARK_GRAFT_SHUFFLE` override,
    * PlanFingerprint's pinned planner confs). A static conf is set as a `spark.*` JVM system
    * property just before the call: the builder's `SparkConf` reads those
    * (Bench's `spark.cleaner.periodicGC.interval`, the test warehouse
    * dir).
    *
    * Streaming state stays on the in-memory HDFS-backed provider, which
    * is faster at reference-shape state (≤48 topics × small value
    * domains). State that outgrows executor memory (long-horizon
    * Complete-mode aggregates, wide dedup watermarks) switches to
    * RocksDB, off-heap and on disk, with `spark.conf.set(
    * "spark.sql.streaming.stateStore.providerClass",
    * "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")`
    * before the query starts, as the RocksDB specs do. */
  def session(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // 10 MB default is tuned for small heaps; with 100+ GiB executors a
      // 64 MB build side is still a cheap broadcast and keeps dimension /
      // shingle-set sides off the shuffle (AQE demotes anything bigger).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every parquet table under `dir` as a temp view + register
    * native SQL functions. Returns the table names registered. */
  def attach(spark: SparkSession, dir: String): Seq[String] = {
    graft.functions.GraftFunctions.register(spark)
    Tables.all.filter { t =>
      new java.io.File(s"$dir/$t.parquet").exists()
    }.map { t =>
      // events must go through Tables.events (TIMESTAMP(NANOS) handling)
      val df = if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
      df.createOrReplaceTempView(t)
      t
    }
  }
}
