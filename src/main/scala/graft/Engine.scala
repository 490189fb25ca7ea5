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

  /** Size of Spark's JVM-wide cache of compiled codegen classes. A cold
    * pass over the whole registry at sf0.001 compiles 3,551 distinct
    * classes, and a second pass still compiles 326 new ones whose source
    * or class loader differs from run to run (ROADMAP Direction 1); 8,192
    * holds both twice over. With the default 100 entries a warm query
    * evicts and recompiles its own classes. The cache is built once, at
    * the JVM's first codegen, from the static conf of the session active
    * then (`EngineSpec` checks that it took). */
  private val CodegenCacheEntries = 8192

  /** The engine's session: the only `SparkSession.builder` call in the
    * repository. Bench, Verify, the tests, the tools and the benchmark
    * harness all start here, so they plan under the same settings.
    *
    * A caller that needs more adds it around the call, not as a
    * parameter. A runtime SQL conf is set on the returned session with
    * `spark.conf.set` (Bench's `SPARK_GRAFT_SHUFFLE` override), or
    * around one block with [[withConf]] (PlanFingerprint's pinned
    * planner confs). A static conf is set as a `spark.*` JVM system
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
    * before the query starts, as the RocksDB specs do.
    *
    * The compiled-class cache holds [[CodegenCacheEntries]] classes (see
    * there), not Spark's default 100. */
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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with `confs` set on `spark`, then puts each key back
    * as it was: its previous value, or unset if it was not set. Reads
    * the set keys (`getAll`), because `getOption` returns an
    * unset key's default, and restoring that would leave the key set.
    * The one place that restores or unsets a session conf (`EngineSpec`
    * checks this). */
  private[graft] def withConf[A](spark: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
