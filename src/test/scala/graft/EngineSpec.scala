package graft

import org.apache.spark.sql.functions._

/** SQL-first usage: attach a data dir, query with spark.sql, including
  * the engine's native functions. */
class EngineSpec extends GraftSparkSpec {

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("attach registers all tables and SQL equals the DataFrame API") {
    val tables = Engine.attach(spark, "/root/testdata/sf0.001")
    assert(tables.toSet === Tables.all.toSet)
    assert(spark.catalog.tableExists("lineitem"))

    val sqlResult = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    val dfResult = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    assert(sqlResult.collect().toSeq === dfResult.collect().toSeq)

    // native function through SQL over an attached table
    val k = spark.sql(
      "SELECT json_get(props, 'k') AS k FROM events WHERE event_id = 0")
      .head().getString(0)
    assert(k != null && k.forall(_.isDigit))
  }

  test("the codegen cache holds a warm multi-stage query's classes") {
    // sim_topk_sq8_ivf compiles about 106 classes cold at sf0.001, more
    // than Spark's default 100-entry cache keeps: under that size each
    // run recompiles about 65 of them. Whole-stage class names carry the
    // codegen stage id, which AQE can number differently on a rerun, so
    // the names are pinned id-free here; the second warm-up run takes any
    // class the first run's plans did not share.
    import org.apache.spark.metrics.source.CodegenMetrics
    val (q, dir) = ("sim_topk_sq8_ivf", "/root/testdata/sf0.001")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Long = {
      val before = compiles()
      graft.operators.CacheScope.scoped {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      compiles() - before
    }
    Engine.withConf(spark, Seq("spark.sql.codegen.useIdInClassName" -> "false")) {
      run()
      run()
      assert(run() === 0)
    }
  }

  test("Engine.session is the only SparkSession builder in the sources") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src", "perfbench/src").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    val builders = roots.flatMap(scalaFiles).filter(read(_).contains(needle)).map(_.getPath)
    assert(builders === Seq("src/main/scala/graft/Engine.scala"))
  }

  test("Engine.withConf is the only code that restores or unsets a session conf") {
    // a hand-rolled restore that reads `getOption` gets an unset key's
    // default back and leaves the key set on the shared session; split
    // so this file does not match itself
    val (getOption, unset) = ("conf." + "getOption", "conf." + "unset")
    val root = new java.io.File("src")
    assert(root.isDirectory, "run from the repository root")
    val hits = scalaFiles(root).flatMap { f =>
      val text = read(f)
      Seq(getOption, unset).filter(text.contains).map(n => s"${f.getPath}: $n")
    }
    assert(hits === Seq(s"src/main/scala/graft/Engine.scala: $unset"))
  }

  test("the mains under src/main are exactly the kept runners and tools") {
    // one registry runner (Bench) and a fixed tool set: a new one-off
    // probe main belongs in one of these, not beside them
    val root = new java.io.File("src/main")
    assert(root.isDirectory, "run from the repository root")
    val obj = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    val entry = """def\s+main\s*\(|extends\s+App\b""".r
    val mains = scalaFiles(root).flatMap { f =>
      val text = read(f)
      // each entry point belongs to the last object declared before it
      entry.findAllMatchIn(text).map { m =>
        obj.findAllMatchIn(text.substring(0, m.end)).toSeq.lastOption
          .fold(s"<no object> in ${f.getPath}")(_.group(1))
      }
    }
    assert(mains.sorted ===
      Seq("Bench", "Coverage", "Explain", "PlanFingerprint", "ScaleUp", "Verify"))
  }

  test("every native function is a kernel call: no hand-written Catalyst expression") {
    // eval and codegen bodies belong to StaticInvoke (GraftFunctions.kernel);
    // a class that writes its own has an interpreted and a generated path
    // that can disagree
    val root = new java.io.File("src/main")
    assert(root.isDirectory, "run from the repository root")
    val needles = Seq("doGenCode", "nullSafeEval", "CodegenContext")
    val hits = scalaFiles(root).flatMap { f =>
      val text = read(f)
      needles.filter(text.contains).map(n => s"${f.getPath}: $n")
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("QueryFamily.replayStream is the only stream run in the queries layer") {
    // a registry row that folds bounded input through a stream replays it
    // through the one harness, which owns the source memo, the cleared
    // state, the trigger and the bounded await
    val root = new java.io.File("src/main/scala/graft/queries")
    assert(root.isDirectory, "run from the repository root")
    val needles = Seq("Trigger.AvailableNow", "awaitTermination")
    val hits = scalaFiles(root).filter(_.getName != "QueryFamily.scala").flatMap { f =>
      val text = read(f)
      needles.filter(text.contains).map(n => s"${f.getPath}: $n")
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("Similarity's ANN scaffold is written once: one recall contract, one top-k window") {
    // every approximate operator reaches the recall contract and the
    // per-query top-k through one helper each, so a change to either (a
    // tie-break, the zero-hit value) lands in every operator at once
    val root = new java.io.File("src/main/scala/graft/operators")
    assert(root.isDirectory, "run from the repository root")
    val text = scalaFiles(root).map(read).mkString("\n")
    def count(needle: String): Int =
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).size
    assert(count(""".as("recall_at_k")""") === 1)
    assert(count("""Window.partitionBy(col("query_id"))""") === 1)
  }
}
