package graft

import org.apache.spark.sql.functions._

/** SQL-first usage: attach a data dir, query with spark.sql, including
  * the engine's native functions. */
class EngineSpec extends GraftSparkSpec {

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

  test("Engine.session is the only SparkSession builder in the sources") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src", "perfbench/src").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val builders = roots.flatMap(scalaFiles).filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.contains(needle)
    }.map(_.getPath)
    assert(builders === Seq("src/main/scala/graft/Engine.scala"))
  }

  test("the mains under src/main are exactly the kept runners and tools") {
    // one registry runner (Bench) and a fixed tool set: a new one-off
    // probe main belongs in one of these, not beside them
    val root = new java.io.File("src/main")
    assert(root.isDirectory, "run from the repository root")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val obj = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    val entry = """def\s+main\s*\(|extends\s+App\b""".r
    val mains = scalaFiles(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // each entry point belongs to the last object declared before it
      entry.findAllMatchIn(text).map { m =>
        obj.findAllMatchIn(text.substring(0, m.end)).toSeq.lastOption
          .fold(s"<no object> in ${f.getPath}")(_.group(1))
      }
    }
    assert(mains.sorted ===
      Seq("Bench", "Coverage", "Explain", "PlanFingerprint", "ScaleUp", "Verify"))
  }
}
