package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs: the production session
  * shape at 4 cores. The warehouse dir (`JoinsSpec` saves a table) is a
  * static conf, so it goes in as a system property before the call. */
object TestSpark {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      new java.io.File("target/test-warehouse").getAbsolutePath)
    Engine.session(appName = "graft-test", cores = 4)
  }
}

abstract class GraftSparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** Ids of every persistent RDD (caches and checkpoint blocks) live in
    * the shared session's context right now. */
  protected def persistentRddIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs beyond `baseline` that are still live after a brief
    * poll (scopes release with `unpersist(blocking = false)`). The shared
    * session carries earlier suites' storage, so leak checks are deltas. */
  protected def leakedSince(baseline: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    while ((persistentRddIds() -- baseline).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    persistentRddIds() -- baseline
  }

  /** Runs `check` under whole-stage codegen, then again with codegen off
    * everywhere: a `StaticInvoke` kernel's interpreted path finds the
    * kernel method by reflection instead of compiling a direct call. Both
    * passes keep the optimizer from evaluating a projection over local
    * test rows at planning time (`ConvertToLocalRelation`, always
    * interpreted), so the first pass does run the generated code. */
  protected def onBothPaths(check: => Unit): Unit = {
    val local = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    Engine.withConf(spark, Seq(local))(check)
    Engine.withConf(spark, Seq(local, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(check)
  }
}
