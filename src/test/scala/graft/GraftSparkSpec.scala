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

  /** Runs `check` under whole-stage codegen, then again with codegen off
    * everywhere: a `StaticInvoke` kernel's interpreted path finds the
    * kernel method by reflection instead of compiling a direct call. */
  protected def onBothPaths(check: => Unit): Unit = {
    check
    val off = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = off.map { case (k, _) => k -> spark.conf.getOption(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try check
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
