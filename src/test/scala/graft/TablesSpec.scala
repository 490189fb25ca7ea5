package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** [[Tables.apply]] infers a table's parquet schema once per (path,
  * `nanosAsLong`) and file listing, then loads with that schema and no
  * Spark job. These pin what the memo must not get wrong: a rewritten
  * fixture, the conf `Tables.events` sets, and concurrent cold loads. */
class TablesSpec extends GraftSparkSpec {

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-tables-$tag-").toString

  private def writeTable(dir: String, cols: Seq[String]): Unit = {
    import spark.implicits._
    Seq((1L, 2L, 3L), (4L, 5L, 6L)).toDF("a", "b", "c").select(cols.head, cols.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  /** Spark jobs `body` starts on this thread, counted by a job group of
    * its own once the listener bus has delivered every event. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try {
      val a = body
      Bridge.drainListenerBus(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second load of a table starts no Spark job") {
    val d = tempDir("warm")
    writeTable(d, Seq("a", "b"))
    val (_, cold) = jobsOf(Tables(spark, d, "t").schema)
    assert(cold >= 1, "the first load infers the schema with a job")
    val (schema, warm) = jobsOf(Tables(spark, d, "t").schema)
    assert(warm === 0)
    assert(schema.fieldNames.toSeq === Seq("a", "b"))
  }

  test("a fixture rewritten with an extra column loads with that column") {
    val d = tempDir("rewrite")
    writeTable(d, Seq("a", "b"))
    assert(Tables(spark, d, "t").schema.fieldNames.toSeq === Seq("a", "b"))
    writeTable(d, Seq("a", "b", "c"))
    val df = Tables(spark, d, "t")
    assert(df.schema.fieldNames.toSeq === Seq("a", "b", "c"))
    assert(df.collect().map(_.getLong(2)).toSet === Set(3L, 6L))
  }

  test("one path loads with its own schema under nanosAsLong on and off") {
    // a TIMESTAMP(NANOS) column, which Spark cannot write: nanosAsLong
    // reads it as an ns long, and without it Spark rejects the type
    val d = tempDir("nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/t.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500L))
    finally w.close()
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    def load(on: Boolean) =
      Engine.withConf(spark, Seq(nanosAsLong -> on.toString))(Tables(spark, d, "t"))
    assert(load(on = true).schema("ts").dataType === LongType)
    intercept[AnalysisException](load(on = false))
    val again = load(on = true)
    assert(again.schema("ts").dataType === LongType)
    assert(again.collect().map(_.getLong(0)).toSeq === Seq(1500L))
  }

  test("8 concurrent loads of one cold path return the same schema") {
    val d = tempDir("concurrent")
    writeTable(d, Seq("a", "c"))
    val pool = Executors.newFixedThreadPool(8)
    try {
      val loads = (1 to 8).map(_ => new Callable[Seq[String]] {
        def call(): Seq[String] = Tables(spark, d, "t").schema.fieldNames.toSeq
      })
      val schemas = pool.invokeAll(loads.asJava).asScala.map(_.get).toSet
      assert(schemas === Set(Seq("a", "c")))
    } finally pool.shutdown()
  }
}
