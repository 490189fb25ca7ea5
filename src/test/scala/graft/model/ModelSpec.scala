package graft.model

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec
import graft.functions.GraftFunctions

class ModelSpec extends GraftSparkSpec {

  test("typed fan-out round trip: Dataset[ClickEvent] -> Dataset[TopicMessage]") {
    val s = spark
    import s.implicits._
    val events = Seq(
      ClickEvent(0L, 1L, "click", """{"k": 7}"""),
      ClickEvent(1L, 2L, "view", """{"k": 8}""")).toDS()
    val msgs = Model.fanout(events)
    assert(msgs.count() === 6)
    // typed access compiles and behaves
    assert(msgs.filter((m: TopicMessage) => m.topic == "click_clicks")
      .head().value === "1")
    val regrouped = Model.regroupValues(msgs)
    assert(regrouped.filter(col("dim") === "k" && col("service") === "click")
      .head().getString(2) === "7")
  }

  test("SQL registration: json_get and cosine callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql("""SELECT json_get('{"k": 42}', 'k') AS v""").head().getString(0)
    assert(r === "42")
    val c = spark.sql(
      """SELECT cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |              array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    // unaliased calls are named after the function, as before
    val named = spark.sql(
      """SELECT json_get(j, 'k'), cosine(a, b)
        |FROM VALUES ('{"k": 42}', array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))
        |  AS t(j, a, b)""".stripMargin)
    assert(named.columns.toSeq === Seq("json_get(j)", "cosine(a, b)"))
    // cosine over integer arrays still fails analysis with its own message
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine(array(1, 2), array(1, 2))"))
    assert(e.getMessage.contains(
      "cosine requires two array<float> or two array<double>, got ARRAY<INT> / ARRAY<INT>"))
  }
}
