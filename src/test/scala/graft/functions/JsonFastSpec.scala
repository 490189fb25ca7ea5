package graft.functions

import org.apache.spark.sql.functions._

import graft.GraftSparkSpec

/** `json_get` semantics vs get_json_object on its supported subset
  * (flat objects, scalar values), plus the documented divergences. Every
  * case runs on both evaluation paths
  * ([[graft.GraftSparkSpec.onBothPaths]]). */
class JsonFastSpec extends GraftSparkSpec {

  private def run(json: String, key: String): String = {
    val df = spark.createDataFrame(Seq(Tuple1(json))).toDF("j")
    df.select(JsonFast.json_get(col("j"), key)).head().getString(0)
  }

  test("extracts int, double, string, bool scalars") {
    onBothPaths {
      assert(run("""{"k": 87}""", "k") === "87")
      assert(run("""{"k": -3.5}""", "k") === "-3.5")
      assert(run("""{"k": "abc"}""", "k") === "abc")
      assert(run("""{"k": true}""", "k") === "true")
    }
  }

  test("whitespace tolerance and later keys") {
    onBothPaths(assert(run("""{ "a" : 1 , "k" :  42 }""", "k") === "42"))
  }

  test("missing key, json null, nested value -> null") {
    onBothPaths {
      assert(run("""{"a": 1}""", "k") === null)
      assert(run("""{"k": null}""", "k") === null)
      assert(run("""{"k": {"x": 1}}""", "k") === null)
      assert(run("""{"k": [1,2]}""", "k") === null)
    }
  }

  test("adversarial inputs: key-as-substring, empty, unicode, malformed") {
    onBothPaths {
      // "k" must match the quoted key only, not a substring of another key
      assert(run("""{"kk": 1, "k": 2}""", "k") === "2")
      assert(run("", "k") === null)
      assert(run("not json at all", "k") === null)
      assert(run("""{"k": "zażółć"}""", "k") === "zażółć")
      assert(run("""{"a": "k", "k": 5}""", "k") === "5")
    }
  }

  test("null input -> null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("j", StringType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(Row(null)).asJava, schema)
    onBothPaths(assert(df.select(JsonFast.json_get(col("j"), "k")).head().isNullAt(0)))
  }

  test("agrees with get_json_object across the events fixture") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val diff = ev.select(
      JsonFast.json_get(col("props"), "k").as("fast"),
      get_json_object(col("props"), "$.k").as("jackson"))
      .filter(not(col("fast") <=> col("jackson")))
    onBothPaths(assert(diff.count() === 0))
  }
}
