package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{GraftSparkSpec, SparkEntry}
import graft.operators.CacheScope

/** [[QueryFamily.replayStream]] writes a stream row's source once per
  * (JVM, data dir): a session that runs the rows at one scale, then at
  * another, then at the first again must fold each scale's own source,
  * so every result equals its batch twin at that scale. */
class StreamReplaySpec extends GraftSparkSpec {

  private def rows(df: => DataFrame): Seq[String] =
    CacheScope.scoped(df.collect().map(_.toString).sorted.toSeq)

  private def run(name: String, d: String): Seq[String] =
    rows(SparkEntry.queries(name)(spark, d))

  test("the source memo is keyed on the data dir: sf0.001, sf0.01, sf0.001 " +
    "each equal the batch twin") {
    for (d <- Seq("sf0.001", "sf0.01", "sf0.001").map("/root/testdata/" + _)) {
      assert(run("gov_manifest_screen", d) === run("rel_dataset_fingerprint", d), d)
      val kAnonymity = rows(SparkEntry.queries("rel_k_anonymity")(spark, d)
        .withColumn("c_nationkey", col("c_nationkey").cast("long")))
      assert(run("gov_privacy_restart", d) === kAnonymity, d)
    }
  }
}
