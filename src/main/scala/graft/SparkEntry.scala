package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Behavior
import graft.queries.{DedupQueries, FormatQueries, GovStreamQueries, MultimodalQueries, QueryFamily, RefQueries, RelQueries, SimQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is a named operator from SURVEY.md §2 (or the
  * LLM-pipeline extension surface) expressed as a deterministic DataFrame
  * plan over the driver's parquet tables; `oracleSql` carries the equivalent
  * DuckDB SQL. Determinism rules (both sides):
  *   - explicit ORDER BY over the full output key;
  *   - aggregate/computed columns aliased to identical names;
  *   - integer-exact aggregation: money doubles go through integer cents
  *     (exact and independent of either engine's summation order).
  */
object SparkEntry {

  private[graft] val families: Seq[QueryFamily] =
    Seq(RefQueries, RelQueries, TextQueries, DedupQueries, SimQueries, MultimodalQueries, FormatQueries, GovStreamQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's entire critical path (SURVEY §3 E2): scan → fan-out →
    * filter → hash agg → sort. */
  def entry(spark: SparkSession): DataFrame = {
    val sf = "/root/testdata/sf0.001"
    val msgs = Behavior.fanoutMessages(Tables.events(spark, sf),
      Tables.customer(spark, sf))
    Behavior.clicksByService(msgs).orderBy(col("service"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.foldLeft(Map.empty[String, (SparkSession, String) => DataFrame])(_ ++ _.queries)

  /** `SPARK_GRAFT_ONLY`: comma-separated query-name prefixes for a local
    * run over part of the registry; unset = every query. */
  def onlyPrefixes: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)

  /** The queries Bench runs, sorted by name: those matching
    * [[onlyPrefixes]], minus the exact names in `SPARK_GRAFT_SKIP`
    * (comma-separated). A scaling sweep's Bench runs skip the declared
    * O(n²) oracle baselines, whose blowup at 10× data is by design (each
    * has a registered bucketed scale path that IS measured). */
  def selected(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    queries.toSeq.filter { case (name, _) =>
      onlyPrefixes.forall(_.exists(name.startsWith)) && !skip(name)
    }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.foldLeft(Map.empty[String, String])(_ ++ _.oracles)

  /** Bench no-warmup class (see [[graft.queries.QueryFamily.noWarmup]]):
    * queries whose every execution is a from-scratch stream replay, so a
    * warmup run warms nothing and only doubles their bench cost. */
  def noWarmupQueries: Set[String] = families.flatMap(_.noWarmup).toSet
}
