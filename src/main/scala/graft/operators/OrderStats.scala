package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact order statistics.
  *
  * A global `row_number() OVER (ORDER BY ...)` (or `ntile`, or
  * `sort_array(collect_list(...))`) forces every row through ONE reducer —
  * the classic scale-killer for exact quantiles. The scale-safe exact
  * construction is range-partitioned sort + per-partition offsets:
  *
  *  1. `repartitionByRange` on the sort key — a sampled, distributed
  *     exchange; partition i holds keys strictly below partition i+1's;
  *  2. each partition computes LOCAL `row_number` (P parallel sorts, each
  *     over ~1/P of the data);
  *  3. one tiny P-row frame of per-partition counts yields each
  *     partition's cumulative offset (the ONLY unpartitioned window in the
  *     plan runs over those P rows — bounded by the partition count, never
  *     the data), broadcast back;
  *  4. global rank = offset + local rank — exactly the single-reducer
  *     window's output, with no single reducer and no full-column buffer.
  *
  * Two full-data shuffles total (the range exchange, then the hash
  * exchange feeding the per-partition window); both key on narrow columns
  * and both scale out to any partition count.
  */
object OrderStats {

  /** Appends a global-rank column (`rankCol`, 1-based `long`, equal to
    * `row_number() OVER (ORDER BY sortCols)`) and a total-row-count column
    * (`totalCol`, `long`) to `df`, computed distributively as described in
    * the object doc. `sortCols` must be a total order (include a unique
    * tie-breaker) for the rank to be deterministic. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
      rankCol: String = "rn", totalCol: String = "n"): DataFrame = {
    // cached (round 17): the range-partitioned frame is scanned TWICE —
    // once for the per-partition offsets (which must finish first: they
    // broadcast into the second scan's join, so the scans are strictly
    // sequential and AQE cannot overlap them) and once as the join
    // input. Uncached, the second scan re-runs the ENTIRE upstream plan
    // through the range exchange — for the ccnet queries that upstream
    // is the whole KN scoring pipeline.
    val withPid = CacheScope.track(
      df.repartitionByRange(sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val wCum = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = withPid.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col("__pid"),
        coalesce(sum(col("__cnt")).over(wCum), lit(0L)).as("__offset"),
        sum(col("__cnt")).over(wAll).as(totalCol))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    withPid.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol,
        row_number().over(wLocal).cast("long") + col("__offset"))
      .drop("__pid", "__offset")
  }

  /** Appends a global INCLUSIVE prefix sum of `value` over the total order
    * `sortCols` (`cumCol`, `long` — equal to `sum(value) OVER (ORDER BY
    * sortCols ROWS UNBOUNDED PRECEDING)`), via the same range-partitioned
    * two-pass construction as [[withGlobalRank]]: per-partition local
    * cumulative sums in parallel, plus a broadcast P-row frame of
    * partition offsets. The only unpartitioned window runs over those P
    * rows — bounded by the partition count, never the data. */
  def withGlobalPrefixSum(df: DataFrame, sortCols: Seq[Column], value: Column,
      cumCol: String = "cum"): DataFrame = {
    // cached for the same reason as [[withGlobalRank]] (round 17): the
    // offsets scan must complete before the join scan starts, so
    // uncached the upstream runs twice, strictly sequentially
    val withPid = CacheScope.track(
      df.repartitionByRange(sortCols: _*)
        .withColumn("__v", value.cast("long"))
        .withColumn("__pid", spark_partition_id()))
    val wCum = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withPid.groupBy(col("__pid"))
      .agg(sum(col("__v")).as("__psum"))
      .select(col("__pid"),
        coalesce(sum(col("__psum")).over(wCum), lit(0L)).as("__offset"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    withPid.join(broadcast(offsets), Seq("__pid"))
      .withColumn(cumCol, sum(col("__v")).over(wLocal) + col("__offset"))
      .drop("__pid", "__offset", "__v")
  }

  /** 2-D skyline (Pareto frontier; Börzsönyi et al., ICDE 2001): rows not
    * dominated on (cost ↓ better, benefit ↑ better). `a` dominates `b`
    * iff a.cost ≤ b.cost ∧ a.benefit ≥ b.benefit with at least one
    * strict; ties on BOTH dimensions survive together (neither
    * dominates).
    *
    * The sorted-scan formulation, not the O(n²) self-join: within a
    * cost-ordered stream a row is dominated iff
    *   max{benefit : cost' < cost} ≥ benefit   (strict on cost), or
    *   max{benefit : cost' ≤ cost} > benefit   (strict on benefit);
    * both maxima are RANGE-frame running windows over the integer cost
    * key (value-based frames, so same-cost peers land in the ≤ frame
    * regardless of intra-tie order — deterministic without a tie-break).
    *
    * Scale shape — the distribute-then-merge skyline: the global skyline
    * is a subset of the union of ANY partitioning's local skylines, so
    * phase 1 runs the window partitioned by a hash bucket of the row key
    * (P parallel sorted scans over ~1/P of the data, one hash shuffle),
    * and phase 2 re-runs the same filter globally over the survivors —
    * at most P × |skyline| rows, a frontier not a table, so the one
    * unpartitioned window is bounded by output size, never input size.
    * `cost` must be integer-valued (cents); `key` any unique column. */
  def skyline2D(df: DataFrame, key: Column, cost: Column, benefit: Column,
      nBuckets: Int = 32): DataFrame = {
    val base = df.select(key.as("__k"), cost.cast("long").as("__c"),
      benefit.cast("long").as("__b"))
    def survivors(in: DataFrame, part: Seq[Column]): DataFrame = {
      val wStrict = Window.partitionBy(part: _*).orderBy(col("__c"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wLe = Window.partitionBy(part: _*).orderBy(col("__c"))
        .rangeBetween(Window.unboundedPreceding, 0)
      in.withColumn("__mx_strict",
          coalesce(max(col("__b")).over(wStrict), lit(Long.MinValue)))
        .withColumn("__mx_le", max(col("__b")).over(wLe))
        .filter(!(col("__mx_strict") >= col("__b") ||
          col("__mx_le") > col("__b")))
        .drop("__mx_strict", "__mx_le")
    }
    val local = survivors(
      base.withColumn("__bkt", pmod(hash(col("__k")), lit(nBuckets))),
      Seq(col("__bkt"))).drop("__bkt")
    survivors(local, Seq.empty)
  }
}
