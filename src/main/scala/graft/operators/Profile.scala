package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ingest-time data profiling — the first pass any pipeline runs over a
  * new 100 TB drop: per-column null rates, cardinalities and value ranges
  * (the reference implicitly trusts its MySQL/Kafka schemas; an engine
  * needs to VERIFY a feed before 1000 executors burn a day on it; cf.
  * reference `Raport.py:56-74`, which assumes every message parses).
  *
  * Scale design: [[columnProfile]] is ONE aggregation pass. count/min/max
  * are plain partial aggregates; the exact per-column distinct counts make
  * Catalyst plan a single Expand (k× row multiplication, then map-side
  * partial aggregation collapses each partition to ≤ |distinct| rows
  * before the shuffle). The k× expand is the price of EXACTNESS — at the
  * 100 TB grain, flip `approxDistinct = true` and the same single pass
  * uses HyperLogLog sketches (no Expand at all); the exact mode stays the
  * oracle-checkable contract at test scale.
  *
  * The caller projects columns to string-safe types first (longs /
  * strings; money → integer cents, timestamps → epoch) so the min/max
  * rendering is canonical across engines — double→string formatting is
  * engine-specific (Java's `1.0E7` vs shortest-round-trip `10000000.0`)
  * and deliberately never happens here.
  */
object Profile {

  /** One row per column of `df`: (column, n, n_null, n_distinct, min_s,
    * max_s). Column order of the output follows `df.columns`; `n` is the
    * table row count (same every row), min/max are null on all-null
    * columns. Exact distincts by default; `approxDistinct` switches to
    * HLL (±5% rsd) for the no-Expand scale path. */
  def columnProfile(df: DataFrame, approxDistinct: Boolean = false): DataFrame = {
    val cols = df.columns.toSeq
    def dcount(c: String): Column =
      if (approxDistinct) approx_count_distinct(col(c))
      else countDistinct(col(c))
    // one flat agg: 4 aggregates per column + the shared row count
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"), // non-null count
        dcount(c).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single stats row into one row per column (explode of a
    // k-element literal-built array: driver-side k structs, not a shuffle)
    val rows = array(cols.map { c =>
      struct(
        lit(c).as("column"),
        col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").cast("long").as("n_distinct"),
        col(s"__min_$c").as("min_s"),
        col(s"__max_$c").as("max_s"))
    }: _*)
    one.select(explode(rows).as("p")).select(col("p.*"))
  }

  /** Pearson correlation / covariance / stddev from EXACT integer moments.
    *
    * Double-summed moments depend on partition merge order (FP addition
    * is non-associative) — unacceptable for a deterministic engine
    * contract. Here every moment (Σx, Σy, Σx², Σy², Σxy) is summed in
    * DECIMAL(38,0) over integer-cent inputs: exact, order-independent,
    * and with 38 digits of headroom (Σx² at 100 TB ≈ 1e12 rows × 1e14
    * per-row ≈ 1e26 ≪ 1e38). The final statistics are derived from the
    * moments by a FIXED IEEE double expression — both engines cast the
    * same exact decimal to the same nearest double and run the same
    * operation sequence, so results are bit-identical.
    *
    * `x`, `y` must be integer-valued columns (cents). Output per group:
    * n, corr, covar_pop, std_x, std_y (doubles).
    */
  def momentStats(df: DataFrame, groupCols: Seq[Column], x: Column, y: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val grouped = df.groupBy(groupCols: _*).agg(
      count(lit(1)).as("n"),
      sum(x.cast(dec)).as("sx"),
      sum(y.cast(dec)).as("sy"),
      sum((x.cast(dec) * x.cast(dec))).as("sxx"),
      sum((y.cast(dec) * y.cast(dec))).as("syy"),
      sum((x.cast(dec) * y.cast(dec))).as("sxy"))
    // fixed double derivation (identical op sequence in the oracle SQL):
    // cov_pop = (n·sxy − sx·sy) / n², corr = cov / (sdx·sdy)
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = nD * d("sxy") - d("sx") * d("sy") // n²·cov_pop
    val varXN = nD * d("sxx") - d("sx") * d("sx") // n²·var_pop
    val varYN = nD * d("syy") - d("sy") * d("sy")
    // degenerate-group guard: a zero-variance group makes varXN exactly 0
    // (Spark's non-ANSI x/0.0 → NULL, DuckDB's IEEE → ±inf/NaN — the
    // engines would DISAGREE), and near-total cancellation can round the
    // exact-decimal-to-double derivation to a tiny negative (sqrt → NaN,
    // with engine-specific NaN ordering downstream). NULL-ing corr/std on
    // varN <= 0 on BOTH sides makes degenerate groups engine-identical;
    // no-op for any group with real variance.
    grouped.select(groupCols ++ Seq(
      col("n"),
      when(varXN > 0 && varYN > 0, covN / sqrt(varXN) / sqrt(varYN)).as("corr"),
      (covN / nD / nD).as("covar_pop"),
      when(varXN > 0, sqrt(varXN) / nD).as("std_x"),
      when(varYN > 0, sqrt(varYN) / nD).as("std_y")): _*)
  }

  /** Per-group closed-form OLS — y regressed on x via the normal
    * equations, the moments-only formulation every distributed engine
    * ships (one pass, one shuffle on the group key, map-side partial
    * aggregation — no gradient iterations, no driver state):
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *   r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
    *
    * Same exactness discipline as [[momentStats]]: the five moments
    * accumulate in DECIMAL(38,0) (order-independent, overflow-safe at any
    * row count), the derivation is a FIXED IEEE double sequence mirrored
    * verbatim by the oracle SQL, and a degenerate group (zero or
    * cancellation-negative x-variance, where the engines' ÷0 semantics
    * diverge) NULLs the fit on both sides. `x`, `y` must be
    * integer-valued (cents). */
  def linReg(df: DataFrame, groupCols: Seq[Column], x: Column, y: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val grouped = df.groupBy(groupCols: _*).agg(
      count(lit(1)).as("n"),
      sum(x.cast(dec)).as("sx"),
      sum(y.cast(dec)).as("sy"),
      sum((x.cast(dec) * x.cast(dec))).as("sxx"),
      sum((y.cast(dec) * y.cast(dec))).as("syy"),
      sum((x.cast(dec) * y.cast(dec))).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = nD * d("sxy") - d("sx") * d("sy")
    val varXN = nD * d("sxx") - d("sx") * d("sx")
    val varYN = nD * d("syy") - d("sy") * d("sy")
    val slope = covN / varXN
    grouped.select(groupCols ++ Seq(
      col("n"),
      when(varXN > 0, slope).as("slope"),
      when(varXN > 0, (d("sy") - slope * d("sx")) / nD).as("intercept"),
      when(varXN > 0 && varYN > 0, covN * covN / (varXN * varYN)).as("r2")): _*)
  }

  /** Per-group exact-moment statistics: (keyCol, n, mu, std) for every
    * group with POSITIVE variance — degenerate groups (zero or
    * cancellation-negative variance) are excluded, per the
    * [[momentStats]] guard rationale, so no consumer ever divides by a
    * zero/NaN std. Same exactness discipline as momentStats: Σx and Σx²
    * in DECIMAL(38,0) (order-independent), mean/std derived by a FIXED
    * IEEE double sequence — bit-identical in any engine.
    *
    * The static half of the anomaly screen: compute once over history,
    * broadcast against live rows ([[zOutliers]] batch,
    * [[graft.streaming.AnomalyScreen]] streaming). `vCol` must be an
    * integer-valued column (cents). */
  def groupStats(df: DataFrame, keyCol: String, vCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = col(vCol).cast(dec)
    val nD = col("__n").cast("double")
    val varN = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("__n"),
      sum(c).as("__sx"),
      sum(c * c).as("__sxx"))
      .filter(varN > 0)
      .select(col(keyCol), col("__n").as("n"),
        (col("__sx").cast("double") / nD).as("mu"),
        (sqrt(varN) / nD).as("std"))
  }

  /** Per-group z-score outlier screen: rows whose integer-valued column
    * deviates from their group's mean by more than `t` population standard
    * deviations. The feed-quality counterpart of [[medianMad]] — mean/std
    * answer "how extreme is THIS row", MAD answers "did the distribution
    * move". Stats via [[groupStats]] (exact moments, degenerate groups
    * never flagged); the flag decision — a strict `>` on a fixed-IEEE
    * derived double — is bit-identical in any engine. Plan: one
    * group-keyed partial agg + one equi-join of the row stream against
    * the |groups|-row stats (broadcast when small, shuffle-keyed
    * otherwise; never a window over the rows).
    *
    * `vCol` must be an integer-valued column (cents). Output: the input
    * columns plus `z` (the one reserved output name — an input already
    * carrying `z` is rejected; the stats columns are joined under
    * collision-proof `__`-prefixed internal names, so inputs may freely
    * carry `mu`/`std`/`n`). */
  def zOutliers(df: DataFrame, keyCol: String, vCol: String, t: Double)
      : DataFrame = {
    require(!df.columns.contains("z"),
      "zOutliers appends a `z` column; rename the input's existing `z` first")
    val stats = groupStats(df, keyCol, vCol).drop("n")
      .withColumnRenamed("mu", "__mu").withColumnRenamed("std", "__std")
    df.join(stats, Seq(keyCol))
      .withColumn("z", (col(vCol).cast("double") - col("__mu")) / col("__std"))
      .filter(abs(col("z")) > t)
      .drop("__mu", "__std")
  }

  /** Exact median + median absolute deviation (the robust outlier screen:
    * unlike mean/stddev, MAD doesn't move when a feed drops a handful of
    * garbage rows at 1e9×value) — in ONE pass of distributed order
    * statistics ([[OrderStats.withGlobalRank]]: range partition +
    * per-partition offsets, no single reducer, no full-column buffer).
    * Median is the value at rank r = ⌈n/2⌉ of the value order (ties make
    * the rank→value mapping deterministic without a tie-breaker column).
    *
    * MAD without a second range exchange: the k-th smallest deviation
    * |v−m| (k = r — same index) is the k smallest elements' maximum, and
    * the k values closest to the median always form a CONTIGUOUS rank
    * window containing rank r in the value order — so
    * MAD = min over i ∈ [r−k+1, r] of max(m − v(i), v(i+k−1) − m),
    * every term readable off the EXISTING ranks. (Windows not containing
    * r never win: shifting a one-sided window toward r cannot increase
    * its max deviation.) The pairing (v(i), v(i+k−1)) is one hash-keyed
    * self-pairing of the ~n/2 rank-window rows + a map-side-combined
    * global min — exact integers throughout, same value as ranking the
    * deviation multiset directly (the oracle's formulation). Net plan:
    * one range exchange + one window hash + one narrow keyed pairing —
    * versus the previous two full OrderStats passes (two range-sampling
    * scans, 4 full-data shuffles).
    *
    * `v` must be an integer column (cents). Output: one row
    * (n, median_c, mad_c) in the same integer units. */
  def medianMad(df: DataFrame, v: Column): DataFrame = {
    val cents = df.select(v.cast("long").as("__v"))
    // cached (round 16): the ranked frame feeds the median lookup and
    // both rank-window sides — three scans; exchange reuse shares the
    // range shuffle but re-ran the per-partition sort+window each time
    val ranked = CacheScope.track(
      OrderStats.withGlobalRank(cents, Seq(col("__v"))))
    val rk = expr("(n + 1) DIV 2") // r = k = median rank
    val med = ranked.filter(col("rn") === rk)
      .select(col("__v").as("median_c"), col("n"))
    // pair v(i) (ranks 1..k, window lows) with v(i+k−1) (ranks k..2k−1,
    // window highs) on the window index i; both sides are rank-filtered
    // BEFORE the exchange, so only ~n/2 narrow rows shuffle per side
    val lows = ranked.filter(col("rn") <= rk)
      .select(col("rn").as("i"), col("__v").as("lo"))
    val highs = ranked.filter(col("rn") >= rk && col("rn") <= rk * 2 - 1)
      .select((col("rn") - rk + 1).as("i"), col("__v").as("hi"))
    val mad = lows.join(highs, Seq("i"))
      .crossJoin(broadcast(med.select(col("median_c"))))
      .select(greatest(col("median_c") - col("lo"),
        col("hi") - col("median_c")).as("cand"))
      .agg(min(col("cand")).as("mad_c"))
    med.select(col("n"), col("median_c"))
      .crossJoin(broadcast(mad))
  }
}
