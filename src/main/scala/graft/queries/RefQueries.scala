package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Behavior

/** Reference-parity family (SURVEY §2.2-§2.7) over `events`: the
  * {service}_{dim} topic-grammar analytics the reference computes every
  * 60 s (`Raport.py:76-201`). */
object RefQueries extends QueryFamily {

  private def msgs(s: SparkSession, d: String): DataFrame =
    Behavior.fanoutMessages(Tables.events(s, d), Tables.customer(s, d))

  /** 30-min-gap session assignment at the shared µs grain (see the
    * ref_sessions note): events + (tus, session_id). Shared by
    * ref_sessions and ref_session_lift. */
  private def withSessionIds(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tus", expr("ts DIV 1000"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .drop("prev", "new_s")
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "ref_value_counts" -> ((s, d) =>
      Behavior.valueCounts(msgs(s, d)).orderBy(col("topic"), col("value"))),
    "ref_topic_totals" -> ((s, d) =>
      Behavior.topicTotals(msgs(s, d)).orderBy(col("topic"))),
    "ref_clicks_by_service" -> ((s, d) =>
      Behavior.clicksByService(msgs(s, d)).orderBy(col("service"))),
    "ref_distinct_services" -> ((s, d) =>
      Behavior.distinctServices(msgs(s, d)).orderBy(col("service"))),
    "ref_dim_breakdown" -> ((s, d) =>
      Behavior.dimBreakdown(msgs(s, d))
        .orderBy(col("service"), col("dim"), col("value"))),
    "ref_pct_share" -> ((s, d) =>
      Behavior.pctShare(msgs(s, d)).orderBy(col("service"))),
    "ref_top_services" -> ((s, d) =>
      Behavior.topServices(msgs(s, d), 5)),
    "ref_clicks_by_segment" -> ((s, d) =>
      Behavior.clicksBySegment(Tables.events(s, d), Tables.customer(s, d))
        .orderBy(col("service"), col("segment"))),
    "ref_observed_topics" -> ((s, d) =>
      Behavior.observedTopics(msgs(s, d)).orderBy(col("topic"))),
    // F5 — pie-slice label `f'{service} ({count})'` (`Raport.py:152`)
    // through the REAL report-table path (ReportSink.reportTables), so the
    // oracle checks the exact table the S8 sink writes every tick.
    "ref_labels" -> ((s, d) =>
      graft.streaming.ReportSink
        .reportTables(Behavior.valueCounts(msgs(s, d)))("clicks_by_service")
        .orderBy(col("service"))),

    // T4-extension (batch form): sessionization by 30-min inactivity gap.
    // Exact integer µs arithmetic (ts DIV 1000) — µs is the only grain
    // both engines share (DuckDB's reader floors TIMESTAMP_NANOS to µs,
    // Spark's nanosAsLong keeps true ns): ns-domain ordering or gap
    // compares would silently diverge on same-µs ties / sub-µs straddles
    // only Spark can see. The streaming form is
    // BehaviorStream.sessionCounts.
    "ref_sessions" -> ((s, d) => {
      withSessionIds(Tables.events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_session_events"))
        .orderBy(col("user_id"))
    }),

    // Behavior funnel: view → later click → later purchase, per user,
    // exact µs-timestamp ordering — the shared engine grain, see the
    // ref_sessions note — (a capability the reference's
    // Counter-per-topic model cannot express).
    "ref_funnel" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("tus"))
      val tv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_view"))
      val tc = e.filter(col("event_type") === "click")
        .join(tv, Seq("user_id")).filter(col("tus") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_click"))
      val tp = e.filter(col("event_type") === "purchase")
        .join(tc, Seq("user_id")).filter(col("tus") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_purchase"))
      // one declarative plan (1-row aggregates cross-joined), no
      // driver-side counting; explicit broadcast so the 1-row sides plan
      // as BroadcastNestedLoopJoin regardless of AQE heuristics (uniform
      // with every other 1-row crossJoin in the tree)
      e.agg(countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(tv.agg(count(lit(1)).as("n_viewed"))))
        .crossJoin(broadcast(tc.agg(count(lit(1)).as("n_view_click"))))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_full_funnel"))))
    }),

    // event-time AS-OF attribution: each purchase → the latest click by
    // the same user at-or-before it, within a 30-min window. ONE pass:
    // the last-click candidate is a running max of a (ts, event_id)
    // struct over a user-partitioned window (per-user parallel sorts,
    // keyed shuffle — no join, no per-purchase scan). The struct max is
    // lexicographic in both engines, so same-timestamp clicks break ties
    // identically (highest event_id wins). Timestamps are floored to
    // exact integer µs — the grain DuckDB's reader keeps: DuckDB 1.0.0
    // maps parquet TIMESTAMP_NANOS to TIMESTAMP (µs), FLOORING the
    // sub-µs digits (re-verified round 7: epoch_ns(ts) % 1000 = 0 for
    // every row while Spark's nanosAsLong keeps true ns) — so µs is the
    // only grain both engines share, and all cross-engine time
    // arithmetic here runs on ts DIV 1000. The stream-stream
    // form of this join (watermarked interval join) is StreamingSpec's
    // attribution law.
    "ref_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val windowUs = 1800L * 1000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastClick = max(when(col("event_type") === "click",
        struct(col("tus").as("cts"), col("event_id").as("cid")))).over(w)
      val attributed = col("lc").isNotNull &&
        col("tus") - col("lc.cts") <= lit(windowUs)
      Tables.events(s, d)
        .withColumn("tus", expr("ts DIV 1000"))
        .withColumn("lc", lastClick)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(attributed, col("lc.cid")).as("click_id"),
          when(attributed, col("tus") - col("lc.cts")).as("gap_us"))
        .orderBy(col("purchase_id"))
    }),

    // windowFunnel (the ClickHouse/Amplitude funnel primitive): per
    // user, the deepest prefix of view→click→purchase reachable with
    // STRICTLY increasing event times inside one 30-min window anchored
    // at the first step. Level-k existence via user-keyed equi-joins +
    // early DISTINCT collapse (the candidate fan-out is bounded by
    // per-user activity in the window — the same shape ClickHouse scans
    // per user, expressed relationally so Catalyst distributes it).
    "ref_window_funnel" -> ((s, d) => {
      val windowUs = 1800L * 1000000L
      val e = Tables.events(s, d).withColumn("tus", expr("ts DIV 1000"))
      def typed(t: String, as: String) =
        e.filter(col("event_type") === t)
          .select(col("user_id"), col("tus").as(as))
      val v = typed("view", "vt")
      val c = typed("click", "ct")
      val p = typed("purchase", "pt")
      val users = e.select(col("user_id")).distinct()
      val l1 = v.select(col("user_id")).distinct().withColumn("l1", lit(1))
      val vc = v.join(c, Seq("user_id"))
        .filter(col("ct") > col("vt") && col("ct") - col("vt") <= windowUs)
      val l2 = vc.select(col("user_id")).distinct().withColumn("l2", lit(1))
      val l3 = vc.join(p, Seq("user_id"))
        .filter(col("pt") > col("ct") && col("pt") - col("vt") <= windowUs)
        .select(col("user_id")).distinct().withColumn("l3", lit(1))
      users.join(l1, Seq("user_id"), "left")
        .join(l2, Seq("user_id"), "left")
        .join(l3, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("l3").isNotNull, 3)
            .when(col("l2").isNotNull, 2)
            .when(col("l1").isNotNull, 1)
            .otherwise(0).as("funnel_level"))
        .orderBy(col("user_id"))
    }),

    // Lorenz/Pareto concentration: rank users by activity (desc), cut
    // into deciles by the explicit (10·(rn−1)) DIV n + 1 rule (the
    // rel_rfm quintile arithmetic), report per-decile event mass and
    // EXACT cumulative shares — "which 10% of users generate what share
    // of traffic". Ranks via the range-partitioned global rank; the one
    // unpartitioned window runs over the 10-row decile frame.
    "ref_lorenz" -> ((s, d) => {
      import graft.operators.OrderStats
      import org.apache.spark.sql.expressions.Window
      val perUser = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val ranked = OrderStats.withGlobalRank(perUser,
        Seq(col("n_events").desc, col("user_id")), "__rn", "__n")
        .withColumn("decile",
          (expr("(10 * (__rn - 1)) DIV __n") + 1).cast("int"))
      val byDecile = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byDecile
        .withColumn("cum_events", sum(col("n_events")).over(wCum))
        .withColumn("__total", sum(col("n_events")).over(wAll))
        .select(col("decile"), col("n_users"), col("n_events"),
          col("cum_events"),
          (col("n_events").cast("double") / col("__total").cast("double"))
            .as("share"),
          (col("cum_events").cast("double") / col("__total").cast("double"))
            .as("cum_share"))
        .orderBy(col("decile"))
    }),

    // multi-touch LINEAR attribution — the fractional-credit sibling of
    // ref_attribution's last-touch: every click in the 30-min window
    // before a purchase shares the credit equally, in EXACT integer
    // micros (1e6 DIV k each; the remainder goes to the most recent
    // touch so every purchase's credit sums to exactly 1,000,000 — no
    // float shares to disagree on). Per-user equi-join + window filter
    // (touch fan-out bounded by clicks-per-user-window); two
    // purchase-keyed windows over the bounded touch set.
    "ref_attribution_linear" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val windowUs = 1800L * 1000000L
      val ev = Tables.events(s, d).withColumn("tus", expr("ts DIV 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("tus").as("ptus"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("tus").as("ctus"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter(col("ctus") <= col("ptus") &&
          col("ptus") - col("ctus") <= windowUs)
      val wk = Window.partitionBy(col("purchase_id"))
      val wr = Window.partitionBy(col("purchase_id"))
        .orderBy(col("ctus").desc, col("click_id").desc)
      touches
        .withColumn("k", count(lit(1)).over(wk))
        .withColumn("recency_rank", row_number().over(wr))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          col("recency_rank"),
          (expr("1000000 DIV k") +
            when(col("recency_rank") === 1, expr("1000000 % k"))
              .otherwise(0L)).as("credit_micros"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // Gini–Simpson diversity of each user's event-type mix (Simpson
    // 1949) — "how specialized is this user", the bot/scraper screen
    // complementary to ref_type_concentration's volume view. Shannon
    // entropy needs ln (not bit-portable across math libraries — see
    // TextOps.tfIdf note), so the registry's diversity measure is the
    // quadratic one, EXACT in integer ppm: D = 1e6·Σnᵢ(nᵢ−1) DIV
    // (N(N−1)) is the interspecific-encounter probability's complement
    // numerator — all BIGINT, bit-equal engines. One keyed agg to the
    // (user, type) spine, one to the user; histogram of diversity ppm
    // deciles keeps the output bounded.
    "ref_simpson_diversity" -> ((s, d) => {
      val byType = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
      byType.groupBy(col("user_id"))
        .agg(sum(col("ni")).as("n"),
          sum(col("ni") * (col("ni") - 1)).as("same_pairs"))
        .filter(col("n") > 1)
        .select(col("user_id"),
          expr("1000000 * same_pairs DIV (n * (n - 1))").as("simpson_ppm"))
        .groupBy(expr("simpson_ppm DIV 100000").cast("int").as("decile"))
        .agg(count(lit(1)).as("n_users"),
          min(col("simpson_ppm")).as("min_ppm"),
          max(col("simpson_ppm")).as("max_ppm"))
        .orderBy(col("decile"))
    }),

    // isotonic regression of the daily purchase rate (PAV fit — the
    // standard classifier-calibration primitive, Ayer et al. 1955; every
    // quality-score calibration in a training-data pipeline runs this):
    // computed by the closed max–min formula fitted(i) = max_{j≤i}
    // min_{k≥i} rate(j..k) rather than the sequential pool-adjacent
    // stack, because the formula is PURE joins/aggregates over the
    // CALENDAR-bounded daily frame (intervals = days², candidate triples
    // = days³ at worst — bounded by time, never events). Interval rates
    // are exact-integer sums divided ONCE (IEEE ÷ identical engines);
    // min/max over doubles is order-independent, so the whole fit is
    // bit-deterministic with no transcendental in sight. The events
    // table is touched once by the keyed daily agg; the cumulative
    // window runs over the bounded daily frame.
    "ref_isotonic_rate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(date_format(Tables.eventTime(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
      // unpartitioned cumulative window: safe — the frame is the daily
      // aggregate (calendar-bounded rows)
      val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      val pre = daily.select(col("day"), col("n"), col("k"),
        (sum(col("n")).over(w) - col("n")).as("pn"),
        (sum(col("k")).over(w) - col("k")).as("pk"),
        sum(col("n")).over(w).as("cn"),
        sum(col("k")).over(w).as("ck"))
      val intervals = pre.as("a").join(pre.as("b"), col("a.day") <= col("b.day"))
        .select(col("a.day").as("j"), col("b.day").as("kday"),
          ((col("b.ck") - col("a.pk")).cast("double") /
            (col("b.cn") - col("a.pn")).cast("double")).as("rate"))
      val fitted = pre.select(col("day"))
        .join(intervals,
          col("j") <= col("day") && col("day") <= col("kday"))
        .groupBy(col("day"), col("j")).agg(min(col("rate")).as("mnr"))
        .groupBy(col("day")).agg(max(col("mnr")).as("fitted_rate"))
      daily.join(fitted, Seq("day"))
        .select(col("day"), col("n"), col("k"),
          (col("k").cast("double") / col("n").cast("double")).as("raw_rate"),
          col("fitted_rate"))
        .orderBy(col("day"))
    }),

    // Mann–Kendall trend test + Sen's slope (Mann 1945, Kendall 1975,
    // Sen 1968) — the standard nonparametric "is traffic trending"
    // monitor, built cross-engine-exact: S = Σ sign(cⱼ−cᵢ) over day
    // pairs and the tie-corrected variance numerator 18·Var(S) =
    // n(n−1)(2n+5) − Σₜ t(t−1)(2t+5) are EXACT integers; z applies the
    // ±1 continuity correction in one fixed IEEE sequence (÷ and √ are
    // correctly rounded — deterministic); Sen's slope is the LOWER
    // median of floor((Δcnt·1e6)/Δdays) — floored integer micros, so
    // the median picks from a deterministic integer multiset (the
    // registry's bucketed-determinism convention for cross-engine
    // medians). Scale: pairs come from the DAILY aggregate self-join —
    // calendar² rows per type, never events²; the collected slope list
    // is likewise calendar-bounded.
    "ref_trend_mk" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_format(Tables.eventTime(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          when(col("b.cnt") > col("a.cnt"), 1L)
            .when(col("b.cnt") < col("a.cnt"), -1L).otherwise(0L).as("sgn"),
          floor((col("b.cnt") - col("a.cnt")).cast("double") * lit(1000000.0) /
            datediff(to_date(col("b.day")), to_date(col("a.day"))).cast("double"))
            .cast("long").as("slope_micros"))
      val ss = pairs.groupBy(col("event_type"))
        .agg(sum(col("sgn")).as("s_stat"),
          sort_array(collect_list(col("slope_micros"))).as("sl"))
        .select(col("event_type"), col("s_stat"),
          element_at(col("sl"), ((size(col("sl")) + 1) / 2).cast("int"))
            .as("sen_slope_micros"))
      val ties = daily.groupBy(col("event_type"), col("cnt"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t")).as("n_days"),
          sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
        .select(col("event_type"), col("n_days"),
          (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
            - col("tie_term")).as("var_num18"))
      ss.join(ties, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var_num18"),
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") /
              sqrt(col("var_num18").cast("double") / lit(18.0)))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") /
                sqrt(col("var_num18").cast("double") / lit(18.0)))
            .otherwise(lit(0.0)).as("z"),
          col("sen_slope_micros"))
        .orderBy(col("event_type"))
    }),

    // multi-touch TIME-DECAY attribution — the third classic credit
    // model beside last-touch (ref_attribution) and linear
    // (ref_attribution_linear): recent touches earn exponentially more,
    // discretized so the arithmetic stays EXACT integer: weight =
    // 2^(3 − age DIV 10min) ∈ {8,4,2,1} over the 30-min window (halving
    // per 10-min bucket), credit_micros = (1e6·w) DIV Σw with the
    // flooring remainder assigned to the most recent touch — every
    // purchase's credit sums to exactly 1,000,000, bit-equal across
    // engines (no float decay factors to disagree on). Same bounded
    // per-purchase windows as the linear model.
    "ref_attribution_decay" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val windowUs = 1800L * 1000000L
      val ev = Tables.events(s, d).withColumn("tus", expr("ts DIV 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("tus").as("ptus"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("tus").as("ctus"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter(col("ctus") <= col("ptus") &&
          col("ptus") - col("ctus") <= windowUs)
        .withColumn("w", expr(
          "CAST(shiftleft(1, CAST(3 - (ptus - ctus) DIV 600000000 AS INT)) AS BIGINT)"))
      val wk = Window.partitionBy(col("purchase_id"))
      val wr = Window.partitionBy(col("purchase_id"))
        .orderBy(col("ctus").desc, col("click_id").desc)
      touches
        .withColumn("sw", sum(col("w")).over(wk))
        .withColumn("floor_credit", expr("(1000000 * w) DIV sw"))
        .withColumn("rem", lit(1000000L) - sum(col("floor_credit")).over(wk))
        .withColumn("recency_rank", row_number().over(wr))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          col("recency_rank"), col("w").as("weight"),
          (col("floor_credit") +
            when(col("recency_rank") === 1, col("rem")).otherwise(0L))
            .as("credit_micros"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // weekly cohort retention: cohort = a user's first active week,
    // matrix cell (cohort, offset) = users from that cohort active
    // `offset` weeks later. Exact integer week arithmetic on the raw ns
    // long (epochs positive, so truncation == floor in both engines).
    // Plan: distinct (user, week) → per-user min → equi-join back on
    // user → one matrix agg. The matrix count needs no DISTINCT (no
    // Expand): (user, week) rows are already unique and a user has
    // exactly one cohort, so count(*) IS the distinct user count.
    "ref_retention_cohorts" -> ((s, d) => {
      // integer DIV, not `/`: ts (~1.7e18 ns) exceeds 2^53, so a double
      // quotient would round before the truncation
      val e = Tables.events(s, d)
        .select(col("user_id"), expr("ts DIV 604800000000000").as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // the standard retention-matrix shape analysts read: the cohort
    // matrix normalized by cohort size (= the offset-0 cell — every user
    // is active in their own first week by construction). One broadcast
    // self-join of the tiny |cohorts|-row offset-0 slice back onto the
    // matrix; retention is one fixed double division of exact longs.
    "ref_retention_rates" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), expr("ts DIV 604800000000000").as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val matrix = e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
      val sizes = matrix.filter(col("week_offset") === 0)
        .select(col("cohort_wk"), col("n_users").as("cohort_size"))
      matrix.join(broadcast(sizes), Seq("cohort_wk"))
        .select(col("cohort_wk"), col("week_offset"), col("n_users"),
          col("cohort_size"),
          (col("n_users").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // first-order Markov model of the event stream: per-user transition
    // (previous event type → event type) counts and row-normalized
    // probabilities. Order is exact (µs, event_id) — the shared engine
    // grain (see ref_sessions note), engine-identical tie-break. The
    // probability is one double division of exact longs; its denominator
    // window runs over the GROUPED 5×5 transition matrix (bounded
    // domain), not the event stream.
    "ref_markov_transitions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts DIV 1000"), col("event_id"))
      val counts = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wTot = Window.partitionBy(col("prev_type"))
      counts
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(wTot).cast("double"))
        .orderBy(col("prev_type"), col("event_type"))
    }),

    // engagement stickiness: per week, distinct weekly actives (WAU),
    // mean daily actives (avg DAU over days with any activity), and the
    // DAU/WAU ratio. Two distinct-projections (user×day, user×week) +
    // tiny keyed aggs; both ratios are fixed double divisions of exact
    // longs.
    "ref_dau_stickiness" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud.select(col("user_id"), expr("day DIV 7").as("wk"))
        .distinct()
        .groupBy(col("wk")).agg(count(lit(1)).as("wau"))
      val avgDau = col("sum_dau").cast("double") / col("n_days").cast("double")
      dau.groupBy(expr("day DIV 7").as("wk"))
        .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
        .join(wau, Seq("wk"))
        .select(col("wk"), col("n_days"), col("wau"), col("sum_dau"),
          avgDau.as("avg_dau"),
          (avgDau / col("wau").cast("double")).as("stickiness"))
        .orderBy(col("wk"))
    }),

    // dwell time: gap to the user's NEXT event (µs grain), averaged per
    // event type — "how long does each page hold a user". One keyed
    // window (lead) + a tiny hash agg; the mean is one fixed double
    // division of exact integer sums.
    "ref_dwell_time" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      Tables.events(s, d)
        .withColumn("tus", expr("ts DIV 1000"))
        .withColumn("nxt", lead(col("tus"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type"), (col("nxt") - col("tus")).as("dwell_us"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("dwell_us")).as("sum_dwell_us"))
        .select(col("event_type"), col("n"), col("sum_dwell_us"),
          (col("sum_dwell_us").cast("double") / col("n").cast("double"))
            .as("mean_dwell_us"))
        .orderBy(col("event_type"))
    }),

    // bounce rate: share of 30-min sessions containing exactly one
    // event — the classic engagement metric, riding the shared session
    // window. Exact counts + one fixed division.
    "ref_bounce_rate" -> ((s, d) =>
      withSessionIds(Tables.events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_ev"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounces"))
        .select(col("n_sessions"), col("n_bounces"),
          (col("n_bounces").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"))),

    // entry/exit analysis: which event type OPENS and which CLOSES each
    // session — landing/abandonment view. Two keyed session windows
    // (forward and backward row_number over the unique (µs, event_id)
    // order), per-type counts, full outer join so a type that only
    // enters or only exits still reports.
    "ref_entry_exit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sess = withSessionIds(Tables.events(s, d))
      val wf = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("tus"), col("event_id"))
      val wb = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("tus").desc, col("event_id").desc)
      val r = sess.withColumn("rfw", row_number().over(wf))
        .withColumn("rbw", row_number().over(wb))
      val en = r.filter(col("rfw") === 1).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_entry"))
      val ex = r.filter(col("rbw") === 1).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exit"))
      en.join(ex, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_entry"), lit(0L)).as("n_entry"),
          coalesce(col("n_exit"), lit(0L)).as("n_exit"))
        .orderBy(col("event_type"))
    }),

    // association mining over sessions (market-basket lift on the
    // engine's own domain): for every event-type pair, the number of
    // sessions containing BOTH, support, and lift
    // P(ab)/(P(a)·P(b)). Cardinalities are exact session counts; the
    // two ratios are fixed double expressions. Plan: the session window
    // (per-user keyed), one distinct projection at (user, session,
    // type), a self equi-join keyed on the session — never all-pairs of
    // events — and aggregates over the |types|²-bounded matrix.
    "ref_session_lift" -> ((s, d) => {
      // cached (round 16): `st` is scanned four times (session count,
      // per-type counts, both self-join sides) and each uncached scan
      // re-ran the session window over the full event table
      val st = graft.operators.CacheScope.track(
        withSessionIds(Tables.events(s, d))
          .select(col("user_id"), col("session_id"), col("event_type"))
          .distinct())
      val nSess = st.select(col("user_id"), col("session_id")).distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val sg = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_with"))
      val pairs = st.select(col("user_id"), col("session_id"),
          col("event_type").as("type_a"))
        .join(st.select(col("user_id"), col("session_id"),
          col("event_type").as("type_b")), Seq("user_id", "session_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      def d2(c: Column): Column = c.cast("double")
      pairs
        .join(broadcast(sg.select(col("event_type").as("type_a"),
          col("n_with").as("n_a"))), Seq("type_a"))
        .join(broadcast(sg.select(col("event_type").as("type_b"),
          col("n_with").as("n_b"))), Seq("type_b"))
        .crossJoin(broadcast(nSess))
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"), col("n_sessions"),
          (d2(col("n_both")) / d2(col("n_sessions"))).as("support"),
          (d2(col("n_both")) * d2(col("n_sessions")) /
            (d2(col("n_a")) * d2(col("n_b")))).as("lift"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // funnel latency: per converting user, the gap between their first
    // view and the first purchase AFTER it; distribution summarized by
    // the robust median/MAD pair (Profile.medianMad — two distributed
    // order-statistics passes, no single reducer). All arithmetic at the
    // shared µs grain (ts DIV 1000 BEFORE subtracting): subtracting raw
    // ns first and flooring after disagrees with the oracle by 1 µs
    // whenever the two sub-µs remainders straddle — caught live on this
    // fixture (77/150 users off by one).
    "ref_conversion_lag" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("tus"))
      val tv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_view"))
      val tp = e.filter(col("event_type") === "purchase")
        .join(tv, Seq("user_id")).filter(col("tus") > col("t_view"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("tus")).as("t_purchase"))
      val gaps = tp.select((col("t_purchase") - col("t_view")).as("gap_us"))
      graft.operators.Profile.medianMad(gaps, col("gap_us"))
        .select(col("n"), col("median_c").as("median_gap_us"),
          col("mad_c").as("mad_gap_us"))
    }),

    // per-user spend-anomaly screen: events whose value is more than 3
    // population-σ from that user's own mean (Profile.zOutliers: exact
    // decimal moments, fixed-IEEE z, degenerate users never flagged).
    "ref_value_outliers" -> ((s, d) =>
      graft.operators.Profile.zOutliers(
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            QueryFamily.cents(col("value")).as("c")),
        "user_id", "c", 3.0)
        .select(col("event_id"), col("user_id"),
          QueryFamily.dollars(col("c")).as("value"), col("z"))
        .orderBy(col("event_id"))),

    // navigation path mining: every ordered 3-step event-type path a user
    // walks (two keyed leads over the shared (µs, event_id) grain), counted
    // corpus-wide and ranked most-walked-first. The grouped agg's output
    // domain is bounded at |event_types|³ rows, so the final sort never
    // sees the event stream's cardinality; the windows are per-user keyed.
    "ref_path_trigrams" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts DIV 1000"), col("event_id"))
      Tables.events(s, d)
        .withColumn("step2", lead(col("event_type"), 1).over(w))
        .withColumn("step3", lead(col("event_type"), 2).over(w))
        .filter(col("step3").isNotNull)
        .select(col("event_type").as("step1"), col("step2"), col("step3"))
        .groupBy(col("step1"), col("step2"), col("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
    }),

    // arrival-cadence profile: discrete p50/p90 of the per-user gap between
    // consecutive events of the SAME type, computed from the (type, gap)
    // value histogram — the grouped-quantile pattern that scales when the
    // value domain compresses: the cumulative window runs over DISTINCT gap
    // values per type, never the event stream (contrast OrderStats, which
    // range-partitions when the domain doesn't compress). Rank semantics
    // are explicit — smallest value whose cumulative count reaches
    // ceil(p·N), with p·N evaluated in IEEE double on both engines — so
    // nothing hinges on either engine's percentile_disc interpretation.
    "ref_gap_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("tus"), col("event_id"))
      val gaps = Tables.events(s, d)
        .withColumn("tus", expr("ts DIV 1000"))
        .withColumn("nxt", lead(col("tus"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type"), (col("nxt") - col("tus")).as("gap_us"))
      val hist = gaps.groupBy(col("event_type"), col("gap_us"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("gap_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("event_type"))
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n_gaps", sum(col("cnt")).over(wt))
      def q(p: Double) =
        min(when(col("cum") >= ceil(lit(p) * col("n_gaps")), col("gap_us")))
      cum.groupBy(col("event_type"))
        .agg(max(col("n_gaps")).as("n_gaps"),
          q(0.5).as("p50_us"), q(0.9).as("p90_us"),
          max(col("gap_us")).as("max_us"))
        .orderBy(col("event_type"))
    }),

    // next-event prediction eval — the train/score split harness (the
    // txt_kn_screen discipline, applied to the Markov model): transition
    // counts TRAIN on the first half of the calendar, the argmax-next
    // predictor is scored on the second half. Split day = integer
    // midpoint of the observed day span (data-derived, exact); a lag
    // pair belongs to its LATER event's day, so boundary-spanning pairs
    // score rather than leak into training. Argmax tie-breaks to the
    // smallest type (MIN(struct(-cnt, type)) — the LPA convention);
    // accuracy is exact counts + one division. Plan: the lag window is
    // the markov extraction; everything after runs on |types|²-bounded
    // frames.
    "ref_markov_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts DIV 1000"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("day", expr("ts DIV 86400000000000"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"), col("day"))
      val split = pairs.agg(
        expr("(min(day) + max(day) + 1) DIV 2").as("split_day"))
      val tagged = pairs.crossJoin(broadcast(split))
      val model = tagged.filter(col("day") < col("split_day"))
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("prev_type"))
        .agg(min(struct((-col("cnt")).as("nc"), col("next_type").as("t")))
          .as("best"))
        .select(col("prev_type"), col("best").getField("t").as("predicted"))
      tagged.filter(col("day") >= col("split_day"))
        .join(broadcast(model), Seq("prev_type"), "left")
        .groupBy(col("prev_type"))
        .agg(count(lit(1)).as("n_test"),
          max(col("predicted")).as("predicted"),
          sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("prev_type"), col("predicted"), col("n_test"),
          col("n_correct"),
          expr("CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE)").as("acc"))
        .orderBy(col("prev_type"))
    }),

    // burstiness screen: Fano factor (variance-to-mean ratio) of each
    // type's daily volume — the index-of-dispersion that separates
    // Poisson-like arrivals (F≈1) from bursty campaign/incident traffic
    // (F≫1) and metronomic bots (F≪1). Moments are EXACT BIGINTs over
    // the calendar-bounded daily table; var/mean/Fano are a fixed IEEE
    // sequence ((n·Σx²−(Σx)²)/n² then ÷ mean) replicated textually.
    "ref_fano_burstiness" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("s"),
          sum(col("cnt") * col("cnt")).as("ss"))
        .select(col("event_type"), col("n_days"),
          expr("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)").as("mean_daily"),
          expr("(CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))")
            .as("var_daily"),
          expr("(CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)) / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))")
            .as("fano"))
        .orderBy(col("event_type"))),

    // WEIGHTED PageRank over the event-type transition graph — "which
    // page class accumulates navigation mass": the markov-transition
    // counts (per-user lag pairs at the shared µs grain) feed
    // Graph.weightedPageRank — integer fixed-point, damping 85/100,
    // 5 fixed iterations, mass per edge ∝ transition count. The node
    // domain is |event types| (bounded), so every per-iteration join
    // broadcasts; the one data-sized pass is the lag/count extraction
    // the markov query already registers. Bit-checkable: all-integer,
    // unrolled in the oracle.
    "ref_weighted_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts DIV 1000"), col("event_id"))
      val edges = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graph.weightedPageRank(edges, iters = 5)
        .select(col("id").as("event_type"), col("wout"), col("score"))
        .orderBy(col("score").desc, col("event_type"))
    }),

    // two-proportion z-test (pooled) — the A/B significance workhorse:
    // does the purchase share of events differ between arms? (User-grain
    // conversion is degenerate on this fixture — every user converts,
    // p̂=1 both arms, the pooled variance is exactly 0 — so the test
    // runs at event grain, where the proportion is informative.) Arm
    // assignment is the deterministic user_id parity (in production the
    // arm comes from an assignment table — the statistic is what's
    // under test). All inputs are exact integer counts off one keyed
    // agg; p̂ₐ, p̂ᵦ, pooled p̂ and z are ONE fixed IEEE sequence written
    // identically in the oracle, and the degenerate all/none-success
    // corner NULLs z on BOTH sides (ANSI Spark would throw on /0, IEEE
    // DuckDB would emit ±inf — the guard makes them agree).
    "ref_ab_ztest" -> ((s, d) =>
      Tables.events(s, d)
        .select((col("user_id") % 2).as("arm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("succ"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("succ")).as("x"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n_a"),
          max(when(col("arm") === 0, col("x"))).as("x_a"),
          max(when(col("arm") === 1, col("n"))).as("n_b"),
          max(when(col("arm") === 1, col("x"))).as("x_b"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          expr("CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)").as("p_a"),
          expr("CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)").as("p_b"),
          expr("""CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END""")
            .as("z"))),

    // Welch's unequal-variance t-test (Welch 1947) — the MEANS sibling
    // of ref_ab_ztest's proportion z: mean event value between the same
    // user-parity arms. Everything derives from SIX exact integers (per
    // arm: n, Σcents, Σcents² in DECIMAL(38,0) — order-independent), and
    // the t statistic + Welch–Satterthwaite df are ONE fixed IEEE
    // sequence on them, replicated textually in the oracle. Degenerate
    // zero-variance/singleton arms NULL identically on both engines.
    // Plan: one arm-keyed agg with map-side partials; nothing else
    // touches the stream. DECIMAL lift: Σcents² stays exact to ~1e25.
    "ref_welch_ttest" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val v = QueryFamily.cents(col("value")).cast(dec)
      Tables.events(s, d)
        .select((col("user_id") % 2).as("arm"), v.as("v"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("v") * col("v")).as("sxx"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n_a"),
          max(when(col("arm") === 0, col("sx"))).as("sx_a"),
          max(when(col("arm") === 0, col("sxx"))).as("sxx_a"),
          max(when(col("arm") === 1, col("n"))).as("n_b"),
          max(when(col("arm") === 1, col("sx"))).as("sx_b"),
          max(when(col("arm") === 1, col("sxx"))).as("sxx_b"))
        .withColumn("mean_a", expr("CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)"))
        .withColumn("mean_b", expr("CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)"))
        .withColumn("var_a", expr(
          "(CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))"))
        .withColumn("var_b", expr(
          "(CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))"))
        .withColumn("se2", expr(
          "var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)"))
        .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          expr("CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN (mean_a - mean_b) / sqrt(se2) END")
            .as("t_welch"),
          expr("CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN se2 * se2 / ((var_a / CAST(n_a AS DOUBLE)) * (var_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) + (var_b / CAST(n_b AS DOUBLE)) * (var_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)) END")
            .as("df_welch"))
    }),

    // behavioral-diversity screen: per-user Gini impurity of the
    // event-type mix, 1 − Σ pᵢ² — the ENTROPY stand-in that stays in
    // exact arithmetic (Shannon entropy needs ln, which is not
    // bit-portable across math libraries; Gini impurity is the standard
    // decision-tree substitute measuring the same concentration).
    // Surfaced in exact integer ppm: 1e6 − Σcnt²·1e6 DIV n² — a user
    // pinned to one event type scores 0, a uniform 5-type user scores
    // 800000. Plan: one (user, type) keyed count agg + one user-keyed
    // rollup — both map-side partial; nothing else touches the stream.
    "ref_user_gini" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(sum(col("cnt")).as("n_events"), count(lit(1)).as("n_types"),
          sum(col("cnt") * col("cnt")).as("sum_sq"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          expr("1000000 - sum_sq * 1000000 DIV (n_events * n_events)")
            .as("gini_ppm"))
        .orderBy(col("user_id"))),

    // source-concentration audit (bot/power-user screen): what share of
    // each event type's volume comes from its top-10 users? The CR-k
    // concentration ratio, surfaced in exact integer ppm
    // (top10·1e6 DIV total) so the oracle compare is bit-exact. Rank ties
    // break on (cnt DESC, user_id ASC) — fully deterministic. Plan: the
    // fact table collapses FIRST to the distinct (type, user) count spine
    // (one keyed agg, map-side partial), so the row_number window sorts
    // only that spine — #active pairs, not #events; at extreme user
    // cardinality the bounded-heap Aggregator pattern (functions/TopK
    // .scala) is the drop-in replacement for the window.
    "ref_type_concentration" -> ((s, d) => {
      val cnt = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val ranked = cnt.withColumn("rk",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("cnt").desc, col("user_id"))))
      ranked.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_events"), count(lit(1)).as("n_users"),
          sum(when(col("rk") <= 10, col("cnt")).otherwise(lit(0L)))
            .as("top10_events"))
        .select(col("event_type"), col("n_events"), col("n_users"),
          col("top10_events"),
          expr("top10_events * 1000000 DIV n_events").as("cr10_ppm"))
        .orderBy(col("event_type"))
    }),

    // Pearson χ² test of independence (event type × day-of-week) — the
    // A/B-era contingency workhorse: does behavior mix shift by weekday?
    // Exactness: each cell's (O−E)²/E is algebraically rearranged to
    // (O·T − R·C)² / (T·R·C) — numerator and denominator EXACT BIGINTs
    // (row/col/grand totals are counts), ONE IEEE division per cell, so
    // no float expected-value propagates; E itself is surfaced in exact
    // integer millis (R·C·1000 DIV T). The χ² total folds the bounded
    // cell grid in (type, dow) order — bit-replicable. BIGINT bound:
    // |O·T−R·C| ≤ O·T ~ 9.2e18 caps the fixture at ~3e9 events/cell ×
    // grand totals — the DECIMAL(38,0)/HUGEINT lift is the documented
    // 100 TB path. Plan: one narrow projection + a |types|×7-bounded
    // hash agg; everything after runs on the tiny grid.
    "ref_chisq_type_dow" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts DIV 86400000000000) % 7").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val cols = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
      val tot = cells.agg(sum(col("o")).as("t"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"))
      val scored = cells.join(broadcast(rows), Seq("event_type"))
        .join(broadcast(cols), Seq("dow")).crossJoin(broadcast(tot))
        .withColumn("e_milli", expr("r * c * 1000 DIV t"))
        .withColumn("chi_cell",
          expr("CAST((o * t - r * c) * (o * t - r * c) AS DOUBLE) / CAST(t * r * c AS DOUBLE)"))
      val total = scored
        .select(struct(col("event_type"), col("dow"), col("chi_cell")).as("cc"),
          col("n_types"), col("n_dows"))
        .groupBy(col("n_types"), col("n_dows"))
        .agg(aggregate(
          transform(array_sort(collect_list(col("cc"))), x => x.getField("chi_cell")),
          lit(0.0), (acc, x) => acc + x).as("chi2"))
        .select(col("chi2"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"))
      scored.crossJoin(broadcast(total))
        .select(col("event_type"), col("dow"), col("o"), col("e_milli"),
          col("chi_cell"), col("chi2"), col("dof"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // HITS hubs & authorities (Kleinberg, JACM 1999) on the user ↔
    // event-type bipartite graph — the mutual-reinforcement centrality:
    // an event type is authoritative when engaged by high-hub users, a
    // user is a hub when engaging authoritative types. Two unnormalized
    // iterations from hub⁰ ≡ 1 (normalization only rescales — the
    // RANKING is what HITS delivers, and the unnormalized scores are
    // path counts: auth¹ = degree, hub¹ = Σ incident auth¹, auth² =
    // Σ incident hub¹ — so the usually-float-fuzzy power iteration is
    // EXACT BIGINT arithmetic here, bit-checkable). Plan shape at
    // scale: the distinct edge list (one DISTINCT over the stream),
    // then each half-iteration is one keyed agg + one equi-join where
    // the type-side table is |types|-bounded and broadcast — the
    // user-side (big) relation shuffles once per iteration on its own
    // key, the standard distributed power-iteration layout.
    "ref_hits" -> ((s, d) => {
      val edges = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val auth1 = edges.groupBy(col("event_type"))
        .agg(count(lit(1)).as("auth1"))
      val hub1 = edges.join(broadcast(auth1), Seq("event_type"))
        .groupBy(col("user_id")).agg(sum(col("auth1")).as("hub1"))
      edges.join(hub1, Seq("user_id"))
        .groupBy(col("event_type")).agg(sum(col("hub1")).as("auth2"))
        .join(broadcast(auth1), Seq("event_type"))
        .select(col("event_type"), col("auth1"), col("auth2"))
        .orderBy(col("event_type"))
    }),

    // CUSUM changepoint screen (Page 1954) on the daily event volume —
    // the classic sequential shift detector: S⁺ₜ = max(0, S⁺ₜ₋₁ + xₜ − k)
    // accumulates upward drift from the reference level k (and S⁻ the
    // mirror), resetting whenever the series returns to target — a level
    // shift shows as a CUSUM ramp long before any single day trips a
    // threshold. k = corpus mean daily count in EXACT integer floor
    // (sum DIV n_days), so the whole recursion is integer arithmetic —
    // bit-exact, no float-fold hazard at all. The recursion is inherently
    // sequential, but its domain is the DAILY table — calendar-bounded
    // (~365 rows/year at ANY data scale), so the per-row prefix fold over
    // the collected day array costs O(days²) on a tiny frame while the
    // event stream itself is touched exactly once by the keyed count agg.
    "ref_cusum_shift" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tgt = daily.agg(expr("sum(cnt) DIV count(1)").as("k"))
      val arr = daily.select(struct(col("day"), col("cnt")).as("dc"))
        .agg(array_sort(collect_list(col("dc"))).as("arr"))
      def cusum(step: (Column, Column) => Column) =
        aggregate(filter(col("arr"), x => x.getField("day") <= col("day")),
          lit(0L), (acc, x) => greatest(lit(0L), step(acc, x.getField("cnt"))))
      daily.crossJoin(broadcast(tgt)).crossJoin(broadcast(arr))
        .select(col("day"), col("cnt"), (col("cnt") - col("k")).as("dev"),
          cusum((acc, c) => acc + c - col("k")).as("cusum_pos"),
          cusum((acc, c) => acc + col("k") - c).as("cusum_neg"))
        .orderBy(col("day"))
    }),
  )

  /** The fan-out (`serwer.js:100-118`) as a DuckDB CTE: one wide event row →
    * 4 value-only topic messages (reference parity: one per user attribute
    * plus the click counter), `home` dropped producer-side (P2). */
  private val msgsCte =
    """WITH msgs AS (
      |  SELECT event_type || '_k' AS topic, json_extract_string(props, '$.k') AS value FROM events WHERE event_type <> 'home'
      |  UNION ALL
      |  SELECT event_type || '_user' AS topic, CAST(user_id AS VARCHAR) AS value FROM events WHERE event_type <> 'home'
      |  UNION ALL
      |  SELECT event_type || '_segment' AS topic, COALESCE(c_mktsegment, 'unknown') AS value
      |  FROM events LEFT JOIN customer ON user_id = c_custkey WHERE event_type <> 'home'
      |  UNION ALL
      |  SELECT event_type || '_clicks' AS topic, '1' AS value FROM events WHERE event_type <> 'home'
      |)""".stripMargin

  private val svcExpr =
    "regexp_replace(topic, '_(k|user|segment|nation|clicks)$', '')"
  private val dimExpr =
    "regexp_extract(topic, '_(k|user|segment|nation|clicks)$', 1)"

  val oracles: ListMap[String, String] = ListMap(
    "ref_value_counts" ->
      s"""$msgsCte SELECT topic, value, COUNT(*) AS cnt FROM msgs GROUP BY topic, value ORDER BY topic, value""",
    "ref_topic_totals" ->
      s"""$msgsCte SELECT topic, COUNT(*) AS total FROM msgs GROUP BY topic ORDER BY topic""",
    "ref_clicks_by_service" ->
      s"""$msgsCte SELECT $svcExpr AS service, COUNT(*) AS clicks FROM msgs WHERE ends_with(topic, '_clicks') GROUP BY 1 ORDER BY 1""",
    "ref_distinct_services" ->
      s"""$msgsCte SELECT DISTINCT $svcExpr AS service FROM msgs ORDER BY service""",
    "ref_dim_breakdown" ->
      s"""$msgsCte SELECT service, dim, value, COUNT(*) AS cnt FROM (SELECT $svcExpr AS service, $dimExpr AS dim, value FROM msgs) t WHERE service <> 'home' AND dim <> 'clicks' GROUP BY service, dim, value ORDER BY service, dim, value""",
    "ref_pct_share" ->
      s"""$msgsCte SELECT service, clicks, CAST(100 * clicks AS DOUBLE) / CAST(SUM(clicks) OVER () AS DOUBLE) AS pct FROM (SELECT $svcExpr AS service, COUNT(*) AS clicks FROM msgs WHERE ends_with(topic, '_clicks') GROUP BY 1) t ORDER BY service""",
    "ref_top_services" ->
      s"""$msgsCte SELECT $svcExpr AS service, COUNT(*) AS clicks FROM msgs WHERE ends_with(topic, '_clicks') GROUP BY 1 ORDER BY clicks DESC, service LIMIT 5""",
    "ref_clicks_by_segment" ->
      """SELECT event_type AS service, c_mktsegment AS segment, COUNT(*) AS cnt FROM events JOIN customer ON user_id = c_custkey WHERE event_type = 'click' GROUP BY 1, 2 ORDER BY 1, 2""",
    "ref_observed_topics" ->
      s"""$msgsCte SELECT topic FROM (SELECT s.service || '_' || d.dim AS topic FROM (SELECT DISTINCT $svcExpr AS service FROM msgs) s CROSS JOIN (SELECT unnest(['k','user','segment','clicks']) AS dim) d) e WHERE EXISTS (SELECT 1 FROM msgs m WHERE m.topic = e.topic) ORDER BY topic""",
    "ref_labels" ->
      s"""$msgsCte SELECT service, clicks, CAST(100 * clicks AS DOUBLE) / CAST(SUM(clicks) OVER () AS DOUBLE) AS pct, service || ' (' || clicks || ')' AS label FROM (SELECT $svcExpr AS service, COUNT(*) AS clicks FROM msgs WHERE ends_with(topic, '_clicks') GROUP BY 1) t ORDER BY service""",
    "ref_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT user_id, event_id, tus,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM m),
        |g AS (SELECT user_id, session_id, COUNT(*) AS n_ev FROM s GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_ev) AS BIGINT) AS n_events, MAX(n_ev) AS max_session_events FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "ref_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |tv AS (SELECT user_id, MIN(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
        |tc AS (SELECT e.user_id, MIN(tus) AS t_click FROM e JOIN tv ON e.user_id = tv.user_id WHERE event_type = 'click' AND tus > t_view GROUP BY 1),
        |tp AS (SELECT e.user_id, MIN(tus) AS t_purchase FROM e JOIN tc ON e.user_id = tc.user_id WHERE event_type = 'purchase' AND tus > t_click GROUP BY 1)
        |SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users, (SELECT COUNT(*) FROM tv) AS n_viewed, (SELECT COUNT(*) FROM tc) AS n_view_click, (SELECT COUNT(*) FROM tp) AS n_full_funnel""".stripMargin,
    // same strict-increase chain and first-step-anchored window via
    // EXISTS-style distinct joins
    "ref_window_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
        |vc AS (SELECT a.user_id, a.t AS vt, b.t AS ct
        |       FROM e a JOIN e b ON a.user_id = b.user_id
        |       WHERE a.event_type = 'view' AND b.event_type = 'click'
        |         AND b.t > a.t AND b.t - a.t <= 1800000000),
        |l2 AS (SELECT DISTINCT user_id FROM vc),
        |l3 AS (SELECT DISTINCT vc.user_id
        |       FROM vc JOIN e p ON p.user_id = vc.user_id
        |       WHERE p.event_type = 'purchase' AND p.t > vc.ct
        |         AND p.t - vc.vt <= 1800000000)
        |SELECT u.user_id,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |            ELSE 0 END AS INT) AS funnel_level
        |FROM u ORDER BY user_id""".stripMargin,
    // same decile arithmetic and exact integer cumulative masses; the
    // share divisions are single fixed IEEE ops of exact longs
    "ref_lorenz" ->
      """WITH pu AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
        |r AS (SELECT n_events,
        |        CAST((10 * (ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) - 1)) // COUNT(*) OVER () AS INT) + 1 AS decile
        |      FROM pu),
        |d AS (SELECT decile, COUNT(*) AS n_users, CAST(SUM(n_events) AS BIGINT) AS n_events FROM r GROUP BY 1),
        |c AS (SELECT decile, n_users, n_events,
        |        CAST(SUM(n_events) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events,
        |        CAST(SUM(n_events) OVER () AS BIGINT) AS total FROM d)
        |SELECT decile, n_users, n_events, cum_events,
        |  CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(cum_events AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM c ORDER BY decile""".stripMargin,
    // same integer ppm rule (// is floor division; operands positive so
    // it equals Spark's truncating DIV)
    "ref_simpson_diversity" ->
      """WITH bt AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS ni FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(ni * (ni - 1)) AS BIGINT) AS same_pairs FROM bt GROUP BY 1),
        |p AS (SELECT user_id, CAST(1000000 * same_pairs // (n * (n - 1)) AS BIGINT) AS simpson_ppm FROM u WHERE n > 1)
        |SELECT CAST(simpson_ppm // 100000 AS INT) AS decile, COUNT(*) AS n_users,
        |       MIN(simpson_ppm) AS min_ppm, MAX(simpson_ppm) AS max_ppm
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // same max–min formula over the same exact interval sums; one IEEE
    // division per interval, min/max order-independent
    "ref_isotonic_rate" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
        |               FROM events GROUP BY 1),
        |pre AS (SELECT day, n, k,
        |          SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - n AS pn,
        |          SUM(k) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - k AS pk,
        |          SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cn,
        |          SUM(k) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ck
        |        FROM daily),
        |iv AS (SELECT a.day AS j, b.day AS kday,
        |         CAST(b.ck - a.pk AS DOUBLE) / CAST(b.cn - a.pn AS DOUBLE) AS rate
        |       FROM pre a JOIN pre b ON a.day <= b.day),
        |mn AS (SELECT i.day AS day, iv.j, MIN(rate) AS mnr
        |       FROM pre i JOIN iv ON iv.j <= i.day AND i.day <= iv.kday GROUP BY 1, 2),
        |f AS (SELECT day, MAX(mnr) AS fitted_rate FROM mn GROUP BY 1)
        |SELECT d.day, d.n, d.k, CAST(d.k AS DOUBLE) / CAST(d.n AS DOUBLE) AS raw_rate, fitted_rate
        |FROM daily d JOIN f ON d.day = f.day ORDER BY d.day""".stripMargin,
    // same integer S / tie-corrected 18·Var numerator, same fixed IEEE
    // z sequence, same lower-median-of-floored-micros Sen slope
    "ref_trend_mk" ->
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS cnt
        |               FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.event_type,
        |         CASE WHEN b.cnt > a.cnt THEN 1 WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sgn,
        |         CAST(FLOOR(CAST(b.cnt - a.cnt AS DOUBLE) * 1000000.0 /
        |           CAST(date_diff('day', CAST(a.day AS DATE), CAST(b.day AS DATE)) AS DOUBLE)) AS BIGINT) AS slope_micros
        |       FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.day < b.day),
        |ss AS (SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
        |         list(slope_micros ORDER BY slope_micros) AS sl
        |       FROM pr GROUP BY 1),
        |tt AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
        |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |       FROM (SELECT event_type, cnt, COUNT(*) AS t FROM daily GROUP BY 1, 2) g GROUP BY 1)
        |SELECT ss.event_type, n_days, s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS BIGINT) AS var_num18,
        |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
        |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
        |       ELSE 0.0 END AS z,
        |  sl[CAST((len(sl) + 1) // 2 AS INT)] AS sen_slope_micros
        |FROM ss JOIN tt ON ss.event_type = tt.event_type
        |ORDER BY ss.event_type""".stripMargin,
    // same discretized 2^(3 − age DIV 10min) weights, same integer
    // floor-credit + remainder-to-most-recent rule
    "ref_attribution_decay" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, tus AS ctus FROM e WHERE event_type = 'click'),
        |t AS (SELECT p.purchase_id, p.user_id, c.click_id, c.ctus,
        |        CAST(1 << CAST(3 - (p.ptus - c.ctus) // 600000000 AS INT) AS BIGINT) AS w
        |      FROM p JOIN c ON p.user_id = c.user_id AND c.ctus <= p.ptus AND p.ptus - c.ctus <= 1800000000),
        |k AS (SELECT purchase_id, user_id, click_id, ctus, w,
        |        SUM(w) OVER (PARTITION BY purchase_id) AS sw,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY ctus DESC, click_id DESC) AS INT) AS recency_rank
        |      FROM t),
        |f AS (SELECT *, (1000000 * w) // sw AS floor_credit,
        |        1000000 - SUM((1000000 * w) // sw) OVER (PARTITION BY purchase_id) AS rem
        |      FROM k)
        |SELECT purchase_id, user_id, click_id, recency_rank, w AS weight,
        |  CAST(floor_credit + CASE WHEN recency_rank = 1 THEN rem ELSE 0 END AS BIGINT) AS credit_micros
        |FROM f ORDER BY purchase_id, click_id""".stripMargin,
    // same window, same integer-micros share rule, same
    // remainder-to-most-recent tie policy
    "ref_attribution_linear" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, tus AS ctus FROM e WHERE event_type = 'click'),
        |t AS (SELECT p.purchase_id, p.user_id, c.click_id, c.ctus
        |      FROM p JOIN c ON p.user_id = c.user_id AND c.ctus <= p.ptus AND p.ptus - c.ctus <= 1800000000),
        |k AS (SELECT purchase_id, user_id, click_id, ctus,
        |        COUNT(*) OVER (PARTITION BY purchase_id) AS k,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY ctus DESC, click_id DESC) AS INT) AS recency_rank
        |      FROM t)
        |SELECT purchase_id, user_id, click_id, recency_rank,
        |  CAST(1000000 // k + CASE WHEN recency_rank = 1 THEN 1000000 % k ELSE 0 END AS BIGINT) AS credit_micros
        |FROM k ORDER BY purchase_id, click_id""".stripMargin,
    "ref_attribution" ->
      """SELECT purchase_id, user_id, click_id, gap_us FROM (
        |  SELECT event_id AS purchase_id, user_id, event_type,
        |    CASE WHEN lc IS NOT NULL AND tus - lc.cts <= 1800000000 THEN lc.cid END AS click_id,
        |    CASE WHEN lc IS NOT NULL AND tus - lc.cts <= 1800000000 THEN tus - lc.cts END AS gap_us
        |  FROM (
        |    SELECT event_id, user_id, event_type, tus,
        |      max(CASE WHEN event_type = 'click' THEN {'cts': tus, 'cid': event_id} END)
        |        OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS lc
        |    FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events) e) t) p
        |WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin,
    "ref_retention_cohorts" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset, COUNT(*) AS n_users
        |FROM e JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ref_retention_rates" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
        |m AS (SELECT cohort_wk, wk - cohort_wk AS week_offset, COUNT(*) AS n_users
        |      FROM e JOIN c USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_wk, n_users AS cohort_size FROM m WHERE week_offset = 0)
        |SELECT m.cohort_wk, m.week_offset, m.n_users, sz.cohort_size,
        |  CAST(m.n_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
        |FROM m JOIN sz ON m.cohort_wk = sz.cohort_wk
        |ORDER BY m.cohort_wk, m.week_offset""".stripMargin,
    "ref_markov_transitions" ->
      """WITH l AS (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |           FROM events),
        |c AS (SELECT prev_type, event_type, COUNT(*) AS n FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, event_type""".stripMargin,
    "ref_dau_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT wk, COUNT(*) AS wau FROM (SELECT DISTINCT user_id, day // 7 AS wk FROM ud) w GROUP BY 1),
        |dw AS (SELECT day // 7 AS wk, CAST(SUM(dau) AS BIGINT) AS sum_dau, COUNT(*) AS n_days FROM dau GROUP BY 1)
        |SELECT wk, n_days, wau, sum_dau,
        |  CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_dau,
        |  CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dw JOIN wau USING (wk) ORDER BY wk""".stripMargin,
    "ref_dwell_time" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT event_type,
        |        lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dwell_us
        |      FROM e)
        |SELECT event_type, COUNT(*) AS n, CAST(SUM(dwell_us) AS BIGINT) AS sum_dwell_us,
        |  CAST(SUM(dwell_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_dwell_us
        |FROM l WHERE dwell_us IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "ref_bounce_rate" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT user_id, tus, event_id,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM m),
        |g AS (SELECT user_id, session_id, COUNT(*) AS n_ev FROM s GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |  CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
        |FROM g""".stripMargin,
    "ref_entry_exit" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT user_id, event_type, tus, event_id,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, event_type, tus, event_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM m),
        |r AS (SELECT event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY tus, event_id) AS rfw,
        |        ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY tus DESC, event_id DESC) AS rbw
        |      FROM s),
        |en AS (SELECT event_type, COUNT(*) AS n_entry FROM r WHERE rfw = 1 GROUP BY 1),
        |ex AS (SELECT event_type, COUNT(*) AS n_exit FROM r WHERE rbw = 1 GROUP BY 1)
        |SELECT COALESCE(en.event_type, ex.event_type) AS event_type,
        |  CAST(COALESCE(n_entry, 0) AS BIGINT) AS n_entry,
        |  CAST(COALESCE(n_exit, 0) AS BIGINT) AS n_exit
        |FROM en FULL OUTER JOIN ex ON en.event_type = ex.event_type
        |ORDER BY event_type""".stripMargin,
    // identical µs-grain session CTE as ref_sessions, then the basket
    // self-join and the two fixed double ratios
    "ref_session_lift" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT user_id, event_type, tus, event_id,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, event_type, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM m),
        |st AS (SELECT DISTINCT user_id, session_id, event_type FROM s),
        |ns AS (SELECT COUNT(*) AS n_sessions FROM (SELECT DISTINCT user_id, session_id FROM st) t),
        |sg AS (SELECT event_type, COUNT(*) AS n_with FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
        |       FROM st a JOIN st b ON a.user_id = b.user_id AND a.session_id = b.session_id AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, sa.n_with AS n_a, sb.n_with AS n_b, ns.n_sessions,
        |  CAST(n_both AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS support,
        |  CAST(n_both AS DOUBLE) * CAST(n_sessions AS DOUBLE) / (CAST(sa.n_with AS DOUBLE) * CAST(sb.n_with AS DOUBLE)) AS lift
        |FROM pr JOIN sg sa ON sa.event_type = pr.type_a JOIN sg sb ON sb.event_type = pr.type_b CROSS JOIN ns
        |ORDER BY type_a, type_b""".stripMargin,
    // rank-median shape of the rel_mad oracle over view→purchase gaps,
    // at the shared µs grain (epoch_us == engine's ts DIV 1000)
    "ref_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |tv AS (SELECT user_id, MIN(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
        |tp AS (SELECT e.user_id, t_view, MIN(tus) AS t_purchase
        |       FROM e JOIN tv USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > t_view GROUP BY 1, 2),
        |c AS (SELECT t_purchase - t_view AS cv FROM tp),
        |m AS (SELECT cv AS median_c, n FROM (
        |  SELECT cv, ROW_NUMBER() OVER (ORDER BY cv) AS rn, COUNT(*) OVER () AS n FROM c) t
        |  WHERE rn = (n + 1) // 2),
        |dev AS (SELECT abs(cv - (SELECT median_c FROM m)) AS dv FROM c),
        |md AS (SELECT dv AS mad_c FROM (
        |  SELECT dv, ROW_NUMBER() OVER (ORDER BY dv) AS rn, COUNT(*) OVER () AS n FROM dev) t
        |  WHERE rn = (n + 1) // 2)
        |SELECT (SELECT n FROM m) AS n,
        |  (SELECT median_c FROM m) AS median_gap_us,
        |  (SELECT mad_c FROM md) AS mad_gap_us""".stripMargin,
    // the identical exact-moment derivation as Profile.zOutliers: HUGEINT
    // sums (mirror of DECIMAL(38,0)), fixed double sequence for mu/std/z,
    // degenerate (varn <= 0) users never flagged
    "ref_value_outliers" ->
      """WITH s AS (SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT user_id, COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS sx,
        |        SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sxx
        |      FROM s GROUP BY 1),
        |j AS (SELECT s.event_id, s.user_id, s.c,
        |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varn,
        |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |        sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS std
        |      FROM s JOIN m USING (user_id))
        |SELECT event_id, user_id, CAST(c AS DOUBLE) / 100 AS value,
        |  (CAST(c AS DOUBLE) - mu) / std AS z
        |FROM j WHERE varn > 0 AND abs((CAST(c AS DOUBLE) - mu) / std) > 3
        |ORDER BY event_id""".stripMargin,
    "ref_path_trigrams" ->
      """WITH l AS (SELECT event_type AS step1,
        |             lead(event_type, 1) OVER w AS step2,
        |             lead(event_type, 2) OVER w AS step3
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM l WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3""".stripMargin,
    // identical histogram arithmetic as the Spark plan: cumulative count
    // over distinct gap values, cut at the smallest value whose cumulative
    // count reaches ceil(p*N) with p*N in IEEE double on both engines
    "ref_gap_quantiles" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus FROM events),
        |g AS (SELECT event_type,
        |        lead(tus) OVER (PARTITION BY user_id, event_type ORDER BY tus, event_id) - tus AS gap_us
        |      FROM e),
        |h AS (SELECT event_type, gap_us, COUNT(*) AS cnt FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT event_type, gap_us,
        |        CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_gaps
        |      FROM h)
        |SELECT event_type, MAX(n_gaps) AS n_gaps,
        |  MIN(CASE WHEN cum >= CEIL(0.5 * n_gaps) THEN gap_us END) AS p50_us,
        |  MIN(CASE WHEN cum >= CEIL(0.9 * n_gaps) THEN gap_us END) AS p90_us,
        |  MAX(gap_us) AS max_us
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // same split-day arithmetic, argmax via MIN(-cnt, type), exact
    // counts + one division
    "ref_markov_eval" ->
      """WITH p0 AS (SELECT event_type,
        |              lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type,
        |              epoch_ns(ts) // 86400000000000 AS day
        |            FROM events),
        |p AS (SELECT prev_type, event_type AS next_type, day FROM p0 WHERE prev_type IS NOT NULL),
        |sp AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM p),
        |tr AS (SELECT prev_type, next_type, COUNT(*) AS cnt FROM p, sp WHERE day < split_day GROUP BY 1, 2),
        |md AS (SELECT prev_type, MIN(struct_pack(nc := -cnt, t := next_type)).t AS predicted FROM tr GROUP BY 1),
        |te AS (SELECT p.prev_type, p.next_type, md.predicted
        |       FROM p CROSS JOIN sp LEFT JOIN md ON md.prev_type = p.prev_type
        |       WHERE day >= split_day)
        |SELECT prev_type, MAX(predicted) AS predicted, COUNT(*) AS n_test,
        |  CAST(SUM(CASE WHEN next_type = predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN next_type = predicted THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS acc
        |FROM te GROUP BY 1 ORDER BY 1""".stripMargin,
    // same exact BIGINT moments, same IEEE text
    "ref_fano_burstiness" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |               FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, COUNT(*) AS n_days, CAST(SUM(cnt) AS BIGINT) AS s,
        |        CAST(SUM(cnt * cnt) AS BIGINT) AS ss FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
        |  (CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)) AS var_daily,
        |  (CAST(n_days AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)) / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) AS fano
        |FROM m ORDER BY event_type""".stripMargin,
    // the same integer fixed-point recursion unrolled (dd_pagerank
    // convention), mass ∝ weight via score*w DIV wout
    "ref_weighted_pagerank" -> {
      val steps = (1 to 5).map { i =>
        s"""r$i AS (SELECT n.id, n.wout,
           |  CAST(150000000 + (COALESCE(m.in_sum, 0) * 85) // 100 AS BIGINT) AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(p.score * e.w // p.wout) AS BIGINT) AS in_sum
           |    FROM e JOIN r${i - 1} p ON e.src = p.id GROUP BY 1) m USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH l AS (SELECT event_type,
         |             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
         |           FROM events),
         |e AS (SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
         |      FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |outw AS (SELECT src AS id, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
         |nodes AS (SELECT id, COALESCE(wout, 0) AS wout FROM (
         |            SELECT src AS id FROM e UNION SELECT dst FROM e) nn
         |          LEFT JOIN outw USING (id)),
         |r0 AS (SELECT id, wout, CAST(1000000000 AS BIGINT) AS score FROM nodes),
         |$steps
         |SELECT id AS event_type, wout, score FROM r5
         |ORDER BY score DESC, event_type""".stripMargin
    },
    // same exact counts, same IEEE text for p̂ and z, same CASE guard
    // six exact integers, then the identical fixed IEEE derivation
    // sequence (means, sample variances, se2, t, Welch df), textually
    "ref_welch_ttest" ->
      """WITH a AS (SELECT user_id % 2 AS arm, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
        |g AS (SELECT arm, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx FROM a GROUP BY 1),
        |p AS (SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a, MAX(CASE WHEN arm = 0 THEN sx END) AS sx_a,
        |  MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx_a, MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
        |  MAX(CASE WHEN arm = 1 THEN sx END) AS sx_b, MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx_b FROM g),
        |m AS (SELECT *,
        |  CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |  CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |  (CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS var_a,
        |  (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS var_b
        |  FROM p),
        |s AS (SELECT *, var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) AS se2 FROM m)
        |SELECT n_a, n_b, mean_a, mean_b,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN (mean_a - mean_b) / sqrt(se2) END AS t_welch,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN se2 * se2 / ((var_a / CAST(n_a AS DOUBLE)) * (var_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) + (var_b / CAST(n_b AS DOUBLE)) * (var_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)) END AS df_welch
        |FROM s""".stripMargin,
    "ref_ab_ztest" ->
      """WITH a AS (SELECT user_id % 2 AS arm, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ FROM events),
        |g AS (SELECT arm, COUNT(*) AS n, CAST(SUM(succ) AS BIGINT) AS x FROM a GROUP BY 1),
        |p AS (SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a, MAX(CASE WHEN arm = 0 THEN x END) AS x_a,
        |        MAX(CASE WHEN arm = 1 THEN n END) AS n_b, MAX(CASE WHEN arm = 1 THEN x END) AS x_b FROM g)
        |SELECT n_a, x_a, n_b, x_b,
        |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END AS z
        |FROM p""".stripMargin,
    // identical exact-ppm impurity
    "ref_user_gini" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n_events, COUNT(*) AS n_types,
        |        CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq FROM c GROUP BY 1)
        |SELECT user_id, n_events, n_types,
        |  1000000 - sum_sq * 1000000 // (n_events * n_events) AS gini_ppm
        |FROM u ORDER BY user_id""".stripMargin,
    // identical exact-ppm CR-10 with the same deterministic tiebreak
    "ref_type_concentration" ->
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cnt,
        |        row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rk
        |      FROM c),
        |g AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_events, COUNT(*) AS n_users,
        |        CAST(SUM(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) AS BIGINT) AS top10_events
        |      FROM r GROUP BY 1)
        |SELECT event_type, n_events, n_users, top10_events,
        |  top10_events * 1000000 // n_events AS cr10_ppm
        |FROM g ORDER BY event_type""".stripMargin,
    // identical integer rearrangement (O·T−R·C)²/(T·R·C), one division
    // per cell, total folded in the same (type, dow) order
    "ref_chisq_type_dow" ->
      """WITH cells AS (SELECT event_type, (epoch_ns(ts) // 86400000000000) % 7 AS dow, COUNT(*) AS o
        |               FROM events GROUP BY 1, 2),
        |rw AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cl AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS t, COUNT(DISTINCT event_type) AS n_types,
        |         COUNT(DISTINCT dow) AS n_dows FROM cells),
        |sc AS (SELECT event_type, dow, o, r * c * 1000 // t AS e_milli,
        |         CAST((o * t - r * c) * (o * t - r * c) AS DOUBLE) / CAST(t * r * c AS DOUBLE) AS chi_cell,
        |         n_types, n_dows
        |       FROM cells JOIN rw USING (event_type) JOIN cl USING (dow) CROSS JOIN tt),
        |tot AS (SELECT list_reduce(list_prepend(0.0, list(chi_cell ORDER BY event_type, dow)), (a, b) -> a + b) AS chi2,
        |          (MAX(n_types) - 1) * (MAX(n_dows) - 1) AS dof
        |        FROM sc)
        |SELECT event_type, dow, o, e_milli, chi_cell, chi2, dof
        |FROM sc, tot ORDER BY event_type, dow""".stripMargin,
    // the same two exact-integer half-iterations by definition
    "ref_hits" ->
      """WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
        |a1 AS (SELECT event_type, COUNT(*) AS auth1 FROM e GROUP BY 1),
        |h1 AS (SELECT user_id, CAST(SUM(auth1) AS BIGINT) AS hub1
        |       FROM e JOIN a1 USING (event_type) GROUP BY 1)
        |SELECT event_type, auth1, CAST(SUM(hub1) AS BIGINT) AS auth2
        |FROM e JOIN h1 USING (user_id) JOIN a1 USING (event_type)
        |GROUP BY event_type, auth1 ORDER BY event_type""".stripMargin,
    // identical integer recursion via the 0-seeded prefix fold; greatest
    // and // on BIGINTs keep both engines in exact integer arithmetic
    "ref_cusum_shift" ->
      """WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) // COUNT(*) AS k FROM daily),
        |a AS (SELECT list(struct_pack(day := day, cnt := cnt) ORDER BY day) AS arr FROM daily)
        |SELECT day, cnt, cnt - k AS dev,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_filter(arr, x -> x.day <= day), x -> x.cnt)),
        |    (acc, c) -> greatest(CAST(0 AS BIGINT), acc + c - k)) AS cusum_pos,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_filter(arr, x -> x.day <= day), x -> x.cnt)),
        |    (acc, c) -> greatest(CAST(0 AS BIGINT), acc + k - c)) AS cusum_neg
        |FROM daily, t, a ORDER BY day""".stripMargin,
  )
}
