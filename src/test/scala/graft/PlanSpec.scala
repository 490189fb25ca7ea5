package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Behavior

/** Physical-plan quality gates: these assert the *shape* of the plans the
  * engine produces — pushdown, pruning, broadcast, partial aggregation,
  * whole-stage codegen — because at 100 TB the plan shape IS the
  * performance model. A regression that silently turns a broadcast join
  * into a shuffle join or loses a parquet filter fails here, not in prod.
  */
class PlanSpec extends GraftSparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("point lookup pushes the key predicate into the parquet scan") {
    val df = Tables.customer(spark, sf).filter(col("c_custkey") === 42)
      .select(col("c_custkey"), col("c_name"))
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"),
      s"missing pushdown:\n$plan")
  }

  test("projection prunes the parquet read schema to selected columns") {
    val df = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("dimension enrichment is a broadcast hash join, not a shuffle join") {
    val df = Behavior.enrichedClicks(Tables.events(spark, sf), Tables.customer(spark, sf))
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side must not shuffle:\n$plan")
  }

  test("A1 value counts use partial (map-side) + final hash aggregation") {
    val df = Behavior.valueCounts(Behavior.fanoutMessages(Tables.events(spark, sf)))
    val plan = physical(df)
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("behavior pipeline stays inside whole-stage codegen (no fallback ops)") {
    val df = Behavior.clicksByService(Behavior.fanoutMessages(Tables.events(spark, sf)))
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan
    assert(plan.contains("*(1)"), s"no codegen spans:\n$plan")
    // the json_get kernel call must not force a codegen fallback
    assert(!plan.contains("CodegenFallback"), s"codegen fallback present:\n$plan")
  }

  test("repetition features partial-aggregate the gram counts before shuffling") {
    val df = graft.operators.TextOps.repetitionFeatures(Tables.documents(spark, sf))
    val plan = physical(df)
    // the (doc_id, gram) count must map-side combine — within-partition
    // repeats are the signal, so they must collapse before the exchange
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"gram counts shuffle raw occurrences:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in repetition plan:\n$plan")
  }

  test("corpus dedup pass never plans an unkeyed (all-pairs) join") {
    // the scope releases the pass's operator caches and checkpoints
    val plan = graft.operators.CacheScope.scoped(physical(
      graft.operators.Dedup.dedupCorpus(Tables.documents(spark, sf), 0.8)))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in dedup pass:\n$plan")
  }

  test("semi join plans as a real left-semi, anti as left-anti") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val semi = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
    val anti = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
    assert(physical(semi).contains("LeftSemi"))
    assert(physical(anti).contains("LeftAnti"))
  }

  test("top-k order-by-limit compiles to TakeOrderedAndProject, not a global sort") {
    val df = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for a top-k:\n$plan")
  }

  test("correlated LATERAL top-n decorrelates to WindowGroupLimit + broadcast, " +
    "never a nested-loop per outer row") {
    val df = SparkEntry.queries("rel_lateral_topn")(spark, sf)
    val plan = physical(df)
    // rank-based group-limit pushdown: each partition keeps <= k rows per
    // nation BEFORE the shuffle — the plan that survives 100x fact growth
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"lateral executed as a per-row nested loop:\n$plan")
  }

  test("recursive month spine keeps the fact scan out of the loop: one keyed " +
    "agg broadcast-joined to the UnionLoop") {
    val df = SparkEntry.queries("rel_recursive_months")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("UnionLoop"), s"recursion did not plan as UnionLoop:\n$plan")
    // the monthly counts aggregate once and broadcast to the tiny spine —
    // the orders table must never be re-scanned per recursion step
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("runtime bloom-filter pre-filtering injects on the registered " +
    "rel_bloom_join (selective dim predicate reaches the fact scan)") {
    // at 100 TB a selective dim filter should reach the fact side BEFORE
    // the shuffle as a bloom probe (Spark's runtime row-level filtering);
    // assert the optimizer injects it for the REGISTERED query's shape
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    // production default gates on a 10GB application-side scan — the whole
    // point of the filter; drop it so the sf0.001 fixture qualifies
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    val joined = SparkEntry.queries("rel_bloom_join")(s, sf)
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain"),
      s"no runtime bloom filter injected:\n$optimized")
    // and the result is unchanged by the injection (the safety property
    // that makes runtime filtering free to turn on)
    val plain = SparkEntry.queries("rel_bloom_join")(spark, sf).collect()
    assert(joined.collect().toSeq === plain.toSeq)
  }

  test("rel_dpp_scan prunes fact partitions at RUNTIME via a dynamicpruning " +
    "subquery (the dim month-list is a query, invisible to static pruning)") {
    val df = SparkEntry.queries("rel_dpp_scan")(spark, sf)
    val plan = physical(df)
    assert(plan.contains("dynamicpruningexpression"),
      s"no DPP filter on the fact scan:\n$plan")
    df.collect() // execute so the scan's pruning metrics materialize
    // unwrap AQE: AdaptiveSparkPlanExec AND materialized QueryStageExec
    // wrappers are all leaf-like to a plain collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case _ => p.children
      }
      p +: inner.flatMap(flatten)
    }
    val scan = flatten(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metrics.contains("numPartitions") => f
    }.getOrElse(fail("no partitioned FileSourceScanExec in the final plan"))
    // the dim is a top-5-orders month list: at most 5 of the ~80 month
    // directories may be read — DPP skipping >90% of the layout is the
    // entire point of the partitioned fact at 100 TB
    val read = scan.metrics("numPartitions").value
    assert(read <= 5, s"DPP read $read partitions (expected <= 5)")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (the default " +
    "skew defense saltedJoin escalates from)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    // shrink the skew thresholds so the fixture's hot key qualifies
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    // 90% of the big side on one key — one reducer would own the join
    val big = s.range(0, 100000)
      .select(when(col("id") % 10 =!= 0, 7L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
    val joined = big.join(dim, Seq("k"))
    // execute THIS queryExecution (count() would plan a separate query
    // and leave joined's adaptive plan unexecuted/non-final)
    val n = joined.collect().length
    assert(n === 90100) // 90k hot-key rows + the 100 tail keys inside dim
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew="), s"AQE did not mark the skewed join:\n$finalPlan")
  }

  test("partition-pruned read: a day predicate on a day-partitioned table " +
    "scans ONE partition via PartitionFilters, not a post-scan filter") {
    // the on-disk layout contract rel_incremental_agg relies on: at
    // 100 TB a date predicate must prune directories at planning time
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_")
      .toFile.getAbsolutePath
    Tables.events(spark, sf)
      .withColumn("day", date_format(Tables.eventTime(col("ts")), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    // partition-type inference reads `day` back as DATE; toString keeps
    // the yyyy-MM-dd form either way
    val days = spark.read.parquet(dir).select(col("day")).distinct()
      .orderBy(col("day")).collect().map(_.get(0).toString)
    assert(days.length > 1, "fixture must span multiple days")
    val df = spark.read.parquet(dir).filter(col("day") === days.head)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val plan = physical(df)
    assert(plan.contains(s"PartitionFilters: [isnotnull(day"),
      s"day predicate did not become a partition filter:\n$plan")
    // the pruned scan reads exactly one of the day directories
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(!scanned.contains(days.last), s"unpruned partition in scan:\n$scanned")
  }

  test("sequence packing sorts via range partitioning, not one global window") {
    val df = operators.TextOps.packSequences(Tables.documents(spark, sf), 256)
    val plan = physical(df)
    assert(plan.contains("rangepartitioning(doc_id"),
      s"missing distributed range sort:\n$plan")
    // the full-data cumsum window must be keyed by partition id (the only
    // unkeyed window allowed is the P-row partition-offset frame)
    assert("Window \\[[^\\]]*\\], \\[__pid[#0-9]*\\]".r.findFirstIn(plan).isDefined,
      s"per-partition cumsum window missing:\n$plan")
  }

  test("BM25 prunes to query-term postings below the tf aggregate, top-k without global sort") {
    val df = operators.TextOps.bm25TopK(Tables.documents(spark, sf),
      Seq("spark", "join", "hash"), 20)
    // the inverted-index contract: the term IN (...) predicate must sit
    // UNDER the (doc, term) count aggregate — directly on the explode
    // (Generate) — so the candidate shuffle carries only query-term
    // posting rows. At 100 TB this is the difference between shuffling 3
    // posting lists and the whole tokenized corpus.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    val pushed = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.toString.contains("IN (spark,join,hash)") &&
        f.child.isInstanceOf[Generate] => f
    }
    assert(pushed.nonEmpty,
      s"term filter not pushed below the tf aggregate:\n${df.queryExecution.optimizedPlan}")
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$plan")
  }
}
