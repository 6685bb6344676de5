package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** Physical/optimized-plan assertions (SURVEY.md §4.2): the claims the
  * scaladoc makes about pushdown, join strategy, top-k, and
  * partition-safe windows must hold in the actual plans.
  */
class PlanSpec extends SparkSuite {

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("filters are pushed to the parquet scan") {
    val plan = executedPlan("q_filter_compound")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), plan.take(2000))
  }

  test("projection prunes the scan schema") {
    val plan = executedPlan("q_project_compute")
    // Only the 4 referenced columns reach ReadSchema, not all 11.
    assert(plan.contains("l_extendedprice"), plan.take(2000))
    assert(!plan.contains("l_shipdate"), "unexpected column read\n" + plan.take(2000))
  }

  test("q_join_broadcast plans a broadcast hash join") {
    assert(executedPlan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge honors the merge hint") {
    assert(executedPlan("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_join_theta stays a hash join with residual range filter") {
    val plan = executedPlan("q_join_theta")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(executedPlan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_join_range plans an equi hash join on the bin (no nested loop)") {
    val plan = executedPlan("q_join_range")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "range join fell back to a quadratic nested-loop scan\n" + plan.take(2000))
  }

  test("q_decontaminate_bloom probes a native codegen'd bloom filter") {
    val plan = executedPlan("q_decontaminate_bloom")
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(plan.contains("bloom_filter_agg"), plan.take(2000))
    assert(!plan.contains("ScalaUDF"),
      "bloom probe regressed to a serialized UDF\n" + plan.take(2000))
  }

  test("composite queries: pushed filters, broadcast dims, no nested loop") {
    // The TPC-H-shaped composites must keep their selective predicates
    // on the scans and join the bounded dims by broadcast — the plan a
    // 1000-executor run needs (fact rows shuffle once, dims ship once).
    for (q <- Seq("q_composite_q3", "q_composite_q5", "q_composite_q10")) {
      val plan = executedPlan(q)
      assert(plan.contains("PushedFilters: ["), s"$q\n" + plan.take(2000))
      assert(plan.contains("BroadcastHashJoin"), s"$q\n" + plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q\n" + plan.take(2000))
    }
  }

  test("batch-B composites: pushed filters, hashed joins, no nested loop") {
    // Q6 is the pushdown probe: all three predicates must reach the
    // parquet reader. Q8/Q9/Q21 are the deep-join shapes: every join
    // must stay hashed (Q11's 1-row threshold broadcast is the one
    // allowed nested-loop, audited in PlanAuditSpec).
    val q6 = executedPlan("q_composite_q6")
    assert(q6.contains("PushedFilters: [") && !q6.contains("PushedFilters: []"),
      q6.take(2000))
    for (q <- Seq("q_composite_q8", "q_composite_q9", "q_composite_q21")) {
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q\n" + plan.take(2000))
    }
    // Q15's max back-join compares EXACT decimals by equality — it must
    // plan as a hash join, not a nested-loop inequality probe.
    assert(executedPlan("q_composite_q15").contains("BroadcastHashJoin"))
  }

  test("composite pack: each selective predicate reaches PushedFilters by name") {
    // The generic composite tests prove SOME filter pushed; these name
    // every load-bearing predicate. At 100 TB each of these is the
    // difference between scanning a row group and skipping it — a
    // refactor that silently lifts one off the scan (e.g. by computing
    // the filter column first) must fail here, not in a benchmark.
    val expected: Map[String, Seq[String]] = Map(
      "q_composite_q3" -> Seq(          // date window + market segment
        "LessThan(o_orderdate", "GreaterThan(l_shipdate",
        "EqualTo(c_mktsegment,BUILDING)"),
      "q_composite_q5" -> Seq(          // order-year window + region name
        "GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate",
        "EqualTo(r_name,ASIA)"),
      "q_composite_q6" -> Seq(          // all three scan predicates
        "GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"),
      "q_composite_q10" -> Seq(         // quarter window + return flag
        "GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate",
        "EqualTo(l_returnflag,R)"),
      "q_composite_q14" -> Seq(         // promo month window
        "GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate"),
      "q_composite_q19" -> Seq(         // per-side disjunction extracted
        "EqualTo(p_brand,Brand#12"))    // from the OR'd brackets
    // default metadata truncation (100 chars) cuts PushedFilters lists
    // mid-name — raise it so the assertion sees the full list
    withSQLConf("spark.sql.maxMetadataStringLength" -> "10000") {
      for ((q, preds) <- expected; p <- preds) {
        val plan = executedPlan(q)
        assert(plan.contains(p),
          s"$q: predicate $p not pushed to the scan\n" + plan.take(3000))
      }
    }
  }

  test("dynamic partition pruning fires on a partitioned fact scan") {
    val dir = "target/test-fixtures/dpp_events"
    Tables.events(spark, Sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // dim filter on an aggregate (not statically inferable to the fact
    // side — a literal event_type filter would constraint-propagate
    // and prune STATICALLY, bypassing DPP)
    import org.apache.spark.sql.functions.{col, count, lit}
    val dim = Tables.events(spark, Sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 100)
    val joined = fact.join(dim, "event_type")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "partitioned scan not dynamically pruned\n" + plan.take(3000))
  }

  test("runtime bloom filter injects on a selective shuffled join") {
    import org.apache.spark.sql.functions.col
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val big = Tables.lineitem(spark, Sf)
      val small = Tables.part(spark, Sf).filter(col("p_size") === 1)
      val joined = big.join(small, big("l_partkey") === small("p_partkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        "no runtime bloom filter on the probe side\n" + plan.take(3000))
    }
  }

  test("AQE skew join splits the mega-key partition at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // AQE detects the oversized partition from shuffle stats and
    // splits it (thresholds forced low so fixture-scale stats trigger
    // the optimization)
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val skewed = (Seq.fill(30000)(0L) ++ (1L to 100L)).toDF("k")
        .select(col("k"), (col("k") + 1).as("v"))
      val dim = (0L to 100L).toDF("k").select(col("k"), (col("k") * 2).as("w"))
      val joined = skewed.join(dim, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE did not mark the join as skew-optimized\n" + plan.take(3000))
    }
  }

  test("partitioned window specs everywhere data-scale windows run") {
    // Every Window over table-sized input must carry a partitionSpec.
    // q_win_ntile is exempt BY DESIGN: its GlobalRank offsets window
    // ranges over one row per shuffle partition (metadata-scale).
    val dataScale = Seq("q_win_rank", "q_win_lag", "q_win_runsum",
      "q_win_range", "q_win_firstlast", "q_topk_group", "q_join_asof",
      "q_sim_join", "q_dedup_exact")
    val offenders = dataScale.filter { name =>
      val plan = SparkEntry.queries(name)(spark, Sf).queryExecution.optimizedPlan
      plan.collect { case w: Window if w.partitionSpec.isEmpty => w }.nonEmpty
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }
}
