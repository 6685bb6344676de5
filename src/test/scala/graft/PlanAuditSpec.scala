package graft

/** Anti-pattern sweep over EVERY registered query's physical plan:
  * nothing may plan a CartesianProduct, and nested-loop joins are only
  * allowed where they are the deliberate design (tiny cross products /
  * single-row broadcast probes). Guards against a future edit silently
  * turning a blocked join into an all-pairs scan. */
class PlanAuditSpec extends SparkSuite {

  // Deliberate nested-loop shapes: region×nation (125 rows), one-row
  // broadcast probes (q_sim_topk, q_sim_ann_ivf's probe + k-row
  // centroid table), and the one-row broadcasts of a global count in
  // q_win_ntile, q_text_tfidf, and q_sample_temperature's global max.
  // q_composite_q22 / q_composite_q11: 1-row scalar-average broadcast;
  // q_events_gapfill: calendar-bounded day spine broadcast under the
  // user grid; q_pareto_share: 1-row grand-total broadcast;
  // q_text_perplexity: 1-row vocabulary-size broadcast;
  // q_dedup_incremental: 1-row batch-cutoff broadcast (the id-space
  // threshold t rides the plan as a broadcast scalar, q11-style).
  private val nestedLoopAllowed =
    Set("q_join_cross", "q_sim_topk", "q_sim_ann_ivf", "q_win_ntile",
      "q_text_tfidf", "q_sim_ann_pq", "q_sim_ann_ivfpq", "q_sketch_cms",
      "q_text_drift", "q_sample_temperature", "q_composite_q22",
      "q_composite_q11", "q_events_gapfill", "q_pareto_share",
      "q_text_perplexity", "q_dedup_incremental",
      // q_domain_mix: 1-row totals broadcast (corpus size + weight sum)
      // under the per-source rate table, q_sample_temperature-style;
      // q_text_curriculum: 1-row corpus-count broadcast under the
      // decile arithmetic
      "q_domain_mix", "q_text_curriculum",
      // q_sim_ann_index: same 1-row broadcast-probe shape as
      // q_sim_ann_ivfpq, with the index tables read back from parquet;
      // q_sim_knn_join: probes × broadcast(k centroids / m×k codebooks)
      // cell scoring — the broadcast side is quantizer-sized (bounded
      // by hyperparameters), never the probe batch
      "q_sim_ann_index", "q_sim_knn_join",
      // q_sim_knn_index: q_sim_knn_join's exact stages served from the
      // reloaded index — same quantizer-sized broadcast sides;
      // q_scd2_apply: 1-row max(ts) broadcast under the change batch
      "q_sim_knn_index", "q_scd2_apply",
      // q_text_collocations: 1-row total-pair-count broadcast under
      // the lift division (q_pareto_share / q_domain_mix shape)
      "q_text_collocations",
      // q_dedup_lsh_eval: three 1-row count aggregates cross-joined
      // into the report row (same shape)
      "q_dedup_lsh_eval",
      // q_feature_target_encode / q_feature_binning / q_agg_benford:
      // 1-row global-prior / quantile-edge / total-count broadcast
      // under a map-side close
      "q_feature_target_encode", "q_feature_binning", "q_agg_benford",
      // q_part_skew_stats / q_join_cardinality / q_feature_kfold /
      // q_feature_odds: 1-row stats/total/prior broadcasts under a
      // map-side close (same shape)
      "q_part_skew_stats", "q_join_cardinality", "q_feature_kfold",
      "q_feature_odds",
      // q_stats_chisq / q_stats_ks / q_events_survival: 1-row
      // margin/total/max/factor-list broadcasts under the test-
      // statistic closes (same shape)
      "q_stats_chisq", "q_stats_ks", "q_events_survival",
      // q_stats_bootstrap: 1-row CI aggregate broadcast under the
      // full-sample mean close (same shape)
      "q_stats_bootstrap",
      // q_sketch_kmv / q_events_did / q_retention_ttl: 1-row
      // exact-count / pivot-date / corpus-max broadcasts (same shape)
      "q_sketch_kmv", "q_events_did", "q_retention_ttl",
      // q_stats_permutation / q_sample_neyman: 1-row observed-diff /
      // fold-denominator broadcasts (same shape)
      "q_stats_permutation", "q_sample_neyman",
      // q_events_ttc: 1-row conversion-stats broadcast under the rate
      // close (same shape)
      "q_events_ttc",
      // q_sim_index_eval: the exact-recall side broadcasts the SAMPLED
      // probe set against the vectors table by design (the declared
      // eval price), plus 1-row report-aggregate joins;
      // q_er_blocking_eval: two 1-row count aggregates cross-joined
      // into the report row (q_dedup_lsh_eval shape)
      "q_sim_index_eval", "q_er_blocking_eval",
      // q_sketch_kmv_ops: three 1-row sketch/match/truth aggregates
      // cross-joined into the report row (q_sketch_kmv shape)
      "q_sketch_kmv_ops",
      // q_anon_tcloseness: the cells × bucket-grid join, where the
      // grid broadcasts from a 1-row min/max domain aggregate
      // (bounded by the value domain, not the corpus);
      // q_events_its / q_events_its_pivot: 1-row pivot-date broadcast
      // under the daily frame (q_retention_ttl shape)
      "q_anon_tcloseness", "q_events_its", "q_events_its_pivot")

  test("no CartesianProduct anywhere; BNLJ only where intended") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, Sf).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !nestedLoopAllowed.contains(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no broadcast hint on an unbounded aggregate in any query") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, SparkPartitionID}
    import org.apache.spark.sql.catalyst.plans.logical._
    // A grouped aggregate's cardinality scales with its input (at corpus
    // scale: one row per document = driver OOM when broadcast); a
    // global aggregate is 1 row and a Limit bounds whatever is under it.
    // Aggregates keyed by spark_partition_id() (GlobalRank's offset
    // tables) are bounded by the partition count — metadata-scale.
    def pidKeyed(a: Aggregate): Boolean = {
      val pidIds = a.child.collect { case p =>
        p.expressions.flatMap(_.collect {
          case al @ Alias(_: SparkPartitionID, _) => al.exprId
        })
      }.flatten.toSet
      a.groupingExpressions.exists {
        case ar: AttributeReference => pidIds.contains(ar.exprId)
        case _: SparkPartitionID => true
        case al: Alias => al.child.isInstanceOf[SparkPartitionID]
        case _ => false
      }
    }
    def unbounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => false
      case a: Aggregate => a.groupingExpressions.nonEmpty && !pidKeyed(a)
      case other => other.children.exists(unbounded)
    }
    def isBroadcast(h: Option[HintInfo]): Boolean =
      h.exists(_.strategy.contains(BROADCAST))
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, Sf).queryExecution.optimizedPlan.collect {
          case j: Join if (isBroadcast(j.hint.leftHint) && unbounded(j.left)) ||
              (isBroadcast(j.hint.rightHint) && unbounded(j.right)) =>
            s"$name: broadcast hint over an unbounded aggregate"
        }
    }.distinct
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("corpus-scan queries construct lazily — zero jobs at build time") {
    // q_text_drift once ran toks.count() and q_decontaminate_bloom
    // stat.bloomFilter at CONSTRUCTION, so merely enumerating the query
    // map (this suite, ExplainTool, EntrySpec) executed full corpus
    // scans. Both are now in-plan (broadcast 1-row agg / bloom scalar
    // subquery); guard the regression. Iterative operators (components,
    // e2e dedup, k-means/PQ training) legitimately run jobs while
    // building and are not checked here.
    val (_, work) = SparkWork.measure(spark) {
      Seq("q_text_drift", "q_decontaminate_bloom", "q_text_tfidf")
        .foreach(q => SparkEntry.queries(q)(spark, Sf))
    }
    // one tiny footer-read job per spark.read.parquet call is scan
    // SETUP (schema inference), not query execution — allowed
    val jobs = work.jobStageNames.filterNot(_.forall(_.startsWith("parquet at ")))
    assert(jobs.isEmpty, s"construction launched jobs: ${jobs.map(_.mkString("; "))}")
  }
}
