package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Shuffle-budget contract for the full pure-read analytic catalog
  * (round-11 directive 2 — grown from the 22-query round-10 pilot):
  * each audited query's FINAL (post-AQE) physical plan may use at most
  * the pinned number of shuffle exchanges. Wall-clock bench deltas on a
  * contended box are noise (`bench_history/BENCH.md` passim); a plan
  * growing an exchange is a REGRESSION — a lost broadcast, a cache barrier
  * blocking exchange reuse, a new unnecessary repartition — and this
  * spec turns that into a red test at verify scale instead of a mystery
  * bench delta three rounds later. Budgets are UPPER bounds pinned at
  * the audited plan (<=, not ==), so AQE improvements pass and only
  * growth fails. The coverage test pins the contract itself: a newly
  * registered pure-read query without a budget is a red test, so the
  * gate can never silently shrink relative to the catalog.
  *
  * Excluded by contract (the `excluded` set, asserted to stay inside
  * the registry): io round-trips and sinks (plan shape dominated by the
  * sink), streaming queries (micro-batch scheduling, not one batch
  * plan), the composed pipeline mains (parquet + JDBC sinks), and the
  * index/layout WRITERS (the partitioned write is the operator). The
  * ANN index PROBES stay in scope — their returned plan is pure read.
  */
class ShuffleBudgetSpec extends SparkSuite {

  /** Execute THIS DataFrame's own QueryExecution (not a separate write
    * command's) before reading `executedPlan`: for
    * AdaptiveSparkPlanExec the final plan exists only after execution
    * drives the adaptive re-planning — reading it off a never-executed
    * QueryExecution yields the INITIAL plan (the round-10 version of
    * this helper did exactly that via a noop-sink side write, so its
    * budgets bounded pre-AQE plans).
    */
  private def finalPlan(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ())
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Count shuffle exchanges across the whole EXECUTED tree. In a
    * final adaptive plan every materialized exchange is wrapped in a
    * leaf `ShuffleQueryStageExec` (plain `collect` stops there and
    * reads 0 — the discovery trap this helper exists to avoid), its
    * input subtree hangs off the stage's `plan`, and a REUSED exchange
    * appears as a stage over `ReusedExchangeExec` — reuse executes no
    * second shuffle, so it counts 0. Raw `ShuffleExchangeExec` still
    * matches for the non-adaptive fragments. Subqueries (which carry
    * their own adaptive plans) are node-local in Spark — `subqueries`
    * on the root alone would miss e.g. the DPP dedup subquery hanging
    * off a scan deep in the tree — so they are gathered from EVERY
    * node of the current fragment.
    */
  private def shuffles(p: SparkPlan): Int = {
    val here = p.collect {
      // internal node: collect's own traversal visits its children
      case _: ShuffleExchangeExec => 1
      case q: ShuffleQueryStageExec => q.plan match {
        case s: ShuffleExchangeExec => 1 + shuffles(s.child)
        case _: ReusedExchangeExec  => 0
        case other                  => shuffles(other)
      }
      case b: BroadcastQueryStageExec => b.plan match {
        case e: BroadcastExchangeExec => shuffles(e.child)
        case _: ReusedExchangeExec    => 0
        case other                    => shuffles(other)
      }
      // Spark 4 wraps the final stage itself in a leaf
      // ResultQueryStageExec (and caches in TableCacheQueryStageExec):
      // recurse into any other stage kind generically
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        shuffles(q.plan)
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    }.sum
    here + p.collect { case n => n }
      .flatMap(_.subqueries).map(shuffles).sum
  }

  /** Every subquery plan reachable from the executed tree, crossing
    * query-stage boundaries the way [[shuffles]] does (stages are leaf
    * nodes — a plain collect would stop at them and miss subqueries
    * hanging off scans inside materialized stages).
    */
  private def allSubqueries(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p.collect {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allSubqueries(q.plan)
      case a: AdaptiveSparkPlanExec => allSubqueries(a.executedPlan)
    }.flatten
    p.collect { case n => n }.flatMap(_.subqueries)
      .flatMap(s => s +: allSubqueries(s)) ++ inner
  }

  private val excluded: Set[String] = Set(
    // io round-trips & sinks
    "s1_csv_roundtrip", "s2_csv_multiline", "s4_latest_partition",
    "s5_partitioned_sink", "s6_jdbc_roundtrip", "s15_jsonl_roundtrip",
    "s16_compaction", "s17_schema_evolution", "s21_orc_roundtrip",
    // streaming
    "s7_stream_tumbling", "s8_stateful_sessions", "s9_stream_dedup",
    "s10_stream_static_join", "s11_stream_stream_join",
    "s12_stream_upsert", "s13_stream_quality_gate",
    "s14_stream_incremental_dedup", "s15_stream_neardup_probe",
    "s18_stream_late_data", "s19_stream_anomaly", "s20_stream_knn_probe",
    // composed pipeline mains
    "pipe1_end_to_end", "pipe2_curate_main",
    // index/layout writers
    "x_ann_index_build", "x_ann_index_update",
    "scale4_bucketed_join", "scale5_zorder_layout")

  // name -> max shuffle exchanges in the final executed plan (audited
  // values from the round-11 discovery run at sf0.001, this suite's
  // session conf)
  private val budgets: Seq[(String, Int)] = Seq(
    // round 15: the reference-parity composed job — the returned plan
    // is a pure read over the CSV trio (the trio write is fixture
    // plumbing at build time). Round 16 composes the reference's
    // opening dropDuplicates (full-row bt + users, keyed lk_onboarding,
    // pre_process.py:52-54) on planted duplicate rows, so the plan now
    // carries three dedup exchanges on top of the purchase-count agg
    // and the final sort (the two per-user joins stay broadcast) —
    // the reference pays these same shuffles
    "ref1_pipeline_parity" -> 5,
    // round 16: the edit-dedup degradation report — one map-combined
    // census exchange + the final sort; shuffle carries (cell, count)
    "x_edit_dedup_reroute_report" -> 2,
    "a10_rollup" -> 2,
    "a10b_cube" -> 2,
    "a11_array_agg" -> 3,
    "a1_count" -> 1,
    "a4_distinct_counts" -> 2,
    "a5_dedup_full_rows" -> 2,
    "a6_dedup_keyed" -> 2,
    "a7_describe" -> 1,
    "a7_percentiles" -> 2,
    "a7_summary_stats" -> 2,
    "a7c_approx_percentiles" -> 2,
    "a8_correlation" -> 1,
    "a8b_corr_matrix" -> 1,
    "a8c_corr_joined" -> 1,
    "a9_histogram" -> 2,
    "a9_value_counts" -> 2,
    "c1_cast_validate" -> 1,
    "c2_normalize_report" -> 1,
    "clean1_pipeline" -> 2,
    "clean2_rule_counts" -> 2,
    "d1_date_functions" -> 1,
    "e10_funnel" -> 7,
    "e11_retention" -> 4,
    "e12_event_transitions" -> 4,
    "e1_tumbling_window" -> 2,
    "e2_session_window" -> 2,
    "e3_json_extract" -> 1,
    "e4_asof_join" -> 2,
    "e4b_asof_forward" -> 2,
    "e5_pivot" -> 3,
    "e6_sliding_window" -> 2,
    "e7_from_json" -> 1,
    "e8_range_join" -> 3,
    "e9_interval_concurrency" -> 3,
    "f1_null_predicate" -> 1,
    "f2_regex_extract" -> 1,
    "f4_isin_sort" -> 1,
    "f6_col_compare" -> 1,
    "f8_when_chain" -> 1,
    "feat1_build" -> 4,
    "feat2_spend_deciles" -> 3,
    "j1_inner_join_using" -> 1,
    "j2_join_3way_broadcast" -> 2,
    "j3_left_join_nullfill" -> 2,
    "j4_left_anti" -> 1,
    "j5_left_semi" -> 1,
    "j6_full_outer" -> 3,
    "j7_cross" -> 1,
    "j8_nullsafe_join" -> 3,
    "m1_merge_upsert" -> 3,
    "m2_scd2_merge" -> 2,
    "ml1_kmeans_activity" -> 1,
    "ml2_pca_projection" -> 1,
    "ml3_pipeline_compose" -> 1,
    "p1_project_filter" -> 1,
    "p2_star_expand" -> 1,
    "p3_rename_prune" -> 1,
    "p5_derived_columns" -> 1,
    "p6_unpivot" -> 1,
    "prof1_completeness" -> 2,
    "prof2_integrity" -> 1,
    "prof3_dataset_card" -> 3,
    "q1_agg" -> 2,
    "scale1_salted_join" -> 1,
    "scale2_repartitioned_agg" -> 2,
    "scale3_skew_report" -> 1,
    "scale6_shuffle_hash_join" -> 4,
    "t1_typed_aggregator" -> 2,
    "u1_union_distinct_count" -> 2,
    "u2_except" -> 2,
    "u3_intersect" -> 2,
    "u4_multiset_ops" -> 3,
    "w1_lag_serial_gap" -> 1,
    "w2_rank_topk" -> 2,
    "w3_running_sum" -> 2,
    "w4_window_frames" -> 2,
    // probe rows include the DPP dedup subquery exchange(s) per batch:
    // x_ann_index_probe = main plan + exactly ONE pruning subquery,
    // x_ann_probe_many = 5 batches x (main + ONE subquery each). The
    // per-batch subquery count and its exchange ceiling are asserted
    // separately ("ANN probe DPP subquery contract" below), tied to
    // BucketingSpec's live-filter assertions — a change that silently
    // duplicated the DPP subquery per probe mask would pass the
    // live-filter check and hide inside these totals otherwise.
    "x_ann_index_probe" -> 3,
    "x_ann_ivf" -> 9,
    "x_ann_lsh" -> 2,
    "x_ann_lsh_rewrite" -> 2,
    "x_ann_probe_many" -> 16,
    "x_approx_distinct" -> 2,
    "x_bigram_lm_score" -> 4,
    "x_bloom_contamination" -> 4,
    "x_bm25_topk" -> 5,
    "x_boilerplate_removal" -> 4,
    "x_bpe_encode" -> 3,
    "x_bpe_merges" -> 1,
    "x_cdc_chunks" -> 3,
    "x_chunk_roundtrip" -> 1,
    "x_chunking" -> 1,
    "x_contamination" -> 3,
    "x_contrastive_pairs" -> 3,
    "x_cosine_neardup" -> 1,
    "x_cosine_topk" -> 2,
    "x_curation_neardup" -> 9,
    "x_curation_pipeline" -> 4,
    "x_dedup_threshold_sweep" -> 7,
    "x_degree_profile" -> 4,
    "x_domain_cap" -> 2,
    "x_dup_groups" -> 3,
    // round 15: the block-cap guard's census runs as a SEPARATE tiny
    // action; with no over-cap cell (every clean corpus) the returned
    // plan is the original 2-exchange quadratic arm — the split plan
    // (census + anti/semi + SNM window) exists only when a cell fires
    // (GuardFireDrillSpec drives that branch)
    "x_edit_dedup" -> 2,
    "x_embed_quantize" -> 3,
    "x_embedding_drift" -> 3,
    "x_entropy_filter" -> 3,
    "x_event_anomaly" -> 3,
    "x_exact_dedup" -> 2,
    "x_fingerprint_dedup" -> 2,
    "x_forget_user" -> 5,
    "x_heavy_hitters" -> 1,
    "x_incremental_dedup" -> 5,
    "x_knn_ann" -> 4,
    "x_knn_classify" -> 3,
    "x_lang_id" -> 1,
    "x_lsh_neardup" -> 1,
    "x_media_dedup" -> 4,
    "x_media_features" -> 1,
    "x_media_frames" -> 1,
    "x_media_meta" -> 1,
    "x_minhash_banded" -> 9,
    "x_minhash_lsh" -> 7,
    "x_mixture_plan" -> 8,
    "x_ngram_jaccard" -> 3,
    "x_pagerank" -> 5,
    "x_pii_scrub" -> 1,
    "x_pmi_collocations" -> 5,
    "x_pseudonymize" -> 3,
    "x_quality_gate" -> 4,
    "x_quality_model" -> 1,
    "x_quality_score" -> 1,
    "x_repetition" -> 3,
    "x_rolling_fingerprint" -> 1,
    "x_semantic_contamination" -> 2,
    "x_semantic_dedup" -> 4,
    "x_shard_pack" -> 5,
    "x_simhash" -> 2,
    "x_simhash_pairs" -> 2,
    "x_sorted_neighborhood" -> 2,
    "x_stratified_sample" -> 2,
    "x_substring_dedup" -> 4,
    "x_substring_dedup_apply" -> 4,
    "x_tfidf" -> 6,
    "x_token_pairs" -> 2,
    "x_token_stats" -> 1,
    "x_topic_card" -> 4,
    "x_train_test_split" -> 2,
    "x_triangle_count" -> 4,
    "x_unicode_dedup" -> 2,
    "x_weighted_sample" -> 2,
    "x_word_freq" -> 2,
    "x_word_rank_score" -> 3,
    "x_zipf_profile" -> 3)

  test("budget coverage: every pure-read registered query has a pinned budget") {
    val names = SparkEntry.registry.map(_.name).toSet
    val candidates = names -- excluded
    val keys = budgets.map(_._1).toSet
    assert((excluded -- names).isEmpty,
      s"excluded names not in the registry (stale exclusion): ${excluded -- names}")
    assert((candidates -- keys).isEmpty,
      s"pure-read queries with NO shuffle budget: ${(candidates -- keys).toSeq.sorted}")
    assert((keys -- candidates).isEmpty,
      s"budgets for unregistered/excluded queries: ${(keys -- candidates).toSeq.sorted}")
    assert(budgets.size == keys.size, "duplicate budget entries")
  }

  /** Round-12 directive 6: the probe family's shuffle totals above
    * INCLUDE the dynamic-partition-pruning dedup subquery, but a total
    * alone can't see a future change that duplicates the DPP subquery
    * per probe MASK (~1+nBits+C(nBits,2) masks per batch — at 8 bits
    * that's 37 copies of the dedup job): it would pass BucketingSpec's
    * live-filter assertion (the filter stays live) and only surface as
    * bench noise. Pin the structure itself: exactly ONE pruning
    * subquery per probe batch, each at most one dedup exchange.
    */
  test("ANN probe DPP subquery contract: one dedup subquery per probe batch") {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    def audit(name: String, batches: Int): Unit = {
      val plan = finalPlan(reg(name).fn(spark, sf))
      val subs = allSubqueries(plan)
      Memos.clearDerived()
      info(s"$name: ${subs.size} subqueries, " +
        s"${subs.map(shuffles).sum} subquery shuffles")
      assert(subs.size == batches,
        s"$name: expected exactly $batches DPP dedup subqueries " +
          s"(one per probe batch), found ${subs.size} — degraded " +
          "pruning (0) or per-mask duplication (> batches)")
      subs.foreach(s => assert(shuffles(s) <= 1,
        s"$name: a DPP dedup subquery grew beyond one exchange"))
    }
    audit("x_ann_index_probe", 1)
    audit("x_ann_probe_many", 5)
  }

  test("final plans stay within their pinned shuffle budgets") {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    val results = budgets.map { case (name, budget) =>
      val n = scala.util.Try(shuffles(finalPlan(reg(name).fn(spark, sf))))
        .getOrElse(-1)
      // same per-query derived-cache release discipline as Bench/Verify:
      // a 150-query single-session sweep must not accumulate blocks
      Memos.clearDerived()
      info(f"$name%-28s shuffles=$n budget=$budget")
      (name, n, budget)
    }
    val over = results.collect {
      case (name, n, budget) if n > budget || n < 0 =>
        s"$name: $n > $budget"
    }
    assert(over.isEmpty,
      s"shuffle budget exceeded (plan regression):\n${over.mkString("\n")}")
  }
}
