package graft

import org.apache.spark.sql.catalyst.expressions.{Divide, Expression,
  Multiply, Pmod, Remainder}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec,
  GenerateExec, GlobalLimitExec, LocalLimitExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.DecimalType

/** The 100 TB red flags of one key's finalized, executed plan — the plan
  * `graft.Bench` captures from its measured noop write, whose SQL metrics
  * that write filled in, so auditing it runs no job:
  *  - `NESTED`: a CartesianProduct/BroadcastNestedLoopJoin in a key that is
  *    not in [[intendedNested]];
  *  - `GLOBALWIN`: an unpartitioned WindowExec (at 100 TB, "sort the whole
  *    relation on one task") over an input no limit bounds, in a key that
  *    is not in [[intendedGlobalWindow]];
  *  - `NESTEDBOUND`/`GLOBALWINBOUND`: an allowlisted shape whose measured
  *    rows exceed the entry's bound, and `NESTEDUNMEASURED`/
  *    `GLOBALWINUNMEASURED`: one whose rows no metric reports (a bound that
  *    cannot be measured checks nothing);
  *  - `DECFANOUT`: decimal arithmetic on amplified rows;
  *  - `WIDESCAN`: a lineitem scan that reads every column.
  *
  * The allowlists are not suppressions: each entry carries the documented
  * row bound of the shape that justifies it (the smaller side of a
  * nested-loop join, the input of an unpartitioned window), and the audit
  * measures it. Bounds are sf-invariant by construction (calendar spines,
  * enum domains, fixed query sets, value-domain spines); that is what makes
  * the shapes scale-safe. CONTRACT marks the keys whose nested join is
  * data-sized by semantics (brute force IS the query). BenchSpec runs the
  * whole board through this audit and pins zero flags, the CONTRACT set,
  * and that every entry still matches its shape. */
object PlanAudit {
  private val CONTRACT = -1L // data-sized by declared semantics; no bound
  private val SCALAR = 64L // 1-row..tens-row scalar/anchor/enum broadcasts
  private val FANOUT = 512L // query sets / centroid grids / replication fans
  private val DAYSPINE = 40L // ≤31-row calendar-day spine
  private val PAIRSPINE = 1024L // ≤31·32/2 day-pair theta self-join
  private val CENTS = 50000L // 2dp value-DOMAIN spine (≤49k distinct cents)

  /** One key's audit: its flags, and the measured rows behind its verdicts
    * — the largest smaller side of its nested-loop joins and the largest
    * input of its unbounded unpartitioned windows. */
  final case class Audit(flags: Seq[String], nestedRows: Option[Long],
    windowRows: Option[Long])

  // Nested-loop joins by design, with the documented bound of the smaller
  // side. The shapes: explicit cartesians; all-pairs vector similarity
  // (brute force IS the semantics); 1-row scalar, stats, total and anchor
  // broadcasts (every T.r6 share); enum-sized stat grids; broadcast query
  // sets and centroid grids where all-vs-queries IS the semantics;
  // replication fans (salt, lag); ≤31²-pair day-spine theta joins.
  private[graft] val intendedNested: Map[String, Long] = Map(
    // capped-panel audits: broadcast panel ≤ ~205 rows at ANY corpus size
    // (md = max(10, ⌈n/200⌉)); the corpus side streams through one
    // codegen'd vec_dot pass — PlanShapeSpec pins the exchange count
    "dedup_embedding_cosine" -> FANOUT,
    "stream_dedup_neardup" -> FANOUT,
    "join_cross_limited" -> SCALAR, // region (5 rows) × nation
    "vector_cosine_topk" -> FANOUT, // 20-query broadcast
    "vector_knn_classify" -> FANOUT,
    "vector_ivf_topk" -> FANOUT, // 8-row coarse-centroid stage
    "similarity_join_threshold" -> CONTRACT, // all-pairs IS the semantics
    // at τ=0.35 no feasible banding prunes (admitted random fraction ≥
    // 2.7× all pairs), so cosineThresholdJoinLSH's economics branch takes
    // the tiled exact join — the cartesian IS the cheapest correct plan
    "similarity_join_lsh" -> CONTRACT,
    "text_tfidf_top_terms" -> FANOUT,
    "stream_dedup_stateful" -> CONTRACT, // batch-vs-state by contract
    "join_skew_salted" -> SCALAR, // salt-replication table
    "agg_approx_quantile" -> SCALAR, "agg_hll_sketch_merge" -> SCALAR,
    "etl_compact_small_files" -> SCALAR,
    "vector_quantized_topk" -> FANOUT, "ml_kmeans_lloyd" -> SCALAR,
    "dq_anomaly_zscore" -> SCALAR, "etl_incremental_watermark" -> SCALAR,
    "text_bigram_pmi" -> SCALAR, "text_bm25_topk" -> FANOUT,
    "window_cumulative_share" -> SCALAR,
    "window_sliding_distinct_users" -> SCALAR,
    "pipeline_rag_retrieval" -> FANOUT, "vector_rerank_two_stage" -> FANOUT,
    "stat_chi2_independence" -> SCALAR, "stat_benford_digit" -> SCALAR,
    "ts_seasonal_index" -> SCALAR, "ml_naive_bayes_classify" -> FANOUT,
    "graph_triangle_count" -> SCALAR, "agg_frequent_pairs" -> SCALAR,
    "vector_matryoshka_prefix_topk" -> FANOUT,
    "agg_kmv_distinct" -> SCALAR, "ts_changepoint_cusum" -> SCALAR,
    "stat_runs_test" -> SCALAR, "ml_ab_sequential_sprt" -> SCALAR,
    "ts_autocorr_lag" -> SCALAR, "etl_partition_advisor" -> SCALAR,
    "vector_ivfpq_topk" -> FANOUT, "vector_ivfpq_residual_topk" -> FANOUT,
    "stat_ks_two_sample" -> SCALAR, "stat_mann_kendall" -> DAYSPINE,
    "stat_anova_oneway" -> SCALAR, "ml_perceptron_epochs" -> SCALAR,
    "pipeline_mixture_sample" -> SCALAR,
    "stat_theil_sen_slope" -> DAYSPINE, "ml_decision_stump" -> SCALAR,
    "pipeline_filter_funnel" -> SCALAR, "agg_histogram_equidepth" -> SCALAR,
    "vector_binary_hamming_topk" -> FANOUT, "graph_modularity" -> SCALAR,
    "agg_kmv_set_ops" -> SCALAR,
    "catalog_join_card_estimate" -> SCALAR,
    "dq_population_stability" -> SCALAR, "ml_calibration_bins" -> SCALAR,
    "vector_recall_at_k" -> FANOUT, "ml_ridge_kfold_cv" -> SCALAR,
    "stat_cramers_v" -> SCALAR, "stat_mutual_information" -> SCALAR,
    "agg_share_of_parent" -> SCALAR, "dq_freshness_sla" -> SCALAR,
    "text_kl_divergence" -> SCALAR, "dedup_simhash_recall_audit" -> SCALAR,
    "stat_cohens_kappa" -> SCALAR,
    "stat_ljung_box" -> SCALAR, "window_kaplan_meier" -> SCALAR,
    "ml_knn_loocv" -> FANOUT, "stat_fleiss_kappa" -> SCALAR,
    "graph_walk_corpus" -> SCALAR,
    "etl_clustering_depth_audit" -> SCALAR,
    "stat_poisson_two_rate" -> SCALAR,
    "etl_shard_rebalance_plan" -> FANOUT,
    "text_term_dispersion" -> SCALAR,
    "join_bloom_fp_audit" -> SCALAR,
    "agg_assoc_rules_lift" -> SCALAR, "window_rfm_segments" -> SCALAR,
    "agg_heavy_change_topk" -> SCALAR,
    "agg_time_decay_engagement" -> SCALAR, "text_js_divergence" -> SCALAR,
    "window_funnel_time_bound" -> SCALAR, "stat_capture_recapture" -> SCALAR,
    "pipeline_budget_apportion" -> SCALAR,
    "text_phrase_index_query" -> SCALAR, "text_vocab_growth" -> SCALAR,
    "vector_jl_projection_audit" -> FANOUT,
    "agg_aging_buckets" -> SCALAR, "agg_topn_other_rollup" -> SCALAR,
    "agg_var_cvar" -> SCALAR, "ml_expected_calibration_error" -> SCALAR,
    "ml_learning_curve" -> SCALAR, "ml_pr_curve_points" -> SCALAR,
    "stat_chi2_residuals" -> SCALAR,
    "stat_qq_deciles" -> SCALAR, "stat_stratified_ate" -> SCALAR,
    "window_time_in_state" -> SCALAR, "window_conversion_latency" -> SCALAR,
    "graph_rich_club" -> SCALAR,
    "stat_durbin_watson" -> SCALAR, "etl_pii_pseudonymize" -> SCALAR,
    "agg_theil_index" -> SCALAR, "ml_gain_lift_chart" -> SCALAR,
    "stat_hodges_lehmann" -> PAIRSPINE,
    "stat_u_auc_identity" -> SCALAR,
    "ts_record_highs" -> DAYSPINE,
    "window_ntile_cume" -> SCALAR) // the ntile/cume re-plan's N-total row

  // Unpartitioned windows whose input is GLOBALLY BOUNDED BY SEMANTICS
  // rather than by a limit in the plan (the TakeOrdered re-plan), with the
  // documented input bound.
  private[graft] val intendedGlobalWindow: Map[String, Long] = Map(
    "window_moving_avg" -> DAYSPINE, // one row per calendar day
    // the global window runs on the distinct-acctbal cents spine (domain
    // [-999.99, 9999.99] → ≤1.1M rows at ANY sf), ranks partitioned by bal
    "window_ntile_cume" -> 1100000L,
    "ts_changepoint_cusum" -> DAYSPINE, // CUSUM prefix sums on day spine
    "stat_runs_test" -> DAYSPINE, // rank + lag over the day spine
    "ml_ab_sequential_sprt" -> DAYSPINE, // day-offset parallel prefix sum
    "etl_partition_advisor" -> DAYSPINE, // median rank over day spine
    "stat_ks_two_sample" -> (2 * DAYSPINE), // ECDF over 2-type spine union
    "stat_theil_sen_slope" -> PAIRSPINE, // median rank over day-pair join
    "ml_decision_stump" -> SCALAR, // cumulative counts over 20-bin grid
    // decile-boundary rank location runs on the cents>>16 bucket spine —
    // price-DOMAIN-bounded (~170 rows at any sf), not data-sized
    "agg_histogram_equidepth" -> 4096L,
    "stat_spearman_rank" -> (2 * DAYSPINE), // purchase/click day spines
    "window_skyline_2d" -> 2600L, // per-day max-price running max over the
    // ORDERS calendar (1992-1998 → ≤2557 days; 1094 populated at sf0.001)
    "pipeline_sample_temperature" -> SCALAR, // 5-row lang-enum allocation
    "stat_wilcoxon_rank_sum" -> CENTS, // distinct 2dp value domain
    "stat_ljung_box" -> DAYSPINE, // row_number + lag over day spine
    "window_kaplan_meier" -> DAYSPINE, // ≤31-step lifetime spine
    "ml_threshold_sweep" -> CENTS, // suffix tp/fp over value domain
    "etl_shard_rebalance_plan" -> SCALAR, // ≤16-row shard enum
    "etl_snapshot_expire_plan" -> (4 * DAYSPINE), // calendar month table
    "ts_stl_decompose" -> DAYSPINE, "ts_velocity_accel" -> DAYSPINE,
    "window_rolling_beta" -> DAYSPINE, "ts_seasonality_strength" -> DAYSPINE,
    "agg_var_cvar" -> DAYSPINE, "dq_volume_anomaly" -> DAYSPINE,
    "stat_kruskal_wallis" -> CENTS, "stat_cvm_two_sample" -> CENTS,
    "stat_chi2_residuals" -> CENTS, "ml_pr_curve_points" -> CENTS,
    "agg_topn_other_rollup" -> SCALAR, // 25-brand top-N rank
    "pipeline_budget_apportion" -> SCALAR, // 20-source rank
    "text_vocab_growth" -> SCALAR, // 10-row decile cumsum
    "window_conversion_latency" -> CENTS, // minute-granular span spine
    "stat_durbin_watson" -> DAYSPINE,
    "ml_gain_lift_chart" -> CENTS, // DESC cumulative on distinct cents
    "ts_mase_naive" -> DAYSPINE,
    "stat_hodges_lehmann" -> PAIRSPINE, // Walsh pairs of the day spine
    "stat_u_auc_identity" -> CENTS,
    "ts_record_highs" -> DAYSPINE,
    "window_wma_triangular" -> DAYSPINE,
    "ml_reciprocal_rank_fusion" -> FANOUT) // doc_id<200 candidate set

  /** Keys that read every lineitem column by definition. */
  private val wideLineitemKeys =
    Set("scan_parquet", "scalar_math_funcs", "bulk_load_pipeline")

  /** Audit key `name`'s finalized, executed plan. `maxBase`, the row count
    * of the largest base table, is read only when a decimal operation sits
    * above a row-multiplying operator. */
  def audit(name: String, plan: SparkPlan, maxBase: => Long): Audit = {
    var (nested, windows, wideScan) = (0, 0, false)
    val nestedRows, windowRows = Seq.newBuilder[Long]
    walk(plan) {
      case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
        nested += 1
        // the SMALLER side is the one the shape claims is bounded (at toy
        // sf the planner may broadcast the data side instead)
        j.children.map(rowsOf) match {
          case Seq(Some(l), Some(r)) => nestedRows += math.min(l, r)
          case _ =>
        }
      case w: WindowExec if w.partitionSpec.isEmpty && !limited(w.child) =>
        windows += 1
        windowRows ++= rowsOf(w.child)
      case f: FileSourceScanExec if wideLineitem(f) => wideScan = true
      case _ =>
    }
    val flags = Seq.newBuilder[String]
    val (nestedMax, windowMax) = (nestedRows.result().maxOption, windowRows.result().maxOption)
    if (nested > 0) intendedNested.get(name) match {
      case None => flags += s"NESTED ($nested)"
      case Some(CONTRACT) =>
      case Some(bound) => flags ++= bounded("NESTED", nestedMax, bound)
    }
    if (windows > 0) intendedGlobalWindow.get(name) match {
      case None => flags += s"GLOBALWIN ($windows)"
      case Some(bound) => flags ++= bounded("GLOBALWIN", windowMax, bound)
    }
    val dec = decNodes(plan)
    if (dec.nonEmpty) {
      val threshold = 4 * maxBase
      val hits = amplified(dec, threshold)
      if (hits.nonEmpty) flags += s"DECFANOUT (${hits.map { case (n, r) =>
        s"$n rows=$r" }.distinct.mkString(", ")} > 4×base=$threshold)"
    }
    if (wideScan && !wideLineitemKeys(name)) flags += "WIDESCAN"
    Audit(flags.result(), nestedMax, windowMax)
  }

  /** The flag of an allowlisted shape whose measured rows are missing or
    * over its bound. */
  private def bounded(kind: String, rows: Option[Long], bound: Long): Option[String] =
    rows match {
      case None => Some(s"${kind}UNMEASURED bound=$bound")
      case Some(r) if r > bound => Some(s"${kind}BOUND rows=$r > bound=$bound")
      case _ => None
    }

  /** A limit (TakeOrdered / Global/Local/CollectLimit) bounds `p`'s rows. */
  private def limited(p: SparkPlan): Boolean = p match {
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
        _: LocalLimitExec | _: CollectLimitExec => true
    case _ => inputs(p).exists(limited)
  }

  /** A file scan of the lineitem fixture whose required schema holds every
    * column of the file. */
  private def wideLineitem(f: FileSourceScanExec): Boolean =
    f.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") &&
      f.relation.dataSchema.fieldNames.forall(f.requiredSchema.fieldNames.contains)

  // ---- Decimal-on-amplified-rows detection (the r15 hash-repricing
  // class): decimal Multiply/Divide/Remainder/Pmod runs on Spark's
  // BigDecimal path (no codegen'd primitive), so a node that evaluates it
  // on more rows than any base table holds — above a row-multiplying
  // Generate/cartesian with no aggregate barrier — is per-row × replica
  // decimal arithmetic, the shape that cost stat_permutation_test 20×
  // steady (BASELINE.md). A structural hit alone is not a flag: it is
  // flagged only when the decimal node's measured input rows exceed 4× the
  // largest fixture table, which a ×1 scalar crossJoin (every T.r6
  // projection) or a bounded spine fanout can never do, while a
  // data×replica stream always does. Bare casts feeding exact decimal SUM
  // buffers don't match hasDecOp (the exactness contract is not the
  // regression). DecFanoutSpec pins both the positive (the old regressed
  // shape) and the negative (r6-above-scalar-crossjoin) case.
  private[graft] def hasDecOp(e: Expression): Boolean = e.exists {
    case x: Multiply => x.dataType.isInstanceOf[DecimalType]
    case x: Divide => x.dataType.isInstanceOf[DecimalType]
    case x: Remainder => x.dataType.isInstanceOf[DecimalType]
    case x: Pmod => x.dataType.isInstanceOf[DecimalType]
    case _ => false
  }
  private[graft] def fanoutBelow(pl: SparkPlan): Boolean = pl match {
    case _: BaseAggregateExec | _: TakeOrderedAndProjectExec |
        _: GlobalLimitExec | _: CollectLimitExec => false
    case _: GenerateExec | _: CartesianProductExec |
        _: BroadcastNestedLoopJoinExec => true
    case other => inputs(other).exists(fanoutBelow)
  }
  private def decNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val hits = Seq.newBuilder[SparkPlan]
    walk(plan) { node =>
      if (node.expressions.exists(hasDecOp) && node.children.exists(fanoutBelow))
        hits += node
    }
    hits.result()
  }
  private[graft] def decStructuralHit(plan: SparkPlan): Boolean =
    decNodes(plan).nonEmpty
  private[graft] def decAmplified(finalPlan: SparkPlan,
      threshold: Long): Seq[(String, Long)] =
    amplified(decNodes(finalPlan), threshold)
  private def amplified(nodes: Seq[SparkPlan], threshold: Long): Seq[(String, Long)] =
    nodes.flatMap { node =>
      node.children.flatMap(rowsOf).maxOption.filter(_ > threshold)
        .map(node.nodeName -> _)
    }

  /** The plans `p` reads its rows from, through the final adaptive plan,
    * query stages and reused exchanges (`children` stops at each: they are
    * leaves). */
  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  /** Pre-order walk over every node of an executed plan, each once: into
    * the final adaptive plan, query stages and subqueries. A
    * ReusedExchangeExec is a leaf, so what it reuses is visited where it
    * ran. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case _: ReusedExchangeExec =>
      case _ => (inputs(p) ++ p.subqueries).foreach(walk(_)(f))
    }
  }

  /** Measured output rows of an executed subtree: the first pre-order node
    * carrying a `numOutputRows` SQL metric (stage and exchange boundaries
    * are row-preserving, so they are passed through). */
  private def rowsOf(p: SparkPlan): Option[Long] = {
    val own = p match {
      case _: QueryStageExec | _: ReusedExchangeExec => None
      case _ => p.metrics.get("numOutputRows").map(_.value)
    }
    own.orElse(inputs(p).view.flatMap(rowsOf).headOption)
  }
}
