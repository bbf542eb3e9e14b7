package graft

import org.apache.spark.sql.DataFrame

/** Partition-count invariance: the driver (and the round judge) run the
  * engine at different `spark.sql.shuffle.partitions` and expect
  * byte-identical results. This spec institutionalizes that check for
  * the query shapes where partitioning bugs actually live — global
  * rank/prefix-sum (two-level histogram tricks), tie-broken top-k,
  * integer-scaled aggregation, LSH candidate generation, iterative BFS —
  * by running each at 3 and then 5 shuffle partitions in the same
  * session and comparing collected results exactly.
  *
  * The conf is session-global, so runs are serialized on the session
  * (ScalaTest suites here run sequentially) and always restored.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val probes: Seq[(String, () => DataFrame)] = Seq(
    "s9_batch_assign two-level prefix sum" ->
      (() => graft.query.Relational.s9BatchAssign(spark, sf)),
    "curriculum_phases bucketed global rank" ->
      (() => graft.query.Curation2.curriculumPhases(spark, sf)),
    "winsorized_stats two-level order statistics" ->
      (() => graft.query.Curation2.winsorizedStats(spark, sf)),
    "sql_cust_order_dist aggregate-then-join" ->
      (() => graft.query.Warehouse.sqlCustOrderDist(spark, sf)),
    "sql_shipping_priority scaled-long top-10" ->
      (() => graft.query.Analytics2.sqlShippingPriority(spark, sf)),
    "dedup_minhash_lsh banded candidates" ->
      (() => graft.query.Dedup.dedupMinhashLsh(spark, sf)),
    "dedup_incremental_minhash delta probe" ->
      (() => graft.query.Dedup.dedupIncrementalMinhash(spark, sf)),
    "graph_reachability materialized BFS" ->
      (() => graft.query.Analytics.graphReachability(spark, sf)),
    "ann_pq_adc_topk integer ADC ranking" ->
      (() => graft.query.Curation.annPqAdcTopk(spark, sf)),
    "histogram_equiwidth cents totals" ->
      (() => graft.query.Curation2.histogramEquiWidth(spark, sf)),
    "graph_pagerank_deep 10-round double accumulation" ->
      (() => graft.query.Analytics.graphPagerank(spark, sf, iters = 10,
        checkpointEvery = 3)),
    "text_top_ngram_cov tie-broken argmax window" ->
      (() => graft.query.TextAnalysis.textTopNgramCoverage(spark, sf)),
    "dedup_semantic anchor argmax + cell pairs" ->
      (() => graft.query.Dedup.dedupSemantic(spark, sf)),
    "emb_jl_recall dual-window rank overlap" ->
      (() => graft.query.Similarity.embJlRecall(spark, sf)),
    "join_bloom_prefilter partial bloom OR-merge" ->
      (() => graft.query.Relational.joinBloomPrefilter(spark, sf)),
    // stateful streaming: the state-store partition count is what a
    // 100 TB deployment actually tunes — prove the drained results are
    // byte-identical at 3 vs 5 state partitions (drain() honors the
    // graft.stream.statePartitions hook; fresh checkpoint per run)
    "stream_session_counts mapGroupsWithState" ->
      (() => graft.streaming.StreamQueries.streamSessionCounts(spark, sf)),
    "stream_session_window native session operator" ->
      (() => graft.streaming.StreamQueries.streamSessionWindowNative(spark, sf)),
    "stream_hopping_agg overlapping window state" ->
      (() => graft.streaming.StreamQueries.streamHoppingAgg(spark, sf)),
    // round 12: the distributed fixpoint path (gate forced off) and the
    // prefilter-dependent skyline — the two new shapes where a
    // partition-count bug could hide
    "graph_connected_components distributed fixpoint" ->
      (() => graft.query.Analytics3.graphConnectedComponents(spark, sf,
        driverUnionFindMax = 0L)),
    "pareto_frontier bucket prefilter + survivor anti-join" ->
      (() => graft.query.Analytics3.paretoFrontier(spark, sf)),
    "layout_compaction_plan running-byte window" ->
      (() => graft.query.Warehouse2.layoutCompactionPlan(spark, sf)),
    "eval_auc_roc tie-averaged global rank" ->
      (() => graft.query.Analytics3.evalAucRoc(spark, sf)),
    "text_bigram_logprob window-attached counts" ->
      (() => graft.query.TextAnalysis.textBigramLogprob(spark, sf)),
    "ts_cusum_changepoint ordered prefix folds" ->
      (() => graft.query.Analytics3.tsCusumChangepoint(spark, sf)),
    "stream_stream_join watermarked interval join" ->
      (() => graft.streaming.StreamQueries.streamStreamJoin(spark, sf)),
    // round 13: global ordered-window AP, wedge-join top-k with float
    // tie-breaks, multi-window rank overlap, and the float-ordered LLR
    // top-k — the new shapes where partitioning could perturb order
    "eval_pr_auc ordered precision prefix" ->
      (() => graft.query.Analytics4.evalPrAuc(spark, sf)),
    "graph_common_neighbors wedge-join top-k" ->
      (() => graft.query.Analytics4.graphCommonNeighbors(spark, sf)),
    "emb_matryoshka_recall per-dim rank overlap" ->
      (() => graft.query.Analytics4.embMatryoshkaRecall(spark, sf)),
    "text_llr_collocations float-ordered top-k" ->
      (() => graft.query.TextAnalysis.textLlrCollocations(spark, sf)),
    // round-13 late batches: the sequential Holt fold, the exact-cents
    // threshold counts, and the wedge-closure rollup
    "ts_holt_forecast per-key ordered fold" ->
      (() => graft.query.Analytics4.tsHoltForecast(spark, sf)),
    "agg_pareto_concentration cents thresholds" ->
      (() => graft.query.Analytics4.aggParetoConcentration(spark, sf)),
    "agg_gini_cents rank products" ->
      (() => graft.query.Analytics4.aggGiniCents(spark, sf)),
    "graph_local_clustering wedge closure" ->
      (() => graft.query.Analytics4.graphLocalClustering(spark, sf)),
    // round-13 closing batches: REAL-cast divergence sums, CUBE expand,
    // md5-keyed prefix groups, bitmap OR-merge, and the outer stream-
    // stream join's watermark-gated null emission
    "text_js_divergence bounded fold" ->
      (() => graft.query.Analytics4.textJsDivergence(spark, sf)),
    "quality_ablation_report cube expand" ->
      (() => graft.query.TextAnalysis.qualityAblationReport(spark, sf)),
    "dedup_prefix_groups hashed grouping" ->
      (() => graft.query.Analytics4.dedupPrefixGroups(spark, sf)),
    "agg_bitmap_distinct OR-merge" ->
      (() => graft.query.Analytics4.aggBitmapDistinct(spark, sf)),
    "stream_stream_left_join null emission" ->
      (() => graft.streaming.StreamQueries.streamStreamLeftJoin(spark, sf)),
    // round-14 shapes: double-keyed weighted top-k, cumulative-weight
    // crossing, percentile-thresholded iterative peel, per-key interval
    // fold, and deletion-neighborhood candidate generation
    "sample_weighted exponential-key top-k" ->
      (() => graft.query.Analytics5.sampleWeighted(spark, sf)),
    "agg_weighted_median cumulative crossing" ->
      (() => graft.query.Analytics5.aggWeightedMedian(spark, sf)),
    "graph_kcore percentile peel" ->
      (() => graft.query.Analytics5.graphKcore(spark, sf)),
    "ts_interval_union island fold" ->
      (() => graft.query.Analytics5.tsIntervalUnion(spark, sf)),
    "join_edit_distance deletion-key blocking" ->
      (() => graft.query.Analytics5.joinEditDistance(spark, sf)),
    "stream_transform_with_state RocksDB ValueState" ->
      (() => graft.streaming.StreamQueries.streamTransformWithState(spark, sf)),
    "stream_user_top_values ListState prune" ->
      (() => graft.streaming.StreamQueries.streamUserTopValues(spark, sf)),
    "stream_user_type_counts MapState submaps" ->
      (() => graft.streaming.StreamQueries.streamUserTypeCounts(spark, sf)),
    "stream_idle_timeout event-time timers" ->
      (() => graft.streaming.StreamQueries.streamIdleTimeout(spark, sf)),
    // round-15 shapes: per-key sequential recurrences (sorted-group
    // iteration; token bucket in transformWithState), the iterated
    // broadcast-round HITS vector, and the doc-partitioned rank window
    "anomaly_alert_debounce sorted-group recurrence" ->
      (() => graft.query.Analytics5.anomalyAlertDebounce(spark, sf)),
    "stream_rate_limit token-bucket ValueState" ->
      (() => graft.streaming.StreamQueries.streamRateLimit(spark, sf)),
    "graph_hits iterated broadcast rounds" ->
      (() => graft.query.Analytics5.graphHits(spark, sf)),
    "text_keywords_topk per-doc rank window" ->
      (() => graft.query.TextAnalysis.textKeywordsTopk(spark, sf)),
    "ts_stl_decompose deferred-division windows" ->
      (() => graft.query.Analytics5.tsStlDecompose(spark, sf)),
    // round-15 second wave: hash-indexed walk hops, the Kadane fold,
    // the dedup→agg streaming chain, the persisted-label modularity
    // pass, and the ntile quintiles
    "graph_random_walks hash-indexed hops" ->
      (() => graft.query.Analytics5.graphRandomWalks(spark, sf)),
    "window_max_subarray Kadane fold" ->
      (() => graft.query.Analytics5.windowMaxSubarray(spark, sf)),
    "stream_windowed_distinct dedup→agg chain" ->
      (() => graft.streaming.StreamQueries.streamWindowedDistinct(spark, sf)),
    "graph_modularity one-pass masses" ->
      (() => graft.query.Analytics5.graphModularity(spark, sf)),
    "sql_customer_rfm ntile quintiles" ->
      (() => graft.query.Warehouse2.sqlCustomerRfm(spark, sf)),
    // round-15 third wave (the WindowGateSpec rewrites): every global
    // rank/cumsum/CDF that moved onto two-level bucketing — the exact
    // shape class where a bucket-boundary bug would be partition-dependent
    "sample_pps_systematic two-level cumulative weight" ->
      (() => graft.query.Analytics5.samplePpsSystematic(spark, sf)),
    "sql_abc_analysis two-level desc rank/cumsum" ->
      (() => graft.query.Warehouse2.sqlAbcAnalysis(spark, sf)),
    "eval_decile_lift two-level desc rank" ->
      (() => graft.query.Analytics5.evalDecileLift(spark, sf)),
    "eval_ks_test two-level pooled CDF" ->
      (() => graft.query.Analytics5.evalKsTest(spark, sf)),
    "eval_auc_delong two-level placement counts" ->
      (() => graft.query.Analytics3.evalAucDelong(spark, sf)),
    "eval_topk_agreement TakeOrdered rank panels" ->
      (() => graft.query.Analytics5.evalTopkAgreement(spark, sf)),
    "sql_cte_ranking two-level rank in SQL" ->
      (() => graft.query.Relational2.sqlCteRanking(spark, sf)),
    // round-15 fourth wave: islands over covered windows, pairwise-slope
    // median pick, ANOVA integer sums, leading-digit census, and the
    // state-store-backed monitor twins
    "dedup_substring_maximal island grouping" ->
      (() => graft.query.Dedup.dedupSubstringMaximal(spark, sf)),
    "ts_theil_sen pairwise-slope median pick" ->
      (() => graft.query.Analytics5.tsTheilSen(spark, sf)),
    "eval_icc exact ANOVA sums" ->
      (() => graft.query.Analytics5.evalIcc(spark, sf)),
    "dq_benford_law integer leading digits" ->
      (() => graft.query.Analytics5.dqBenfordLaw(spark, sf)),
    "stream_eval_ece ValueState reliability bins" ->
      (() => graft.streaming.StreamQueries.streamEvalEce(spark, sf)),
    "stream_drift_psi ValueState cohort bins" ->
      (() => graft.streaming.StreamQueries.streamDriftPsi(spark, sf)),
    // round-16 shapes: pooled-CDF rank statistics, ordered full-frame
    // fold chains (Hurst/SAX), the clamped/two-EWMA recurrences and
    // their state-store twins, the broadcast-pipelined courier stream,
    // iterated Katz rounds, and the lag-shifted hourly self-join
    "eval_mann_whitney_u pooled-CDF rank sums" ->
      (() => graft.query.Analytics6.evalMannWhitneyU(spark, sf)),
    "eval_wilcoxon_signed_rank distinct-|d| mid-ranks" ->
      (() => graft.query.Analytics6.evalWilcoxonSignedRank(spark, sf)),
    "ts_hurst_exponent ordered R/S folds" ->
      (() => graft.query.Analytics6.tsHurstExponent(spark, sf)),
    "ts_sax_symbolic ordered z-norm/PAA folds" ->
      (() => graft.query.Analytics6.tsSaxSymbolic(spark, sf)),
    "ts_cusum_target clamped recurrence" ->
      (() => graft.query.Analytics6.tsCusumTarget(spark, sf)),
    "stream_cusum_target ValueState clamp" ->
      (() => graft.streaming.StreamQueries.streamCusumTarget(spark, sf)),
    "stream_croston two-EWMA ValueState" ->
      (() => graft.streaming.StreamQueries.streamCroston(spark, sf)),
    "graph_ego_betweenness broadcast courier stream" ->
      (() => graft.query.Analytics6.graphEgoBetweenness(spark, sf)),
    "graph_katz_centrality iterated broadcast rounds" ->
      (() => graft.query.Analytics6.graphKatzCentrality(spark, sf)),
    "ts_ccf_lags lag-shifted hourly self-join" ->
      (() => graft.query.Analytics6.tsCcfLags(spark, sf)),
    "privacy_dp_quantile histogram rank utility" ->
      (() => graft.query.Analytics6.privacyDpQuantile(spark, sf)))

  private def collectAt(partitions: Int, build: () => DataFrame): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val stateKey = "graft.stream.statePartitions"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, partitions.toString)
      spark.conf.set(stateKey, partitions.toString)
      // drop persisted indexes (Dedup signature/band caches, Curation PQ
      // assignment, Formats conversions) so BOTH partition settings run
      // the full index-build lineage — a cached InMemoryTableScan from
      // the first run would short-circuit the second and prove nothing
      graft.schema.IndexCache.clear()
      // fresh lineage per run; toString canonicalizes every column type
      build().collect().map(_.toString).toSeq
    } finally {
      spark.conf.set(key, before)
      spark.conf.unset(stateKey)
    }
  }

  probes.foreach { case (name, build) =>
    test(s"partition invariance: $name") {
      val at3 = collectAt(3, build)
      val at5 = collectAt(5, build)
      assert(at3 == at5,
        s"results differ between 3 and 5 shuffle partitions: " +
          s"only-at-3=${at3.diff(at5).take(3)} only-at-5=${at5.diff(at3).take(3)}")
    }
  }
}
