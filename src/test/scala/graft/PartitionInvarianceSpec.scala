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
      (() => graft.query.TextAnalysis.curriculumPhases(spark, sf)),
    "winsorized_stats two-level order statistics" ->
      (() => graft.query.stats.Quality.winsorizedStats(spark, sf)),
    "sql_cust_order_dist aggregate-then-join" ->
      (() => graft.query.Warehouse.sqlCustOrderDist(spark, sf)),
    "sql_shipping_priority scaled-long top-10" ->
      (() => graft.query.Warehouse.sqlShippingPriority(spark, sf)),
    "dedup_minhash_lsh banded candidates" ->
      (() => graft.query.Dedup.dedupMinhashLsh(spark, sf)),
    "dedup_incremental_minhash delta probe" ->
      (() => graft.query.Dedup.dedupIncrementalMinhash(spark, sf)),
    "graph_reachability materialized BFS" ->
      (() => graft.query.Graph.graphReachability(spark, sf)),
    "ann_pq_adc_topk integer ADC ranking" ->
      (() => graft.query.Similarity.annPqAdcTopk(spark, sf)),
    "histogram_equiwidth cents totals" ->
      (() => graft.query.stats.Quality.histogramEquiWidth(spark, sf)),
    "graph_pagerank_deep 10-round double accumulation" ->
      (() => graft.query.Graph.graphPagerank(spark, sf, iters = 10,
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
      (() => graft.query.Graph.graphConnectedComponents(spark, sf,
        driverUnionFindMax = 0L)),
    "pareto_frontier bucket prefilter + survivor anti-join" ->
      (() => graft.query.ml.Preference.paretoFrontier(spark, sf)),
    "layout_compaction_plan running-byte window" ->
      (() => graft.query.Warehouse.layoutCompactionPlan(spark, sf)),
    "eval_auc_roc tie-averaged global rank" ->
      (() => graft.query.ml.Scoring.evalAucRoc(spark, sf)),
    "text_bigram_logprob window-attached counts" ->
      (() => graft.query.TextAnalysis.textBigramLogprob(spark, sf)),
    "ts_cusum_changepoint ordered prefix folds" ->
      (() => graft.query.stats.TimeSeries.tsCusumChangepoint(spark, sf)),
    "stream_stream_join watermarked interval join" ->
      (() => graft.streaming.StreamQueries.streamStreamJoin(spark, sf)),
    // round 13: global ordered-window AP, wedge-join top-k with float
    // tie-breaks, multi-window rank overlap, and the float-ordered LLR
    // top-k — the new shapes where partitioning could perturb order
    "eval_pr_auc ordered precision prefix" ->
      (() => graft.query.ml.Scoring.evalPrAuc(spark, sf)),
    "graph_common_neighbors wedge-join top-k" ->
      (() => graft.query.Graph.graphCommonNeighbors(spark, sf)),
    "emb_matryoshka_recall per-dim rank overlap" ->
      (() => graft.query.Similarity.embMatryoshkaRecall(spark, sf)),
    "text_llr_collocations float-ordered top-k" ->
      (() => graft.query.TextAnalysis.textLlrCollocations(spark, sf)),
    // round-13 late batches: the sequential Holt fold, the exact-cents
    // threshold counts, and the wedge-closure rollup
    "ts_holt_forecast per-key ordered fold" ->
      (() => graft.query.stats.TimeSeries.tsHoltForecast(spark, sf)),
    "agg_pareto_concentration cents thresholds" ->
      (() => graft.query.Relational.aggParetoConcentration(spark, sf)),
    "agg_gini_cents rank products" ->
      (() => graft.query.Relational.aggGiniCents(spark, sf)),
    "graph_local_clustering wedge closure" ->
      (() => graft.query.Graph.graphLocalClustering(spark, sf)),
    // round-13 closing batches: REAL-cast divergence sums, CUBE expand,
    // md5-keyed prefix groups, bitmap OR-merge, and the outer stream-
    // stream join's watermark-gated null emission
    "text_js_divergence bounded fold" ->
      (() => graft.query.TextAnalysis.textJsDivergence(spark, sf)),
    "quality_ablation_report cube expand" ->
      (() => graft.query.TextAnalysis.qualityAblationReport(spark, sf)),
    "dedup_prefix_groups hashed grouping" ->
      (() => graft.query.Dedup.dedupPrefixGroups(spark, sf)),
    "agg_bitmap_distinct OR-merge" ->
      (() => graft.query.Relational.aggBitmapDistinct(spark, sf)),
    "stream_stream_left_join null emission" ->
      (() => graft.streaming.StreamQueries.streamStreamLeftJoin(spark, sf)),
    // round-14 shapes: double-keyed weighted top-k, cumulative-weight
    // crossing, percentile-thresholded iterative peel, per-key interval
    // fold, and deletion-neighborhood candidate generation
    "sample_weighted exponential-key top-k" ->
      (() => graft.query.stats.Sampling.sampleWeighted(spark, sf)),
    "agg_weighted_median cumulative crossing" ->
      (() => graft.query.Relational.aggWeightedMedian(spark, sf)),
    "graph_kcore percentile peel" ->
      (() => graft.query.Graph.graphKcore(spark, sf)),
    "ts_interval_union island fold" ->
      (() => graft.query.stats.TimeSeries.tsIntervalUnion(spark, sf)),
    "join_edit_distance deletion-key blocking" ->
      (() => graft.query.Relational.joinEditDistance(spark, sf)),
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
      (() => graft.query.stats.Anomaly.anomalyAlertDebounce(spark, sf)),
    "stream_rate_limit token-bucket ValueState" ->
      (() => graft.streaming.StreamQueries.streamRateLimit(spark, sf)),
    "graph_hits iterated broadcast rounds" ->
      (() => graft.query.Graph.graphHits(spark, sf)),
    "text_keywords_topk per-doc rank window" ->
      (() => graft.query.TextAnalysis.textKeywordsTopk(spark, sf)),
    "ts_stl_decompose deferred-division windows" ->
      (() => graft.query.stats.TimeSeries.tsStlDecompose(spark, sf)),
    // round-15 second wave: hash-indexed walk hops, the Kadane fold,
    // the dedup→agg streaming chain, the persisted-label modularity
    // pass, and the ntile quintiles
    "graph_random_walks hash-indexed hops" ->
      (() => graft.query.Graph.graphRandomWalks(spark, sf)),
    "window_max_subarray Kadane fold" ->
      (() => graft.query.Relational.windowMaxSubarray(spark, sf)),
    "stream_windowed_distinct dedup→agg chain" ->
      (() => graft.streaming.StreamQueries.streamWindowedDistinct(spark, sf)),
    "graph_modularity one-pass masses" ->
      (() => graft.query.Graph.graphModularity(spark, sf)),
    "sql_customer_rfm ntile quintiles" ->
      (() => graft.query.Warehouse.sqlCustomerRfm(spark, sf)),
    // round-15 third wave (the WindowGateSpec rewrites): every global
    // rank/cumsum/CDF that moved onto two-level bucketing — the exact
    // shape class where a bucket-boundary bug would be partition-dependent
    "sample_pps_systematic two-level cumulative weight" ->
      (() => graft.query.stats.Sampling.samplePpsSystematic(spark, sf)),
    "sql_abc_analysis two-level desc rank/cumsum" ->
      (() => graft.query.Warehouse.sqlAbcAnalysis(spark, sf)),
    "eval_decile_lift two-level desc rank" ->
      (() => graft.query.ml.Scoring.evalDecileLift(spark, sf)),
    "eval_ks_test two-level pooled CDF" ->
      (() => graft.query.ml.Significance.evalKsTest(spark, sf)),
    "eval_auc_delong two-level placement counts" ->
      (() => graft.query.ml.Scoring.evalAucDelong(spark, sf)),
    "eval_topk_agreement TakeOrdered rank panels" ->
      (() => graft.query.ml.Ranking.evalTopkAgreement(spark, sf)),
    "sql_cte_ranking two-level rank in SQL" ->
      (() => graft.query.Warehouse.sqlCteRanking(spark, sf)),
    // round-15 fourth wave: islands over covered windows, pairwise-slope
    // median pick, ANOVA integer sums, leading-digit census, and the
    // state-store-backed monitor twins
    "dedup_substring_maximal island grouping" ->
      (() => graft.query.Dedup.dedupSubstringMaximal(spark, sf)),
    "ts_theil_sen pairwise-slope median pick" ->
      (() => graft.query.stats.TimeSeries.tsTheilSen(spark, sf)),
    "eval_icc exact ANOVA sums" ->
      (() => graft.query.ml.Agreement.evalIcc(spark, sf)),
    "dq_benford_law integer leading digits" ->
      (() => graft.query.stats.Quality.dqBenfordLaw(spark, sf)),
    "stream_eval_ece ValueState reliability bins" ->
      (() => graft.streaming.StreamQueries.streamEvalEce(spark, sf)),
    "stream_drift_psi ValueState cohort bins" ->
      (() => graft.streaming.StreamQueries.streamDriftPsi(spark, sf)),
    // round-16 shapes: pooled-CDF rank statistics, ordered full-frame
    // fold chains (Hurst/SAX), the clamped/two-EWMA recurrences and
    // their state-store twins, the broadcast-pipelined courier stream,
    // iterated Katz rounds, and the lag-shifted hourly self-join
    "eval_mann_whitney_u pooled-CDF rank sums" ->
      (() => graft.query.ml.Significance.evalMannWhitneyU(spark, sf)),
    "eval_wilcoxon_signed_rank distinct-|d| mid-ranks" ->
      (() => graft.query.ml.Significance.evalWilcoxonSignedRank(spark, sf)),
    "ts_hurst_exponent ordered R/S folds" ->
      (() => graft.query.stats.TimeSeries.tsHurstExponent(spark, sf)),
    "ts_sax_symbolic ordered z-norm/PAA folds" ->
      (() => graft.query.stats.TimeSeries.tsSaxSymbolic(spark, sf)),
    "ts_cusum_target clamped recurrence" ->
      (() => graft.query.stats.TimeSeries.tsCusumTarget(spark, sf)),
    "stream_cusum_target ValueState clamp" ->
      (() => graft.streaming.StreamQueries.streamCusumTarget(spark, sf)),
    "stream_croston two-EWMA ValueState" ->
      (() => graft.streaming.StreamQueries.streamCroston(spark, sf)),
    "graph_ego_betweenness broadcast courier stream" ->
      (() => graft.query.Graph.graphEgoBetweenness(spark, sf)),
    "graph_katz_centrality iterated broadcast rounds" ->
      (() => graft.query.Graph.graphKatzCentrality(spark, sf)),
    "ts_ccf_lags lag-shifted hourly self-join" ->
      (() => graft.query.stats.TimeSeries.tsCcfLags(spark, sf)),
    "privacy_dp_quantile histogram rank utility" ->
      (() => graft.query.stats.Privacy.privacyDpQuantile(spark, sf)))

  private def collectAt(partitions: Int, build: () => DataFrame): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val stateKey = "graft.stream.statePartitions"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, partitions.toString)
      spark.conf.set(stateKey, partitions.toString)
      // drop persisted indexes (Dedup signature/band caches, Similarity PQ
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
