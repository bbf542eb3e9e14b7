package graft

import org.apache.spark.sql.DataFrame

/** Degenerate-corpus robustness: every corpus-level curation operator
  * must return a well-formed (usually empty) result on an EMPTY corpus
  * and a sane one on a SINGLE-row corpus — not throw. These are the
  * boundary states every long-lived 100 TB deployment actually visits
  * (first load of a new corpus version, a partition whose filter
  * matched nothing, a delta with one document), and the failure mode
  * they guard against — `head()` on an empty frame, a null aggregate
  * flowing into arithmetic, a window over zero rows — is a crash, not
  * a wrong answer, so no oracle covers it.
  */
class EdgeCaseSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = SparkSpec.sf

  /** A corpus dir holding EMPTY documents + embeddings tables with the
    * real schemas (parquet written from limit(0) of the fixtures). */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("edge-empty").toString
    Seq("documents", "embeddings").foreach { t =>
      graft.schema.Schemas.table(spark, sf, t).limit(0)
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Same, with exactly ONE row per table. */
  private lazy val oneDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("edge-one").toString
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (t, id) =>
        graft.schema.Schemas.table(spark, sf, t)
          .orderBy(org.apache.spark.sql.functions.col(id)).limit(1)
          .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private val corpusOps: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "dedup_exact" -> ((s, d) => graft.query.Dedup.dedupExact(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => graft.query.Dedup.dedupMinhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => graft.query.Dedup.dedupSimhash(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => graft.query.Dedup.dedupNgramJaccard(s, d)),
    "dedup_semantic" -> ((s, d) => graft.query.Dedup.dedupSemantic(s, d)),
    "dedup_embedding_cosine" ->
      ((s, d) => graft.query.Dedup.dedupEmbeddingCosine(s, d)),
    "emb_jl_recall" -> ((s, d) => graft.query.Similarity.embJlRecall(s, d)),
    "text_quality" -> ((s, d) => graft.query.TextAnalysis.textQuality(s, d)),
    "text_tfidf" -> ((s, d) => graft.query.TextAnalysis.textTfidf(s, d)),
    "corpus_temperature_mix" ->
      ((s, d) => graft.query.TextAnalysis.corpusTemperatureMix(s, d)))

  test("empty corpus: every corpus-level operator returns a well-formed empty result") {
    graft.schema.IndexCache.clear()
    corpusOps.foreach { case (name, op) =>
      val out =
        try op(spark, emptyDir).collect()
        catch { case e: Throwable =>
          fail(s"$name threw on the empty corpus: $e") }
      assert(out.isEmpty, s"$name returned rows on an empty corpus")
    }
    graft.schema.IndexCache.clear()
  }

  test("empty corpus: the round-14 eval/curation/embedding wave " +
      "degrades to empty or all-null single rows, never a crash") {
    val evDir = java.nio.file.Files.createTempDirectory("edge-ev14").toString
    graft.schema.Schemas.table(spark, sf, "events").limit(0)
      .coalesce(1).write.parquet(s"$evDir/events.parquet")
    // events-backed: empty-keyed aggregates give zero rows
    Seq[(String, DataFrame)](
      "eval_paired_bootstrap" ->
        graft.query.ml.Significance.evalPairedBootstrap(spark, evDir),
      "eval_bradley_terry" ->
        graft.query.ml.Preference.evalBradleyTerry(spark, evDir),
      "eval_win_rate_matrix" ->
        graft.query.ml.Preference.evalWinRateMatrix(spark, evDir),
      "privacy_rand_response" ->
        graft.query.stats.Privacy.privacyRandResponse(spark, evDir),
      "mv_topk_delta" ->
        graft.query.Warehouse.mvTopkDelta(spark, evDir))
      .foreach { case (name, df) =>
        val out = try df.collect()
          catch { case e: Throwable =>
            fail(s"$name threw on the empty corpus: $e") }
        assert(out.isEmpty, s"$name returned rows on an empty corpus")
      }
    // global single-row aggregates: one row of zero counts and NULL
    // statistics (the oracle-consistent shape), never 0/0
    Seq[(String, DataFrame)](
      "eval_fleiss_kappa" ->
        graft.query.ml.Agreement.evalFleissKappa(spark, evDir),
      "eval_krippendorff_alpha" ->
        graft.query.ml.Agreement.evalKrippendorffAlpha(spark, evDir))
      .foreach { case (name, df) =>
        val out = try df.collect()
          catch { case e: Throwable =>
            fail(s"$name threw on the empty corpus: $e") }
        assert(out.length == 1 && out.head.getLong(0) == 0L,
          s"$name must report zero items")
      }
    // documents/embeddings-backed: all empty
    Seq[(String, DataFrame)](
      "corpus_ccnet_buckets" ->
        graft.query.TextAnalysis.corpusCcnetBuckets(spark, emptyDir),
      "corpus_epoch_repeat" ->
        graft.query.TextAnalysis.corpusEpochRepeat(spark, emptyDir),
      "corpus_source_overlap" ->
        graft.query.TextAnalysis.corpusSourceOverlap(spark, emptyDir),
      "pref_pair_margin" ->
        graft.query.ml.Preference.prefPairMargin(spark, emptyDir),
      "text_span_mask_plan" ->
        graft.query.TextAnalysis.textSpanMaskPlan(spark, emptyDir),
      "eval_chrf" -> graft.query.ml.TextMetrics.evalChrf(spark, emptyDir),
      "text_heldout_perplexity" ->
        graft.query.TextAnalysis.textHeldoutPerplexity(spark, emptyDir),
      "eval_rank_corr" ->
        graft.query.ml.Ranking.evalRankCorr(spark, emptyDir),
      "ann_hamming_topk" ->
        graft.query.Similarity.annHammingTopK(spark, emptyDir),
      "ann_hamming_mih" ->
        graft.query.Similarity.annHammingMih(spark, emptyDir),
      "emb_label_cohesion" ->
        graft.query.Similarity.embLabelCohesion(spark, emptyDir),
      "emb_label_separation" ->
        graft.query.Similarity.embLabelSeparation(spark, emptyDir),
      "dedup_cascade_report" ->
        graft.query.Dedup.dedupCascadeReport(spark, emptyDir))
      .foreach { case (name, df) =>
        val out = try df.collect()
          catch { case e: Throwable =>
            fail(s"$name threw on the empty corpus: $e") }
        assert(out.isEmpty, s"$name returned rows on an empty corpus")
      }
    // degenerate non-empty: constant scores make every rank tie — the
    // rank-correlation guards must yield NULL rho/tau, not a crash
    val constDir =
      java.nio.file.Files.createTempDirectory("edge-const").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Seq((0L, "w w"), (1L, "w w"), (2L, "w w"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$constDir/documents.parquet")
    val rc = graft.query.ml.Ranking.evalRankCorr(spark, constDir).collect()
    assert(rc.length == 1 && rc.head.isNullAt(5) && rc.head.isNullAt(12),
      "constant signals must yield NULL correlations")
  }

  test("empty events stream: stateful drains produce zero rows, not a crash") {
    // first trigger on a brand-new stream with nothing to read — the
    // state-store setup, watermark init, and finalization batch all run
    // against zero input
    val dir = java.nio.file.Files.createTempDirectory("edge-empty-ev").toString
    graft.schema.Schemas.table(spark, sf, "events").limit(0)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val windowed =
      graft.streaming.StreamQueries.streamWindowAgg(spark, dir).collect()
    assert(windowed.isEmpty, "windowed agg invented rows on an empty stream")
    val sessions =
      graft.streaming.StreamQueries.streamSessionCounts(spark, dir).collect()
    assert(sessions.isEmpty, "sessionizer invented rows on an empty stream")
  }

  test("single-row corpus: no self-pairs, singletons kept, stats well-formed") {
    graft.schema.IndexCache.clear()
    // text near-dup ops PLANT a twin (doc_id+1000000) for doc_id<10 by
    // declared design — a singleton corpus must pair with its twin and
    // NOTHING else
    Seq[(String, DataFrame)](
      "dedup_minhash_lsh" -> graft.query.Dedup.dedupMinhashLsh(spark, oneDir),
      "dedup_ngram_jaccard" ->
        graft.query.Dedup.dedupNgramJaccard(spark, oneDir))
      .foreach { case (name, df) =>
        val pairs = df.select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(pairs.forall { case (a, b) => b == a + 1000000L },
          s"$name produced a non-planted pair on a singleton: $pairs")
      }
    // the embeddings table has no planting: a single vector cannot pair
    assert(graft.query.Dedup.dedupEmbeddingCosine(spark, oneDir)
      .collect().isEmpty, "dedup_embedding_cosine paired a singleton")
    // verdict ops: the singleton survives
    val sem = graft.query.Dedup.dedupSemantic(spark, oneDir).collect()
    assert(sem.length == 1 && sem.head.getBoolean(2),
      "dedup_semantic must keep the only vector")
    val mix = graft.query.TextAnalysis.corpusTemperatureMix(spark, oneDir)
      .collect()
    assert(mix.length == 1 && mix.head.getLong(1) == 1L
      && mix.head.getLong(2) == 1L,
      "temperature mix must keep the only doc whole")
    graft.schema.IndexCache.clear()
  }

  /** Star-schema dir with EMPTY fact/dim tables (round-12 family). */
  private lazy val emptyStarDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("edge-star").toString
    Seq("lineitem", "orders", "part", "supplier", "nation", "region",
      "embeddings", "customer", "documents", "events").foreach { t =>
      graft.schema.Schemas.table(spark, sf, t).limit(0)
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("round-12 family: empty star schema degrades to well-formed results") {
    import graft.query.{Graph, Similarity, Warehouse}
    import graft.query.ml.{Calibration, Preference, Scoring}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, TimeSeries}
    // empty edge list → zero components via the union-find path
    assert(Graph.graphConnectedComponents(spark, emptyStarDir)
      .collect().isEmpty)
    // and via the forced distributed path
    assert(Graph.graphConnectedComponents(spark, emptyStarDir,
      driverUnionFindMax = 0L).collect().isEmpty)
    assert(Preference.paretoFrontier(spark, emptyStarDir).collect().isEmpty)
    // profile keeps its 4 rows with n_rows=0 and null extrema — the
    // ANALYZE contract for an empty table, not a crash
    val prof = Quality.profileTableStats(spark, emptyStarDir).collect()
    assert(prof.length == 4 && prof.forall(r =>
      r.getLong(1) == 0L && r.isNullAt(4) && r.isNullAt(5)))
    assert(Calibration.evalCalibrationBins(spark, emptyStarDir)
      .collect().isEmpty)
    // missing query vector → empty top-k, not head() on nothing
    assert(Similarity.annL2TopK(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.snapshotDiff(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.layoutCompactionPlan(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.mvIncrementalMerge(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlProductTypeProfit(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlSupplierCntByParttype(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlMinCostSupplier(spark, emptyStarDir)
      .collect().isEmpty)
  }

  test("round-12 late batches: empty tables degrade to well-formed results") {
    import graft.query.{Graph, Similarity, TextAnalysis, Warehouse}
    import graft.query.ml.{Calibration, Preference, Scoring, TextMetrics}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, TimeSeries}
    assert(Drift.driftChi2Terms(spark, emptyStarDir).collect().isEmpty)
    assert(TimeSeries.tsCusumChangepoint(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Anomaly.anomalySpcRuns(spark, emptyStarDir).collect().isEmpty)
    // AUC over nothing: one row, zero counts, null rate — not a crash
    val auc = Scoring.evalAucRoc(spark, emptyStarDir).collect()
    assert(auc.length == 1 && auc.head.getLong(0) == 0L
      && auc.head.isNullAt(2))
    assert(TextAnalysis.corpusDiversityStats(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textBigramLogprob(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.piiScanReport(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.contextLengthBands(spark, emptyStarDir)
      .collect().isEmpty)
    // the DQ gate still reports every constraint, all zero-checked
    val dq = Quality.dqConstraintReport(spark, emptyStarDir).collect()
    assert(dq.length == 5 && dq.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L))
    assert(Warehouse.sqlYearlyGrowth(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlBasketAffinity(spark, emptyStarDir)
      .collect().isEmpty)
    assert(graft.query.Multimodal.multimodalResizePlan(spark, emptyStarDir)
      .collect().isEmpty)
    assert(graft.query.Multimodal.multimodalAudioWindows(spark, emptyStarDir)
      .collect().isEmpty)
  }

  test("round-13 family: empty tables degrade to well-formed results") {
    import graft.query.{Dedup, Graph, Relational, Similarity, TextAnalysis,
      Warehouse}
    import graft.query.ml.{Calibration, Scoring, TextMetrics}
    import graft.query.stats.{Privacy, Quality, TimeSeries}
    // scalar evaluations keep their report row with zero counts/null stats
    val ap = Scoring.evalPrAuc(spark, emptyStarDir).collect()
    assert(ap.length == 1 && ap.head.getLong(0) == 0L && ap.head.isNullAt(1))
    val as = Graph.graphAssortativity(spark, emptyStarDir).collect()
    assert(as.length == 1 && as.head.getLong(0) == 0L && as.head.isNullAt(1))
    val zs = TextAnalysis.textZipfSlope(spark, emptyStarDir).collect()
    assert(zs.length == 1 && zs.head.getLong(0) == 0L && zs.head.isNullAt(1))
    // per-dim recall keeps its dim rows with null recall (no neighbors)
    val mr = Similarity.embMatryoshkaRecall(spark, emptyStarDir).collect()
    assert(mr.length == 3 && mr.forall(_.isNullAt(1)))
    // row-emitting operators produce zero rows, not a crash
    assert(Graph.graphCommonNeighbors(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.attributionLastTouch(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.aggLinregByGroup(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.joinAsofNearest(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textGopherRules(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textLlrCollocations(spark, emptyStarDir)
      .collect().isEmpty)
    // zone-map report keeps both layout rows with zero zones
    val zm = Warehouse.statsZoneMap(spark, emptyStarDir).collect()
    assert(zm.length == 2 && zm.forall(_.getLong(1) == 0L))
    // batch 2: fold/rank operators emit zero rows on empty input
    assert(TimeSeries.tsHoltForecast(spark, emptyStarDir).collect().isEmpty)
    assert(Similarity.retrievalNdcg(spark, emptyStarDir).collect().isEmpty)
    assert(Similarity.embPowerIteration(spark, emptyStarDir)
      .collect().isEmpty)
    // the ablation CUBE keeps at most its grand-total row, zero-counted
    val abl = TextAnalysis.qualityAblationReport(spark, emptyStarDir)
      .collect()
    assert(abl.forall(_.getLong(4) == 0L))
    // batch 3
    assert(Relational.windowRollingSlope(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Calibration.evalBrierDecomp(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textOovRate(spark, emptyStarDir).collect().isEmpty)
    assert(Privacy.privacyKAnonymity(spark, emptyStarDir)
      .collect().isEmpty)
    // batch 4
    assert(Relational.windowDrawdown(spark, emptyStarDir).collect().isEmpty)
    assert(Relational.joinAsofTolerance(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Graph.graphLocalClustering(spark, emptyStarDir)
      .collect().isEmpty)
    val pc = Relational.aggParetoConcentration(spark, emptyStarDir)
      .collect()
    assert(pc.length <= 1 && pc.forall(r => r.isNullAt(0) || r.getLong(0) == 0L))
    // batch 5
    assert(TimeSeries.tsAutocorrLag1(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphCopurchaseWeights(spark, emptyStarDir)
      .collect().isEmpty)
    val hx = TextAnalysis.textHapaxStats(spark, emptyStarDir).collect()
    assert(hx.length == 1 && hx.head.getLong(0) == 0L)
    // batch 6
    val gn = Relational.aggGiniCents(spark, emptyStarDir).collect()
    assert(gn.length == 1 && gn.head.getLong(0) == 0L)
    assert(Dedup.dedupPrefixGroups(spark, emptyStarDir)
      .collect().isEmpty)
    // batch 7
    assert(Scoring.evalSilhouetteCentroid(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Similarity.embDimStats(spark, emptyStarDir).collect().isEmpty)
    // batch 8
    assert(TimeSeries.tsHoltBacktest(spark, emptyStarDir).collect().isEmpty)
    assert(Privacy.privacyLDiversity(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Quality.dqFreshnessLag(spark, emptyStarDir)
      .collect().isEmpty)
    // batch 9
    assert(Relational.aggEntropyByKey(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textJsDivergence(spark, emptyStarDir)
      .collect().isEmpty)
  }

  test("round-14 family: empty star schema degrades to well-formed results") {
    import graft.query.{Dedup, Graph, Relational, Similarity, TextAnalysis,
      Warehouse}
    import graft.query.ml.{Agreement, Calibration, Preference, Ranking,
      Scoring, Significance}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
      TimeSeries}
    graft.schema.IndexCache.clear()
    assert(Sampling.sampleWeighted(spark, emptyStarDir).collect().isEmpty)
    assert(Relational.aggWeightedMedian(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TimeSeries.tsIntervalUnion(spark, emptyStarDir).collect().isEmpty)
    assert(Drift.driftPsi(spark, emptyStarDir).collect().isEmpty)
    // FK profile keeps its 2 relationship rows with zero counts
    val dq = Quality.dqJoinProfile(spark, emptyStarDir).collect()
    assert(dq.length == 2 && dq.forall(_.getLong(1) == 0L))
    assert(Warehouse.attributionLinear(spark, emptyStarDir)
      .collect().isEmpty)
    // empty graph: percentile threshold is null — empty core, no unbox
    assert(Graph.graphKcore(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphTwoHopReach(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.joinEditDistance(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.fVariantJson(spark, emptyStarDir).collect().isEmpty)
    assert(Dedup.dedupTimeWindow(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.corpusSampleStratified(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Anomaly.anomalyRollingZ(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.aggHistogramQuantiles(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlInactiveCustomers(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.sqlPriorityReturns(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.qualityLangConfusion(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.aggDowHourGrid(spark, emptyStarDir).collect().isEmpty)
    assert(Privacy.privacyDpCounts(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.corpusMixWeights(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Significance.evalKsTest(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.sqlMonthlyCumRevenue(spark, emptyStarDir)
      .collect().isEmpty)
    // empty corpus histogram: no dim to probe, no rows
    assert(Similarity.embHubnessStats(spark, emptyStarDir)
      .collect().isEmpty)
    // stateful streaming round-14: zero rows, not a crash
    assert(graft.streaming.StreamQueries
      .streamTransformWithState(spark, emptyStarDir).collect().isEmpty)
    assert(graft.streaming.StreamQueries
      .streamIdleTimeout(spark, emptyStarDir).collect().isEmpty)
    assert(graft.streaming.StreamQueries
      .streamUserTopValues(spark, emptyStarDir).collect().isEmpty)
    assert(graft.streaming.StreamQueries
      .streamUserTypeCounts(spark, emptyStarDir).collect().isEmpty)
    graft.schema.IndexCache.clear()
  }

  /** Star-schema dir with exactly ONE row per table. */
  private lazy val oneStarDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("edge-star1").toString
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey",
      "nation" -> "n_nationkey", "region" -> "r_regionkey",
      "embeddings" -> "vec_id", "customer" -> "c_custkey",
      "documents" -> "doc_id", "events" -> "event_id").foreach {
      case (t, id) =>
        graft.schema.Schemas.table(spark, sf, t)
          .orderBy(org.apache.spark.sql.functions.col(id)).limit(1)
          .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("round-14 family: single-row star degrades to well-formed results") {
    import graft.query.{Dedup, Graph, Relational, TextAnalysis, Warehouse}
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
      TimeSeries}
    import org.apache.spark.sql.functions._
    graft.schema.IndexCache.clear()
    // one order, one customer: weighted sample of size 1, exact key
    val sw = Sampling.sampleWeighted(spark, oneStarDir).collect()
    assert(sw.length == 1)
    val wm = Relational.aggWeightedMedian(spark, oneStarDir).collect()
    assert(wm.length == 1)
    // one event: one island covering exactly the hold window
    val iu = TimeSeries.tsIntervalUnion(spark, oneStarDir).collect()
    assert(iu.length == 1 && iu.head.getLong(1) == 1L
      && iu.head.getLong(2) == 300000000L)
    // single timestamp: the one event is 'late' by the midpoint rule
    val psi = Drift.driftPsi(spark, oneStarDir).collect()
    assert(psi.length == 1 && psi.head.getLong(1) == 0L
      && psi.head.getLong(2) == 1L)
    // one-sided KS (only one event type present) is undefined — empty
    assert(Significance.evalKsTest(spark, oneStarDir).collect().isEmpty)
    // one vector: a single decile row; lift defined iff label is odd
    val dl = Scoring.evalDecileLift(spark, oneStarDir).collect()
    assert(dl.length == 1 && dl.head.getLong(1) == 1L)
    // constant-value histogram: all three quantiles land in bin 0 at lo
    val hq = Relational.aggHistogramQuantiles(spark, oneStarDir).collect()
    assert(hq.length == 3)
    // single lineitem row: no co-purchase pairs — graph ops are empty
    assert(Graph.graphKcore(spark, oneStarDir).collect().isEmpty)
    assert(Graph.graphTwoHopReach(spark, oneStarDir)
      .collect().isEmpty)
    // singleton vocabulary: no pairs
    assert(Relational.joinEditDistance(spark, oneStarDir)
      .collect().isEmpty)
    // one user, one event: kept verbatim; no anomaly baseline yet
    assert(Dedup.dedupTimeWindow(spark, oneStarDir)
      .collect().length == 1)
    assert(Anomaly.anomalyRollingZ(spark, oneStarDir)
      .collect().isEmpty)
    assert(Quality.dqVolumeAnomaly(spark, oneStarDir)
      .collect().isEmpty)
    // one doc: ceil(10%) of a 1-doc stratum keeps it
    assert(TextAnalysis.corpusSampleStratified(spark, oneStarDir)
      .collect().length == 1)
    val mw = TextAnalysis.corpusMixWeights(spark, oneStarDir).collect()
    assert(mw.length == 1 && mw.head.getDouble(2) == 1.0
      && mw.head.getDouble(3) == 1.0)
    val dp = Privacy.privacyDpCounts(spark, oneStarDir).collect()
    assert(dp.length == 1 && dp.head.getLong(1) == 1L)
    val tv = Privacy.privacyTClosenessTv(spark, oneStarDir).collect()
    assert(tv.length == 1 && tv.head.getFloat(2) == 0.0f,
      "a lone class IS the corpus distribution — TV must be 0")
    val fk = Quality.dqJoinProfile(spark, oneStarDir).collect()
    assert(fk.length == 2)
    graft.schema.IndexCache.clear()
  }

  test("round-15 family: empty and single-row corpora degrade to " +
      "well-formed results") {
    import graft.query.{Dedup, Graph, Multimodal, Relational, TextAnalysis,
      Warehouse}
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance, TextMetrics}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
      TimeSeries}
    import graft.streaming.StreamQueries
    graft.schema.IndexCache.clear()
    // EMPTY corpus: recurrences, decompositions, spectra, moments, and
    // the graph/text/multimodal round-15 ops all return zero rows
    assert(Anomaly.anomalyAlertDebounce(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TimeSeries.tsStlDecompose(spark, emptyStarDir).collect().isEmpty)
    assert(TimeSeries.tsPeriodogram(spark, emptyStarDir).collect().isEmpty)
    assert(Relational.aggSkewKurtosis(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphHits(spark, emptyStarDir).collect().isEmpty)
    assert(TextAnalysis.textKeywordsTopk(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Multimodal.multimodalSceneCuts(spark, emptyStarDir)
      .collect().isEmpty)
    assert(StreamQueries.streamScd2Enrich(spark, emptyStarDir)
      .collect().isEmpty)
    assert(StreamQueries.streamRateLimit(spark, emptyStarDir)
      .collect().isEmpty)
    // the global t-test aggregate emits its one summary row; with zero
    // population the moments are undefined — null/NaN, never a throw
    val tt = Relational.aggTtestWelch(spark, emptyStarDir).collect()
    assert(tt.length <= 1)
    tt.foreach { r => assert(r.getLong(0) == 0L && r.getLong(1) == 0L) }
    graft.schema.IndexCache.clear()
    // SINGLE-row corpus: the lone event is always admitted/alerted; the
    // one-hour series cannot fill a 25-row trend frame (null trend); a
    // single doc yields ≤3 keywords ranked from 1; a single part is its
    // own authority=degree=1 with score 1
    val deb = Anomaly.anomalyAlertDebounce(spark, oneStarDir).collect()
    assert(deb.length <= 1) // the one event alerts iff it is an error
    // BOTH stored layouts stream: events.parquet as a DIRECTORY of part
    // files (what oneStarDir's Spark write produced — the layout the
    // glob form silently drained as zero rows before the probe)…
    val rlDir = StreamQueries.streamRateLimit(spark, oneStarDir).collect()
    assert(rlDir.length == 1 && rlDir.head.getBoolean(2),
      "directory-layout events must stream")
    // …and as a single FILE (the driver-testdata layout)
    val oneEvFileDir = {
      val base = java.nio.file.Files.createTempDirectory("edge-one-evfile")
      val stage = base.resolve("stage").toString
      graft.schema.Schemas.events(spark, sf)
        .orderBy(org.apache.spark.sql.functions.col("event_id")).limit(1)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, base.resolve("events.parquet"))
      base.toString
    }
    val rl = StreamQueries.streamRateLimit(spark, oneEvFileDir).collect()
    assert(rl.length == 1 && rl.head.getBoolean(2),
      "the first event must always be admitted")
    val stl = TimeSeries.tsStlDecompose(spark, oneStarDir).collect()
    assert(stl.length == 1 && stl.head.isNullAt(2))
    val kw = TextAnalysis.textKeywordsTopk(spark, oneStarDir).collect()
    assert(kw.nonEmpty && kw.length <= 3 && kw.head.getInt(1) == 1)
    val hits = Graph.graphHits(spark, oneStarDir).collect()
    assert(hits.length == 1 && hits.head.getLong(1) == 1L
      && hits.head.getFloat(2) == 1.0f)
    val sc = Multimodal.multimodalSceneCuts(spark, oneStarDir).collect()
    assert(sc.length == 1 && sc.head.getLong(2) >= 1L)
    graft.schema.IndexCache.clear()
  }

  test("round-15 second wave: empty corpus degrades to well-formed results") {
    import graft.query.{Dedup, Graph, Relational, TextAnalysis, Warehouse}
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance, TextMetrics}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
      TimeSeries}
    import graft.streaming.StreamQueries
    graft.schema.IndexCache.clear()
    // empty-result family: no input rows → no output rows, never a crash
    assert(Warehouse.sqlCustomerRfm(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.sqlAbcAnalysis(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.sqlLeadTimePercentiles(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Warehouse.cohortLtv(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphModularity(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphRandomWalks(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphWalkCooccurrence(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.windowMaxSubarray(spark, emptyStarDir).collect().isEmpty)
    assert(Warehouse.attributionTimeDecay(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textBoilerplateFrac(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TextAnalysis.textBpeEncode(spark, emptyStarDir).collect().isEmpty)
    assert(StreamQueries.streamWindowedDistinct(spark, emptyStarDir)
      .collect().isEmpty)
    // summary-row family: the report emits its fixed panel with zero
    // counts (an empty corpus is a finding, not an error)
    val pk = Quality.dqPkUniqueness(spark, emptyStarDir).collect()
    assert(pk.length == 5 && pk.forall(r =>
      r.getLong(1) == 0L && r.getLong(3) == 0L))
    val tt = Relational.aggTtestWelch(spark, emptyStarDir).collect()
    assert(tt.length <= 1)
    val kap = Agreement.evalCohensKappa(spark, emptyStarDir).collect()
    assert(kap.length <= 1)
    kap.foreach(r => assert(r.getLong(0) == 0L))
    graft.schema.IndexCache.clear()
  }

  test("round-15 third wave (driver round): empty corpus degrades to " +
      "well-formed results") {
    import graft.query.{Dedup, Graph, Multimodal, Relational, TextAnalysis,
      Warehouse}
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance, TextMetrics}
    import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
      TimeSeries}
    assert(Dedup.dedupSubstringMaximal(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TimeSeries.tsTheilSen(spark, emptyStarDir).collect().isEmpty)
    assert(Quality.dqBenfordLaw(spark, emptyStarDir).collect().isEmpty)
    assert(TextAnalysis.textReadability(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Multimodal.multimodalImageResize(spark, emptyStarDir)
      .collect().isEmpty)
    // ICC over nothing: one row, zero items, null mean squares / ICCs
    val icc = Agreement.evalIcc(spark, emptyStarDir).collect()
    assert(icc.length == 1 && icc.head.getLong(0) == 0L
      && icc.head.isNullAt(5) && icc.head.isNullAt(6))
    // the streaming monitor twins share the batch degrade contracts:
    // PSI's head-gate returns the typed empty frame, ECE drains nothing
    assert(graft.streaming.StreamQueries.streamDriftPsi(spark, emptyStarDir)
      .collect().isEmpty)
    assert(graft.streaming.StreamQueries.streamEvalEce(spark, emptyStarDir)
      .collect().isEmpty)
    assert(graft.streaming.StreamQueries.streamDqBenford(spark, emptyStarDir)
      .collect().isEmpty)
    graft.schema.IndexCache.clear()
  }

  test("round-16 family: empty corpus degrades to well-formed results") {
    import graft.query.{Dedup, Graph, Relational}
    import graft.query.ml.{Agreement, Significance}
    import graft.query.stats.{Privacy, TimeSeries}
    import graft.streaming.StreamQueries
    graft.schema.IndexCache.clear()
    // empty-result family: no rows in → no rows out, never a throw
    assert(Significance.evalCliffsDelta(spark, emptyStarDir)
      .collect().isEmpty)
    assert(TimeSeries.tsCusumTarget(spark, emptyStarDir).collect().isEmpty)
    assert(TimeSeries.tsCroston(spark, emptyStarDir).collect().isEmpty)
    assert(TimeSeries.tsSaxSymbolic(spark, emptyStarDir).collect().isEmpty)
    assert(TimeSeries.tsCcfLags(spark, emptyStarDir).collect().isEmpty)
    assert(Relational.aggTheilIndex(spark, emptyStarDir).collect().isEmpty)
    assert(Graph.graphKatzCentrality(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Graph.graphEgoBetweenness(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Graph.graphRichClub(spark, emptyStarDir).collect().isEmpty)
    assert(Dedup.dedupThresholdCurve(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Relational.windowRollingCorr(spark, emptyStarDir)
      .collect().isEmpty)
    assert(StreamQueries.streamCusumTarget(spark, emptyStarDir)
      .collect().isEmpty)
    assert(StreamQueries.streamCroston(spark, emptyStarDir)
      .collect().isEmpty)
    // summary-row family: one global-aggregate row of zero counts and
    // null/NaN statistics — an empty corpus is a finding, not an error
    Seq(Significance.evalMannWhitneyU(spark, emptyStarDir),
        Significance.evalWilcoxonSignedRank(spark, emptyStarDir),
        Significance.evalTostEquivalence(spark, emptyStarDir),
        Agreement.evalGwetAc1(spark, emptyStarDir),
        Significance.evalCohensD(spark, emptyStarDir),
        Significance.evalMdePower(spark, emptyStarDir),
        TimeSeries.tsHurstExponent(spark, emptyStarDir)).foreach { df =>
      assert(df.collect().length <= 1)
    }
    // the DP median still releases its 3-candidate panel (rank utility
    // null over an empty histogram — auditable, not a crash)
    assert(Privacy.privacyDpQuantile(spark, emptyStarDir)
      .collect().length == 3)
    graft.schema.IndexCache.clear()
  }

  test("round-17 family: empty and single-row corpora degrade to " +
      "well-formed results") {
    import graft.query.{Graph, Similarity}
    import graft.query.ml.Significance
    import graft.query.stats.Privacy
    graft.schema.IndexCache.clear()
    // empty: no events → no DP releases / no BCa row (n_items > 0
    // gate); no embeddings → no quantizer, no cells; no lineitem → no
    // edges, no sources
    assert(Privacy.privacyDpClippedMean(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Significance.evalBootstrapBca(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Similarity.annIvfDeltaAssign(spark, emptyStarDir)
      .collect().isEmpty)
    assert(Graph.graphSsspWeighted(spark, emptyStarDir)
      .collect().isEmpty)
    graft.schema.IndexCache.clear()
    // singleton: one event releases one noisy row; the BCa epilogue
    // survives degenerate replicas (n_eff may be 0 — the statistic is
    // meaningless but the release is well-formed, never a crash); the
    // single embedding has vec_id 0 ⇒ delta-only, so the corpus-trained
    // quantizer is empty and the release is the honest zero-cell one;
    // one lineitem row has no co-purchase pair ⇒ no graph
    val dp1 = Privacy.privacyDpClippedMean(spark, oneStarDir).collect()
    assert(dp1.length == 1 && dp1.head.getAs[Long]("n_exact") == 1L
      && dp1.head.getAs[Float]("dp_count") >= 1.0f)
    assert(Significance.evalBootstrapBca(spark, oneStarDir)
      .collect().length <= 1)
    assert(Similarity.annIvfDeltaAssign(spark, oneStarDir)
      .collect().isEmpty)
    assert(Graph.graphSsspWeighted(spark, oneStarDir)
      .collect().isEmpty)
    graft.schema.IndexCache.clear()
  }
}
