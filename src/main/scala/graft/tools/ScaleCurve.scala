package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling curves for the flagship operator families.
  *
  * The brief's scale claim ("would it survive a 100× scale-up?") was
  * argued via plan shapes and O() reasoning; this tool converts the
  * argument into a measurement: it synthesizes a ~sf1 corpus (10× the
  * sf0.1 bench data) under `target/scale/sf1`, then times each family
  * at sf0.01 / sf0.1 / sf1-synth in a FRESH Spark session per point
  * (so per-corpus indexes — LSH bands, graph edges, token frequencies,
  * BM25 constants — are rebuilt inside the timed window, not served
  * from a previous point's cache), and prints per-family wall-clock
  * with the fitted scaling exponent e where t ∝ sf^e.
  *
  * Synthesis = 10 shifted-and-mutated copies of each sf0.1 table, NOT
  * 10 verbatim copies: verbatim replication would make every document
  * near-identical to 9 others (candidate-pair counts would then grow
  * quadratically for real — a property of that degenerate corpus, not
  * of the engine), so each copy's text is alphabet-rotated (shingle
  * sets disjoint across copies, identical within), embeddings get
  * per-element deterministic jitter, and graph/star keys are shifted
  * by a copy stride (degree distribution preserved, vertex count 10×).
  *
  * Dev/measurement tool only — not part of the driver contract.
  * Usage: runMain graft.tools.ScaleCurve [copies]
  */
object ScaleCurve {
  private val srcSmall = "/root/testdata/sf0.01"
  private val srcMid = "/root/testdata/sf0.1"
  private val warmDir = "/root/testdata/sf0.001"
  private val stride = 1000000000L // > any key in the sf0.1 generation

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    // keyed by the copies count itself: sf${copies/10} collided
    // distinct sizes (10 and 12 both → "sf1", 5 → "sf0") and the
    // _GRAFT_COMPLETE marker then served a stale corpus while
    // lastSpan assumed the requested size — silently skewing the
    // fitted exponent (r12 advice)
    val dstDir = s"target/scale/x$copies"
    val spark = DevSession("graft-scale-curve")

    synthesize(spark, srcMid, dstDir, copies)

    val allFamilies: Seq[(String, Seq[String])] = Seq(
      "lsh_dedup" -> Seq("dedup_minhash_lsh"),
      "graph_index" -> Seq("graph_pagerank", "graph_kcore"),
      "token_index" -> Seq("text_bm25", "retrieval_rrf_hybrid"),
      "embedding" -> Seq("dedup_embedding_cosine", "ann_lsh_topk"),
      "streaming" -> Seq("stream_window_agg"),
      "prefix_sum" -> Seq("s9_batch_assign"),
      // the r12 greedy-unroll/retrieval tier — exactly the family where
      // the kcenter plan-recursion defect lived; a super-linear exponent
      // here is the pre-bench alarm (r12 advice #5)
      "retrieval_greedy" -> Seq("retrieval_mmr_topk",
        "sample_kcenter_coreset", "retrieval_colbert_maxsim",
        "ann_hard_negatives"),
      // round-14 coverage (r13 advice #5): the sorted-group sequential
      // recurrences are measured with maxUser unbounded so the user
      // population — the family's parallelism grain — grows with the
      // corpus instead of pinning to the declared queries' 50-user panel
      "sorted_recurrence" -> Seq("ts_kalman_1d_all",
        "window_bollinger_bands_all", "window_hampel_filter_all",
        "ts_pacf_durbin_levinson_all"),
      "substring_census" -> Seq("dedup_exact_substring",
        "dedup_substring_multiscale"),
      "ivf_pq" -> Seq("ann_ivf_pq_topk", "ann_ivf_topk"),
      "bpe_train" -> Seq("text_bpe_train"),
      "media_decode" -> Seq("multimodal_audio_decode",
        "multimodal_image_decode"),
      // round-14 second wave: the eval-statistics family (replica
      // fanout + sorted-group rank pass + distinct-score windows), the
      // arena pair (match-grain shuffle + scalar fixpoint), curation
      // map-only ops, and delta-contraction CC (whose cost must track
      // the DELTA, so near-flat exponents are the expectation for the
      // contraction leg — the corpus-scale term is the base labeling)
      "eval_stats" -> Seq("eval_paired_bootstrap", "eval_rank_corr",
        "eval_auc_delong", "eval_krippendorff_alpha"),
      "arena" -> Seq("eval_bradley_terry", "eval_win_rate_matrix"),
      "curation2" -> Seq("corpus_ccnet_buckets", "corpus_epoch_repeat",
        "text_span_mask_plan", "pref_pair_margin"),
      "cc_incremental" -> Seq("graph_cc_incremental"),
      // round-15: the WindowGateSpec two-level rewrites (global
      // rank/cumsum/CDF moved onto bucket-histogram offsets) and the
      // maximal-span second pass — the exact shapes whose former
      // single-partition windows would have gone super-linear
      "two_level_rank" -> Seq("sample_pps_systematic",
        "agg_pareto_concentration", "sql_customer_rfm", "eval_pr_auc"),
      "span_maximal" -> Seq("dedup_substring_maximal"),
      // round-16: the broadcast-pipelined courier stream (deg³ per ego
      // center, cohort-bounded) and the rank-test/CDF family — the x10
      // copies are vertex-disjoint, so ego cost should scale ~linearly
      // in centers while the CDF family tracks the distinct-value grain
      "ego_brokerage" -> Seq("graph_ego_betweenness"),
      // round-19: the subsampled BCa — the ×reps fanout rides a
      // ~fixed-size hash-threshold subsample, so the exponent should
      // collapse from the full form's by-design e≈0.44 toward the
      // residual single-pass scan
      "bca_sampled" -> Seq("eval_bootstrap_bca_sampled"),
      "rank_tests" -> Seq("eval_mann_whitney_u", "eval_cliffs_delta",
        "eval_wilcoxon_signed_rank", "ts_hurst_exponent"))

    // scale-variant forms that widen a declared query's fixed panel to
    // the whole corpus (the declared defaults exist for oracle-size
    // reasons, not scale ones)
    val scaleVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_kalman_1d_all" -> ((s, d) =>
      graft.query.stats.TimeSeries.tsKalman1d(s, d, maxUser = Long.MaxValue)),
    "window_bollinger_bands_all" -> ((s, d) =>
      graft.query.Relational.windowBollingerBands(s, d,
        maxUser = Long.MaxValue)),
    "window_hampel_filter_all" -> ((s, d) =>
      graft.query.Relational.windowHampelFilter(s, d,
        maxUser = Long.MaxValue)),
    "ts_pacf_durbin_levinson_all" -> ((s, d) =>
      graft.query.stats.TimeSeries.tsPacfDurbinLevinson(s, d,
        maxUser = Long.MaxValue)))

    def queryFn(name: String): (SparkSession, String) => DataFrame =
      scaleVariants.getOrElse(name, graft.SparkEntry.queries(name))
    // SCALE_FAMILIES=embedding,graph_index re-measures a subset
    val families = sys.env.get("SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
      .fold(allFamilies)(want => allFamilies.filter(f => want(f._1)))
    val points = Seq("sf0.01" -> srcSmall, "sf0.1" -> srcMid,
      s"x$copies" -> dstDir)

    // JIT/codegen warm-up outside every timed window, tiny fixture
    families.foreach { case (_, qs) =>
      qs.foreach { q =>
        try queryFn(q)(spark.newSession(), warmDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[warm] $q: ${e.getMessage}") }
      }
    }

    val rows = families.map { case (fam, qs) =>
      val times = points.map { case (label, dir) =>
        val s = spark.newSession() // fresh per-session index caches
        val t0 = System.nanoTime()
        qs.foreach(q => queryFn(q)(s, dir).count())
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $fam%-12s $label%-7s $sec%8.2f s")
        label -> sec
      }
      fam -> times
    }

    // t ∝ sf^e between adjacent points, normalized by each span's actual
    // width in decades (the last span is log10(copies) decades wide, not
    // 1, when copies ≠ 10)
    val lastSpan = math.log10(copies.toDouble)
    println(f"\nfamily        t(sf0.01)  t(sf0.1)   t(big)   e(0.01→0.1)  e(0.1→big)")
    rows.foreach { case (fam, ts) =>
      val t = ts.map(_._2)
      def e(a: Double, b: Double, span: Double) = math.log10(b / a) / span
      println(f"$fam%-12s ${t(0)}%9.2f ${t(1)}%9.2f ${t(2)}%8.2f " +
        f"${e(t(0), t(1), 1.0)}%12.2f ${e(t(1), t(2), lastSpan)}%9.2f")
    }
    spark.stop()
  }

  /** 10×-scale synthesis: `copies` shifted/mutated copies of each sf0.1
    * table written as parquet dirs under `dstDir`. Idempotent via a
    * completion marker. */
  def synthesize(spark: SparkSession, srcDir: String, dstDir: String,
      copies: Int): Unit = {
    val done = s"$dstDir/_GRAFT_COMPLETE"
    if (graft.schema.Storage.exists(done)) return
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")

    // small dims pass through unscaled
    write(src("region"), "region")
    write(src("nation"), "nation")

    val ks = (0 until copies).map(_.toLong)
    def shifted(name: String, keys: Seq[String]): DataFrame = {
      val t = src(name)
      ks.map { k =>
        keys.foldLeft(t)((d, c) => d.withColumn(c, col(c) + lit(k * stride)))
      }.reduce(_ unionAll _)
    }
    write(shifted("customer", Seq("c_custkey")), "customer")
    write(shifted("supplier", Seq("s_suppkey")), "supplier")
    write(shifted("part", Seq("p_partkey")), "part")
    write(shifted("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")

    // documents: rotate the alphabet per copy — within-copy shingle
    // structure identical to sf0.1, across-copy shingle sets disjoint
    val docs = src("documents")
    val abc = "abcdefghijklmnopqrstuvwxyz"
    write(ks.map { k =>
      val rot = abc.drop((k % 26).toInt) + abc.take((k % 26).toInt)
      docs.select((col("doc_id") + lit(k * stride)).as("doc_id"),
        translate(col("text"), abc, rot).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _), "documents")

    // embeddings: deterministic per-element jitter big enough to
    // DECORRELATE copies (amplitude 0.3 on unit vectors → cross-copy
    // cosine well below every dedup/bucket threshold). A first attempt
    // with amplitude 0.05 left copies at cosine ≈ 0.96 — every vector
    // had `copies` near-duplicates, so LSH candidate pairs grew
    // quadratically BY CONSTRUCTION and the curve measured that
    // degenerate corpus, not the engine.
    val emb = src("embeddings")
    write(ks.map { k =>
      emb.select((col("vec_id") + lit(k * stride)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin(col("vec_id") * lit(0.7) + i * lit(1.3) + lit(k * 2.1))
            * lit(0.3)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _), "embeddings")

    // events: 10× users on the same time span (per-user density and
    // watermark pressure preserved; copies interleave within seconds)
    val ev = graft.schema.Schemas.events(spark, srcDir)
    write(ks.map { k =>
      ev.select((col("event_id") + lit(k * stride)).as("event_id"),
        (col("ts") + expr(s"INTERVAL ${k} SECOND")).as("ts"),
        (col("user_id") + lit(k * stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _), "events")

    graft.schema.Storage.writeString(done, "")
    println(s"[scale] synthesized ${copies}x corpus at $dstDir")
  }
}
