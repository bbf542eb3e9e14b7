package graft.query
package ml

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The ML family's significance tests and effect sizes: KS,
  * Mann–Whitney, Cliff's delta, Wilcoxon, Friedman, McNemar, Cohen's d,
  * MDE/power, TOST and the paired and BCa bootstraps. */
object Significance {

  /** Exact two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of click and purchase events: D = max |F_a − F_b|
    * over the pooled sample, with ties handled at distinct-value grain
    * (both CDFs step together on a shared value). The
    * distribution-shift test a feature monitor runs beside
    * [[graft.query.stats.Drift.driftPsi]] when binning is too coarse. All CDF
    * terms are exact integer rationals, so D is bit-deterministic.
    *
    * Scale shape: one tiny-key pre-aggregation to DISTINCT pooled
    * values, then a [[TwoLevel]] prefix over the value grain (distinct
    * values of a continuous metric scale with the data, so no
    * unpartitioned window may touch them): values bucket by their
    * unit-width range (the [[graft.query.stats.Drift.driftKsValue]] shape —
    * bucket count is bounded by the metric's domain, not the corpus). */
  def evalKsTest(spark: SparkSession, dir: String): DataFrame = {
    val perValue = valueCounts(spark, dir)
    val tot = perValue.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    pooledValueCdf(perValue)
      .crossJoin(broadcast(tot))
      // one-sided sample: KS is undefined (and ANSI 0/0 throws)
      .filter(col("ta") > 0 && col("tb") > 0)
      // inclusive CDF counts: below the value plus its own ties
      .select(abs((col("ca_lt") + col("na")).cast("double")
          / col("ta").cast("double")
        - (col("cb_lt") + col("nb")).cast("double")
          / col("tb").cast("double")).as("d"),
        col("ta"), col("tb"))
      .groupBy(col("ta").as("n_click"), col("tb").as("n_purchase"))
      .agg(max(col("d")).as("ks_stat"))
      .select(col("n_click"), col("n_purchase"), col("ks_stat"))
  }


  /** McNemar's paired test between two deterministic classifiers scored
    * against one label on the SAME rows — the statistic that decides
    * whether classifier B actually beats classifier A, or the two just
    * disagree symmetrically. Only the discordant cells matter:
    * b = A right & B wrong, c = A wrong & B right,
    * χ² = (|b − c| − 1)² / (b + c) (Edwards continuity correction;
    * 0.0 when b + c = 0 — no discordance, nothing to test).
    *
    * Classifier A is [[Agreement.evalCohensKappa]]'s type-mean rule (integer
    * cross-multiplied compare), classifier B the same rule against the
    * GLOBAL mean, and the label the md5-parity PRF — all deterministic
    * and hash-replayable, so the contingency cells are exact BIGINTs in
    * any engine.
    *
    * Scale shape: one broadcast of the 5-row type means, one broadcast
    * 1-row global mean (the scalar-plan-constant discipline), one
    * map-side-combined 4-cell aggregate; the χ² is scalar math on the
    * single output row. */
  /** The shared paired-classifier frame of [[evalMcnemar]] and
    * [[evalPairedBootstrap]]: per event, whether classifier A (the
    * type-mean rule) and classifier B (the global-mean rule) each got
    * the PRF parity label right — all integer cross-multiplied
    * compares, hash-replayable in any engine. */
  private def pairedOkFrame(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    val typeMeans = e.groupBy(col("event_type"))
      .agg(sum(col("v3")).as("s3"), count(lit(1)).as("n_t"))
    val globalMean = e.agg(sum(col("v3")).as("g3"),
      count(lit(1)).as("n_g"))
    e.join(broadcast(typeMeans), Seq("event_type"))
      .crossJoin(broadcast(globalMean))
      .select(col("event_id"),
        (col("v3") * col("n_t") > col("s3")).as("pred_a"),
        (col("v3") * col("n_g") > col("g3")).as("pred_b"),
        (TokenHash.hash60(concat(col("event_id").cast("string"),
          lit(":label"))) % 2 === 1).as("label"))
      .select(col("event_id"),
        (col("pred_a") === col("label")).as("a_ok"),
        (col("pred_b") === col("label")).as("b_ok"))
  }

  def evalMcnemar(spark: SparkSession, dir: String): DataFrame = {
    val scored = pairedOkFrame(spark, dir).select(col("a_ok"), col("b_ok"))
    val cells = scored.agg(
      count(lit(1)).as("n"),
      sum(when(col("a_ok") && col("b_ok"), 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
        .as("n_a_only"),
      sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L))
        .as("n_b_only"),
      sum(when(!col("a_ok") && !col("b_ok"), 1L).otherwise(0L))
        .as("n_neither"))
    val b = col("n_a_only").cast("double")
    val c = col("n_b_only").cast("double")
    cells.select(col("n"), col("n_both"), col("n_a_only"),
      col("n_b_only"), col("n_neither"),
      when(col("n_a_only") + col("n_b_only") === 0, lit(0.0))
        .otherwise((abs(b - c) - lit(1.0)) * (abs(b - c) - lit(1.0))
          / (b + c))
        .cast("float").as("chi2"))
  }

  /** Cumulative Poisson(1) CDF thresholds scaled to 2⁶⁰, for the
    * deterministic bootstrap weights: w = k iff
    * t_{k-1} ≤ hash60 < t_k (k = 0..4, else 5). Computed ONCE here and
    * inlined as literals into both the Spark plan and the generated
    * DuckDB oracle, so the integer compares are identical by
    * construction. */
  private[graft] val poissonThresh60: Array[Long] = {
    val cdf = new Array[Double](5)
    var acc = 0.0; var fact = 1.0
    (0 until 5).foreach { k =>
      if (k > 0) fact *= k
      acc += math.exp(-1.0) / fact
      cdf(k) = acc
    }
    cdf.map(c => math.floor(c * 1152921504606846976.0).toLong)
  }

  /** Paired Poisson bootstrap between the two [[evalMcnemar]]
    * classifiers: `reps` = 50 deterministic bootstrap replicas, each
    * reweighting every item by a Poisson(1) draw derived from
    * hash60(id:boot:r), and the per-replica accuracy delta
    * acc_A − acc_B — the resampled significance test an eval harness
    * runs when McNemar's parametric assumptions are in doubt (the
    * spread of the 50 deltas IS the confidence interval, and the
    * fraction ≤ 0 the one-sided p-value).
    *
    * Exactness: weights are integer compares against the shared
    * 2⁶⁰-scaled CDF thresholds, per-replica sums are BIGINTs, each
    * accuracy is ONE exact division, and the delta is one subtraction
    * of two correctly-rounded doubles — bit-identical cross-engine.
    *
    * Scale shape: map-only ×reps fanout (explode of a literal
    * sequence), then ONE aggregate keyed by replica — map-side combine
    * reduces every partition to ≤reps partial rows, so the shuffle
    * carries reps·partitions tiny rows regardless of corpus size. */
  def evalPairedBootstrap(spark: SparkSession, dir: String,
      reps: Int = 50): DataFrame =
    pairedBootstrapOver(spark, pairedOkFrame(spark, dir), reps)

  /** The ×reps Poisson-replica table over an ARBITRARY paired-ok frame
    * (event_id, a_ok, b_ok) — factored out so
    * [[evalBootstrapBcaSampled]] can resample a
    * hash-threshold subsample with the IDENTICAL replica machinery
    * (same PRF draws, same integer sums); [[evalPairedBootstrap]]'s
    * plan is byte-identical to its pre-factor form. */
  private def pairedBootstrapOver(spark: SparkSession,
      paired: DataFrame, reps: Int): DataFrame = {
    val t = poissonThresh60
    def w(h: Column): Column =
      when(h < t(0), 0L).when(h < t(1), 1L).when(h < t(2), 2L)
        .when(h < t(3), 3L).when(h < t(4), 4L).otherwise(5L)
    val h = TokenHash.hash60(concat(
      col("event_id").cast("string"), lit(":boot:"),
      col("replica").cast("string")))
    // the ×reps md5 fanout must NOT ride the scan's partitioning: a
    // single-file corpus reads as ONE task, and 50·|events| digests on
    // one core IS the query's cost (measured 5.2 s → 0.5 s at sf0.1).
    // One exchange of the narrow (id, 2 bools) frame buys a
    // fully-parallel map stage — the explode/hash work lands after it.
    val g = paired
      .repartition(spark.sparkContext.defaultParallelism, col("event_id"))
      .select(col("event_id"), col("a_ok"), col("b_ok"),
        explode(sequence(lit(0), lit(reps - 1))).as("replica"))
      .withColumn("w", w(h))
      .groupBy(col("replica"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * when(col("a_ok"), 1L).otherwise(0L)).as("sum_a"),
        sum(col("w") * when(col("b_ok"), 1L).otherwise(0L)).as("sum_b"))
    // n_eff = 0 (possible only on degenerate ≤few-row corpora where a
    // replica draws all-zero weights) → NULL accuracy, exactly DuckDB's
    // double-division-by-zero semantics; under Spark 4's ANSI default
    // the unguarded division would throw instead
    def acc(c: Column): Column = when(col("n_eff") > 0L,
      c.cast("double") / col("n_eff").cast("double"))
    val accA = acc(col("sum_a")); val accB = acc(col("sum_b"))
    g.select(col("replica"), col("n_eff"), col("sum_a"), col("sum_b"),
        accA.cast("float").as("acc_a"), accB.cast("float").as("acc_b"),
        (accA - accB).cast("float").as("delta"))
      .orderBy(col("replica"))
  }

  /** Exact-integer type for moments whose terms can cross 2⁶³ (cubed
    * tie counts, squared rank sums) — the
    * [[graft.query.stats.TimeSeries.tsCcfLags]] discipline: Spark holds
    * DECIMAL(38,0), the DuckDB oracle HUGEINT; both are exact integers, so the
    * double epilogues agree bitwise. */
  private val dec38 =
    org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  // ---- shared pooled-CDF scaffold ---------------------------------------

  /** Per-distinct-value tie counts `na`/`nb` of the two samples (click
    * vs purchase `value`s): one map-side-combined aggregate onto the
    * DISTINCT value grain, read by KS, Mann–Whitney and Cliff's delta. */
  private def valueCounts(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("nb"))

  /** [[valueCounts]] with exact pooled cumulative counts BELOW each
    * value — the scaffold the rank tests read. `ca_lt`/`cb_lt` are counts
    * of sample-a / sample-b observations strictly below the row's value;
    * `na`/`nb` the row's own tie counts.
    *
    * Scale shape: a [[TwoLevel]] exclusive prefix over unit-width value
    * buckets (bucket count bounded by the metric's domain, not the
    * corpus) — exact integers throughout. */
  private def pooledValueCdf(counts: DataFrame): DataFrame =
    TwoLevel.prefix(counts, floor(col("value")).cast("long"),
      Seq(col("value")), sums = Seq("na" -> "ca_lt", "nb" -> "cb_lt"),
      inclusive = false)


  /** Mann–Whitney U (Wilcoxon rank-sum) between the click and purchase
    * `value` distributions: mid-rank ties, tie-corrected normal
    * approximation — THE two-sample location test an eval harness
    * reaches for when score distributions are non-normal (it is the
    * rank-statistic identity behind AUC: U/(na·nb) = AUC).
    *
    * Exactness: ranks are handled as 2×-integer BIGINTs — for a
    * distinct value v with t_v pooled ties and C_v pooled observations
    * strictly below, 2·avg_rank(v) = 2·C_v + t_v + 1 exactly — so the
    * rank-sum, U, and the tie term Σ(t³−t) are all exact integer
    * arithmetic regardless of aggregation order ([[Scoring.evalAucRoc]]
    * rank-sum discipline); doubles appear only in the final μ/σ/z
    * division. z uses the 0.5 continuity correction toward the mean.
    * The tie term cubes per-value tie counts, so it is computed in
    * DECIMAL(38,0) (the [[graft.query.stats.TimeSeries.tsCcfLags]] moment
    * discipline) — a single tie class past ~2.09M observations pushes t³ over
    * 2⁶³, where BIGINT would wrap silently with ANSI off while the
    * HUGEINT-backed oracle keeps going.
    *
    * Scale shape: the [[pooledValueCdf]] two-level prefix (no
    * unpartitioned window over unreduced input), then ONE
    * map-side-combined moment aggregate — n-row input, 1-row output. */
  def evalMannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val cdf = pooledValueCdf(valueCounts(spark, dir))
      .withColumn("t", col("na") + col("nb"))
      // 2·avg_rank of every pooled observation at this value
      .withColumn("r2", lit(2L) * (col("ca_lt") + col("cb_lt"))
        + col("t") + lit(1L))
    val tD = col("t").cast(dec38)
    val m = cdf.agg(
      sum(col("na")).as("n_a"),
      sum(col("nb")).as("n_b"),
      sum(col("na") * col("r2")).as("r2_a"),
      sum(tD * tD * tD - tD).as("tie3"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    // U_a = R_a − na(na+1)/2, from the exact doubled rank-sum
    val u2 = col("r2_a") - col("n_a") * (col("n_a") + lit(1L))
    val uA = u2.cast("double") / lit(2.0)
    val mu = na * nb / lit(2.0)
    val sigma = sqrt(na * nb / lit(12.0)
      * ((n + lit(1.0)) - col("tie3").cast("double") / (n * (n - lit(1.0)))))
    val cc = when(uA > mu, uA - lit(0.5))
      .when(uA < mu, uA + lit(0.5)).otherwise(uA)
    m.select(col("n_a"), col("n_b"),
      uA.as("u_stat"),
      (uA / (na * nb)).as("auc_equiv"),
      ((cc - mu) / sigma).as("z_score"))
  }

  /** Cliff's delta between the click and purchase `value` distributions:
    * δ = (#(a>b) − #(a<b)) / (na·nb) ∈ [−1, 1], the ordinal effect size
    * reported BESIDE a rank-test p-value (significance without
    * magnitude is the classic eval-report mistake), with the standard
    * |δ| magnitude band (negligible < .147 ≤ small < .33 ≤ medium
    * < .474 ≤ large — Romano et al.'s thresholds).
    *
    * Exactness: the dominance numerator is one exact integer —
    * Σ_v na_v·(2·cb_lt(v) + nb_v) − na·nb — from the same pooled-CDF
    * scaffold; the only double is the final ratio.
    *
    * Scale shape: identical to [[evalMannWhitneyU]] — the two-level
    * CDF and one moment aggregate that also sums the sample sizes. */
  def evalCliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    // b-observations strictly above v = tb − cb_lt − nb, so the
    // dominance sum Σ na·(cb_lt − above) = Σ na·(2·cb_lt + nb) − ta·tb,
    // with ta, tb summed in the same aggregate
    val m = pooledValueCdf(valueCounts(spark, dir))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
        sum(col("na") * (lit(2L) * col("cb_lt") + col("nb"))).as("s"))
      // empty input: no row (a global aggregate would emit one of NULLs)
      .filter(col("ta").isNotNull)
      .select(col("ta"), col("tb"),
        (col("s") - col("ta") * col("tb")).as("dom"))
    val delta = col("dom").cast("double") /
      (col("ta").cast("double") * col("tb").cast("double"))
    val ad = abs(delta)
    m.select(col("ta").as("n_a"), col("tb").as("n_b"),
      delta.as("cliffs_delta"),
      when(ad < 0.147, "negligible").when(ad < 0.33, "small")
        .when(ad < 0.474, "medium").otherwise("large").as("magnitude"))
  }

  /** Wilcoxon signed-rank test on PAIRED per-user activity: for every
    * user the pair is (click count, purchase count); d = purchases −
    * clicks; zero differences drop (Wilcoxon's rule); |d| ranks with
    * mid-rank ties; W⁺ = Σ ranks of positive d; tie-corrected normal
    * z. The paired complement of [[evalMannWhitneyU]] — the test an
    * A/B harness runs when both arms observe the SAME subject.
    *
    * Exactness: d is an exact integer count difference, so ties are
    * exact; ranks are 2×-integer BIGINTs over the distinct-|d| grain
    * (2·avg_rank(v) = 2·C_v + t_v + 1); σ²'s two terms are kept as one
    * ×48-scaled integer — 2·n(n+1)(2n+1) − Σ(t³−t) — so W⁺, μ and σ²
    * are aggregation-order-independent; doubles enter only at z. Both
    * cubic terms (the tie sum AND the 2n(n+1)(2n+1) base, which passes
    * 2⁶³ at n ≈ 1.3M pairs) are DECIMAL(38,0) — the [[dec38]]
    * discipline, matching the oracle's HUGEINT.
    *
    * Scale shape: one map-side-combined aggregate onto user_id (count
    * pivots), one onto the distinct-|d| grain; |d| is integer-bounded
    * by per-user activity, so the rank prefix runs over the tiny
    * distinct-|d| relation directly — the histogram IS the reduced
    * grain (WindowGateSpec-clean); one final moment aggregate. */
  def evalWilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        - sum(when(col("event_type") === "click", 1L).otherwise(0L)))
        .as("d"))
      .filter(col("d") =!= 0L)
    val perAbs = d.groupBy(abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("tp"))
    val ranked = perAbs
      .withColumn("c_lt", coalesce(sum(col("t")).over(Window
        .orderBy(col("ad")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("r2", lit(2L) * col("c_lt") + col("t") + lit(1L))
    val tD = col("t").cast(dec38)
    val m = ranked.agg(
      sum(col("t")).as("n_pairs"),
      sum(col("tp") * col("r2")).as("w2_plus"),
      sum(tD * tD * tD - tD).as("tie3"))
    val n = col("n_pairs").cast("double")
    val wPlus = col("w2_plus").cast("double") / lit(2.0)
    val mu = n * (n + lit(1.0)) / lit(4.0)
    // ×48-scaled exact integer variance: 48σ² = 2n(n+1)(2n+1) − Σ(t³−t),
    // held in DECIMAL(38,0) (≈4n³ crosses 2⁶³ at n ≈ 1.3M pairs)
    val nP = col("n_pairs").cast(dec38)
    val var48 = lit(2L).cast(dec38) * nP * (nP + lit(1L)) *
      (lit(2L).cast(dec38) * nP + lit(1L)) - col("tie3")
    val sigma = sqrt(var48.cast("double") / lit(48.0))
    m.select(col("n_pairs"), wPlus.as("w_plus"),
      ((wPlus - mu) / sigma).as("z_score"))
  }

  /** Cohen's d (and Hedges' g) between the click and purchase `value`
    * means — the STANDARDIZED effect size reported beside
    * [[evalTostEquivalence]]/[[Relational.aggTtestWelch]]: t answers
    * "is there a difference", d answers "how big in σ units"
    * (0.2/0.5/0.8 small/medium/large). Pooled SD uses the classic
    * (n1−1)s1² + (n2−1)s2² weighting; g applies the small-sample
    * J-correction 1 − 3/(4(n1+n2)−9).
    *
    * Exactness: the Welch ×1000-scaled BIGINT moment discipline; the
    * scale cancels in d. One fixed-paren double epilogue.
    *
    * Scale shape: ONE map-side-combined conditional aggregate. */
  def evalCohensD(spark: SparkSession, dir: String): DataFrame = {
    val w = new RankMoments.WelchMoments(spark, dir)
    import w._
    val sp = sqrt((ss1 + ss2) / (g("n1") + g("n2") - lit(2)).cast("double"))
    val d = (m1 - m2) / sp
    val j = lit(1.0) - lit(3.0) /
      (lit(4.0) * (g("n1") + g("n2")).cast("double") - lit(9.0))
    g.select(col("n1"), col("n2"),
      d.cast("float").as("cohens_d"),
      (d * j).cast("float").as("hedges_g"),
      when(abs(d) < 0.2, "negligible").when(abs(d) < 0.5, "small")
        .when(abs(d) < 0.8, "medium").otherwise("large").as("magnitude"))
  }

  /** Minimum detectable effect at the observed sample sizes — the
    * power-analysis readout an eval harness prints BESIDE a
    * non-significant comparison ("we couldn't see a difference" means
    * nothing without "and the smallest difference we COULD have seen
    * is X"): MDE = (z_{α/2} + z_power)·SE(diff) at α = 0.05, power
    * 0.8, with the Welch unequal-variance SE, reported in raw units
    * and in pooled-σ (Cohen's d) units.
    *
    * Exactness: the Welch ×1000-scaled BIGINT moment discipline; one
    * fixed-paren double epilogue with the two z constants as exact
    * double literals.
    *
    * Scale shape: ONE map-side-combined conditional aggregate. */
  def evalMdePower(spark: SparkSession, dir: String): DataFrame = {
    val w = new RankMoments.WelchMoments(spark, dir)
    import w._
    val se = sqrt(v1 / g("n1").cast("double") + v2 / g("n2").cast("double"))
    val sp = sqrt((ss1 + ss2) / (g("n1") + g("n2") - lit(2)).cast("double"))
    // z_{0.025} + z_{0.20}: 1.959963984540054 + 0.8416212335729143
    val zsum = lit(1.959963984540054 + 0.8416212335729143)
    g.select(col("n1"), col("n2"),
      (se / lit(1000.0)).cast("float").as("se_diff"),
      (zsum * se / lit(1000.0)).cast("float").as("mde_abs"),
      (zsum * se / sp).cast("float").as("mde_d"))
  }

  /** Friedman test + Kendall's W over the per-user event-type activity
    * profile: each user ranks the k = 5 event types by activity count
    * (complete blocks — absent types count 0; mid-rank ties), Friedman's
    * tie-corrected χ² asks "do the types differ at all", and Kendall's
    * W = χ²/(n(k−1)) reports how CONCORDANT the users are about the
    * ordering — the repeated-measures complement of
    * [[evalMannWhitneyU]] (k related systems on the same subjects,
    * the multi-model eval-harness shape).
    *
    * Exactness: counts are integers, per-block mid-ranks are
    * 2×-integer BIGINTs from a 5-row per-user window, the column
    * rank-sums R2_j and the tie term Σ(t³−t) are exact integer
    * aggregates (sr2 squares rank sums that grow ∝ n and tie3 cubes
    * class sizes, so both ride [[dec38]]), and χ² = (3·ΣR2_j² −
    * 3n²k(k+1)²) / (nk(k+1) − tie3/(k−1)) is one fixed-paren double
    * epilogue.
    *
    * Scale shape: one map-side-combined (user, type) count, a
    * broadcast 5-row type panel to complete the blocks, 5-row per-user
    * windows (user-partitioned), one k-row and one 1-row aggregate.
    * The n/k scalars enter the plan as broadcast 1-row aggregates (the
    * [[evalCliffsDelta]] pattern) — ONE Spark job per call, no
    * driver-side count() round trips. */
  def evalFriedmanKendallW(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
    val types = e.select(col("event_type")).distinct()
    val users = e.select(col("user_id")).distinct()
    val counts = e.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val blocks = users.crossJoin(broadcast(types))
      .join(counts, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val byU = Window.partitionBy(col("user_id"))
    // 2·mid-rank = 2·(rank()−1) + ties + 1 — rank() counts strictly
    // smaller + 1, ties the block's equal-count class size; exact ints
    val ranked = blocks
      .withColumn("rk", rank().over(byU.orderBy(col("c"))))
      .withColumn("t", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("c"))))
      .withColumn("r2", lit(2L) * (col("rk") - lit(1L)) + col("t")
        + lit(1L))
    // n and k as plan-side 1-row aggregates — broadcast back in, never
    // collected to the driver
    val nk = users.agg(count(lit(1)).as("n_users"))
      .crossJoin(types.agg(count(lit(1)).as("k_types")))
    val colSums = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2")).cast(dec38).as("r2j"))
    val tD = col("t").cast(dec38)
    val ties = ranked.select(col("user_id"), col("c"), col("t"))
      .distinct()
      .agg(coalesce(sum(tD * tD * tD - tD),
        lit(0L).cast(dec38)).as("tie3"))
    val m = colSums.agg(sum(col("r2j") * col("r2j")).as("sr2"))
      .crossJoin(broadcast(ties))
      .crossJoin(broadcast(nk))
    val nD = col("n_users").cast("double")
    val kD = col("k_types").cast("double")
    // the scipy friedmanchisquare form on exact integer inputs:
    // χ² = [12/(nk(k+1))·ΣR_j² − 3n(k+1)] / [1 − Σ(t³−t)/(nk(k²−1))]
    // with ΣR_j² = ΣR2_j²/4 from the doubled ranks
    val chi2 = (lit(12.0) / (nD * kD * (kD + lit(1.0)))
      * (col("sr2").cast("double") / lit(4.0))
      - lit(3.0) * nD * (kD + lit(1.0))) /
      (lit(1.0) - col("tie3").cast("double")
        / (nD * kD * (kD * kD - lit(1.0))))
    m.select(col("n_users"), col("k_types"),
      chi2.as("chi2_friedman"),
      (chi2 / (nD * (kD - lit(1.0)))).as("kendalls_w"))
  }

  // ---- Katz centrality ----------------------------------------------------

  /** TOST equivalence test (two one-sided Welch t-tests) between the
    * click and purchase `value` means with equivalence margin ±`margin`
    * — the test that can CONCLUDE "these two model variants score the
    * same" (a non-significant Welch t only fails to find a difference;
    * shipping decisions need the stronger claim). Equivalent iff BOTH
    * one-sided statistics clear the critical value: t_lower tests
    * diff > −margin, t_upper tests diff < +margin.
    *
    * Exactness: the [[Relational.aggTtestWelch]] discipline verbatim —
    * per-group n, Σx, Σx² over ×1000-scaled BIGINTs, one fixed-paren
    * double epilogue; the margin enters ×1000-scaled so every term
    * lives in the same exact integer space until the final divisions.
    * The normal critical value (1.6448536269514722) is the large-n
    * gate a streaming eval harness uses; df is emitted for audit.
    *
    * Scale shape: ONE map-side-combined conditional aggregate over the
    * fact table; everything after is scalar arithmetic on one row. */
  def evalTostEquivalence(spark: SparkSession, dir: String,
      margin: Double = 2.0): DataFrame = {
    val w = new RankMoments.WelchMoments(spark, dir)
    import w._
    val se = sqrt(v1 / g("n1").cast("double") + v2 / g("n2").cast("double"))
    val d = m1 - m2
    val m3 = lit(margin * 1000.0)
    val tLo = (d + m3) / se
    val tHi = (m3 - d) / se
    val zCrit = lit(1.6448536269514722)
    g.select(col("n1"), col("n2"),
      (d / lit(1000.0)).cast("float").as("mean_diff"),
      (se / lit(1000.0)).cast("float").as("se"),
      tLo.cast("float").as("t_lower"),
      tHi.cast("float").as("t_upper"),
      (tLo > zCrit && tHi > zCrit).as("equivalent"))
  }

  /** Φ⁻¹ by Acklam's rational approximation (|rel err| < 1.15e-9) —
    * evaluated ONCE here on the driver and inlined as LITERALS into
    * both the Spark plan and the generated DuckDB oracle (the
    * [[poissonThresh60]] discipline), so neither engine
    * ever evaluates a normal quantile at query time and cross-engine
    * parity is by construction. */
  private[graft] def invNormCdf(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2.0 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    } else if (p <= 1.0 - pLow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
    } else {
      val q = math.sqrt(-2.0 * math.log(1.0 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
    }
  }

  /** Φ⁻¹(k/B) for k = 1..B−1 — the shared z-grid: z₀ reads it at the
    * clamped below-count, and the adjusted percentile INDEX is found by
    * counting grid thresholds below the adjusted z (so Φ itself is
    * never needed: ⌈Φ(w)·B⌉ = 1 + #{k : Φ⁻¹(k/B) < w}). */
  private[graft] def invNormGrid(b: Int): Array[Double] =
    (1 until b).map(k => invNormCdf(k.toDouble / b)).toArray

  // ---- BCa bootstrap confidence interval --------------------------------

  /** BCa (bias-corrected and accelerated) 95% bootstrap CI for the
    * accuracy delta between [[evalMcnemar]]'s two paired
    * classifiers — the interval a careful eval report quotes beside
    * [[evalPairedBootstrap]]'s raw replica spread (Efron
    * 1987): percentile endpoints adjusted for median bias (z₀) and for
    * the statistic's variance trend (acceleration a, one jackknife
    * pass).
    *
    * Exactness, term by term:
    *   - replicas are [[evalPairedBootstrap]]'s 50
    *     deterministic Poisson draws — integer sums per replica;
    *   - the below-count #{θ*_b < θ̂} is the integer cross-multiplied
    *     compare (ΣA_b − ΣB_b)·n < (ΣA − ΣB)·n_eff_b — no division;
    *   - the jackknife collapses in closed form: with dᵢ = aᵢ − bᵢ ∈
    *     {−1,0,1} and D = Σd, θ̄ − θ₍ᵢ₎ = (n·dᵢ − D)/(n(n−1)), and the
    *     n(n−1) factors CANCEL in a = Σ³/(6·(Σ²)^{3/2}), so a needs
    *     only the three exact tally counts of dᵢ (DECIMAL(38,0) cubes;
    *     I2^{3/2} is computed as I2·√I2 — sqrt is IEEE
    *     correctly-rounded on both engines, pow is not);
    *   - z₀ and the percentile index both read the literal-inlined
    *     [[invNormGrid]], so no engine evaluates Φ or Φ⁻¹ at runtime;
    *   - CI endpoints are SELECTED replica deltas (type-1 empirical
    *     quantile at ⌈α·B⌉), never interpolated.
    *
    * Scale shape: the replica table is the bootstrap's one
    * map-side-combined ×50 aggregate and the tally one more aggregate —
    * exactly TWO passes over the fact scan. The ≤50-row replica panel
    * is aggregated into ONE row (sorted struct array) so the whole
    * epilogue — below-count fold, jackknife moments, percentile
    * element_at selection — is expressions over that single row in one
    * plan: no checkpoint barrier, no re-run of the ×50 fanout per
    * branch, ~4 driver jobs instead of ~20. At 100 TB the epilogue
    * cost is invisible next to the scan. z₀'s below-count clamps to
    * [1, B−1] (the standard finite-B guard: Φ⁻¹(0) is not finite). */
  def evalBootstrapBca(spark: SparkSession, dir: String,
      reps: Int = 50): DataFrame =
    bcaOverPaired(spark, pairedOkFrame(spark, dir), reps,
      widenFull = None)

  /** Hash-threshold SUBSAMPLED BCa interval — the form a 100 TB eval
    * harness actually runs: [[evalBootstrapBca]] resamples the FULL
    * pair stream ×reps (corpus-linear by design, e≈0.44 measured),
    * which at the stated scale turns a CI into a second full-corpus
    * job. This variant draws the replicas over a deterministic
    * PRF subsample — keep an item iff
    * hash60(event_id:bcasub) % mod == 0, mod = ⌈N/targetItems⌉ — so
    * the ×reps md5 fanout (the dominant cost) runs over ~targetItems
    * rows REGARDLESS of corpus size. Three uncertainty columns ride
    * beside the interval:
    *   - ci_lo/ci_hi — the subsample bootstrap CI itself, which is a
    *     VALID (just wider) interval for θ: the replica spread at
    *     n_sub already carries SE ≈ √(N/n_sub)·SE_full, no adjustment
    *     needed or applied;
    *   - widen = √(N/n_sub) — the diagnostic factor by which that CI
    *     is wider than a full-corpus run's would be;
    *   - ci_lo_proj/ci_hi_proj — the m-out-of-n PROJECTION of the
    *     full-corpus interval, θ̂_sub + (ci − θ̂_sub)·√(n_sub/N): the
    *     standard subsample-bootstrap rescaling of the replica spread
    *     DOWN to the full sample size (Bickel–Götze–van Zwet). It
    *     estimates the WIDTH a full run would quote; as a CI for θ it
    *     is anti-conservative (the subsample center itself jitters at
    *     SE_sub), which is why ci_lo/ci_hi stay the primary columns.
    *     (An earlier draft multiplied by √(N/n_sub) instead — wrong
    *     direction, double-counting the inflation the spread already
    *     carries; caught in review, and structurally invisible to the
    *     cross-engine sweep since the oracle mirrors the expression.)
    *
    * Exactness: mod is a pure integer function of the corpus count —
    * ⌈N/target⌉ as (N + target − 1) / target in BIGINTs — which the
    * oracle recomputes in SQL from the same count, so both engines
    * draw the identical subsample; the widen factor is one
    * correctly-rounded sqrt of one correctly-rounded division, and the
    * widened endpoints are a fixed-parenthesization double epilogue on
    * the single output row. Everything inside the interval is the
    * [[evalBootstrapBca]] machinery verbatim (shared plan builder).
    *
    * Scale shape: ONE count over events (parquet count-star —
    * metadata-bound; pairedOkFrame is row-for-row with events so the
    * counts agree by construction), one linear subsample scan (a
    * single md5 per item, vs ×reps for the full form), then the whole
    * replica/jackknife pipeline on ~targetItems rows — the corpus
    * appears only in the scan, never in the fanout. */
  def evalBootstrapBcaSampled(spark: SparkSession, dir: String,
      reps: Int = 50, targetItems: Long = 4096L): DataFrame = {
    val nFull = graft.schema.Schemas.events(spark, dir).count()
    val mod = math.max(1L, (nFull + targetItems - 1L) / targetItems)
    val sub = pairedOkFrame(spark, dir)
      .filter(TokenHash.hash60(concat(
        col("event_id").cast("string"), lit(":bcasub")))
        % lit(mod) === 0L)
    bcaOverPaired(spark, sub, reps, widenFull = Some(nFull))
  }

  private def bcaOverPaired(spark: SparkSession, paired: DataFrame,
      reps: Int, widenFull: Option[Long]): DataFrame = {
    val tz = invNormGrid(reps)
    val zLo = invNormCdf(0.025)
    val zHi = invNormCdf(0.975)
    // The ≤reps-row replica table is read by several epilogue branches
    // (below-count, the two quantile lookups). An earlier form
    // materialized it with an eager localCheckpoint, which kept the ×50
    // md5 fanout from re-running per branch but cost ~20 driver jobs of
    // epilogue (checkpoints + broadcast builds + two joins + a window —
    // measured 1.4 s of job wall plus 0.7 s of driver gaps at sf0.1 for
    // a ≤50-row tail). This form instead AGGREGATES the replica panel
    // into one row (a sorted struct array + the raw sums array), so
    // every branch is an expression over that single row: one plan, no
    // checkpoint barrier, no window, ~4 jobs. The ranking semantics are
    // pinned unchanged: delta ASC NULLS LAST, tie-break replica —
    // NULL deltas (possible only for degenerate n_eff=0 replicas) sort
    // via the +Inf key; replica is unique, so the struct comparison
    // never reaches the delta field and the order is total.
    val bootRow = pairedBootstrapOver(spark, paired, reps)
      .agg(
        sort_array(collect_list(struct(
          coalesce(col("delta"), lit(Float.PositiveInfinity)).as("sk"),
          col("replica").as("replica"), col("delta").as("delta"))))
          .as("ranked"),
        collect_list(struct(col("n_eff").as("n_eff"),
          col("sum_a").as("sum_a"), col("sum_b").as("sum_b")))
          .as("sums"))
    // exact tallies of the paired frame: n, ΣA, ΣB and the d∈{−1,0,1}
    // class counts the closed-form jackknife reads
    val tally = paired.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(when(col("a_ok"), 1L).otherwise(0L)), lit(0L)).as("sa"),
      coalesce(sum(when(col("b_ok"), 1L).otherwise(0L)), lit(0L)).as("sb"),
      coalesce(sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)),
        lit(0L)).as("cm"),
      coalesce(sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)),
        lit(0L)).as("cp"))
      .withColumn("d_total", col("sa") - col("sb"))
    // #{θ*_b < θ̂} as one integer-compare fold over the ≤reps sums array
    val core = bootRow.crossJoin(broadcast(tally))
      .withColumn("cnt_below", aggregate(col("sums"), lit(0L),
        (acc, s) => acc + when(
          (s.getField("sum_a") - s.getField("sum_b")) * col("n_items")
            < col("d_total") * s.getField("n_eff"), 1L).otherwise(0L)))
      .filter(col("n_items") > 0)
    // closed-form jackknife moments on the single tally row:
    // I2 = Σ(n·dᵢ − D)² = cm(n+D)² + c0·D² + cp(n−D)², I3 its cube sum
    def d38(c: Column): Column = c.cast(dec38)
    val nD = d38(col("n_items")); val dD = d38(col("d_total"))
    val c0 = d38(col("n_items") - col("cm") - col("cp"))
    val sP = nD + dD; val sM = nD - dD
    val i2 = d38(col("cm")) * sP * sP + c0 * dD * dD +
      d38(col("cp")) * sM * sM
    val i3 = -(d38(col("cm")) * sP * sP * sP) - c0 * dD * dD * dD +
      d38(col("cp")) * sM * sM * sM
    val zGrid = array(tz.toIndexedSeq.map(lit): _*)
    val clamped = greatest(least(col("cnt_below"), lit(reps.toLong - 1)),
      lit(1L)).cast("int")
    def wCol(z0: Column, zq: Double, a: Column): Column =
      z0 + (z0 + lit(zq)) / (lit(1.0) - a * (z0 + lit(zq)))
    def idxOf(w: Column): Column =
      tz.map(t => when(w > lit(t), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    val scored = core
      .withColumn("i2", i2).withColumn("i3", i3)
      .withColumn("accel_d",
        when(col("i2") === lit(0).cast(dec38), lit(0.0))
          .otherwise(col("i3").cast("double") /
            (lit(6.0) * col("i2").cast("double") *
              sqrt(col("i2").cast("double")))))
      .withColumn("z0_d", element_at(zGrid, clamped))
      .withColumn("w_lo_d", wCol(col("z0_d"), zLo, col("accel_d")))
      .withColumn("w_hi_d", wCol(col("z0_d"), zHi, col("accel_d")))
      .withColumn("idx_lo", idxOf(col("w_lo_d")))
      .withColumn("idx_hi", idxOf(col("w_hi_d")))
    // percentile endpoints are SELECTED replica deltas: element_at into
    // the sorted ≤reps struct array (1-indexed; idxOf ∈ [1, reps] by
    // construction) — NULLS LAST is carried by the +Inf sort key above
    val base = scored
      .withColumn("ci_lo_d",
        element_at(col("ranked"), col("idx_lo")).getField("delta"))
      .withColumn("ci_hi_d",
        element_at(col("ranked"), col("idx_hi")).getField("delta"))
      .select(col("n_items"), col("d_total"), col("cnt_below"),
        (col("d_total").cast("double") / col("n_items").cast("double"))
          .cast("float").as("theta_hat"),
        col("z0_d").cast("float").as("z0"),
        col("accel_d").cast("float").as("accel"),
        col("idx_lo"), col("idx_hi"),
        col("ci_lo_d").cast("float").as("ci_lo"),
        col("ci_hi_d").cast("float").as("ci_hi"),
        col("ci_lo_d"), col("ci_hi_d"))
    widenFull match {
      case None => base.drop("ci_lo_d", "ci_hi_d")
      case Some(nFull) =>
        // √(N/n) inflation diagnostic + m-out-of-n projected endpoints
        // (shrink the replica spread by √(n/N) — NOT widen: the spread
        // already carries the subsample inflation), all
        // fixed-parenthesization doubles on the single output row —
        // the oracle replays the identical expression text
        val thetaD =
          col("d_total").cast("double") / col("n_items").cast("double")
        val widenD = sqrt(lit(nFull).cast("double")
          / col("n_items").cast("double"))
        val shrinkD = sqrt(col("n_items").cast("double")
          / lit(nFull).cast("double"))
        base.select(col("n_items"), col("d_total"), col("cnt_below"),
            col("theta_hat"), col("z0"), col("accel"),
            col("idx_lo"), col("idx_hi"), col("ci_lo"), col("ci_hi"),
            lit(nFull).as("n_full"),
            widenD.cast("float").as("widen"),
            (thetaD + (col("ci_lo_d").cast("double") - thetaD) * shrinkD)
              .cast("float").as("ci_lo_proj"),
            (thetaD + (col("ci_hi_d").cast("double") - thetaD) * shrinkD)
              .cast("float").as("ci_hi_proj"))
    }
  }

  // ---- differentially-private clipped-sum mean ---------------------------
}
