package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-16 analytics: the nonparametric two-sample family (Mann–Whitney
  * rank-sum, Cliff's delta effect size, Wilcoxon signed-rank on paired
  * counts), Katz centrality (the attenuated-path sibling of PageRank /
  * HITS), and a forward-streamable Page's CUSUM against a fixed target
  * (the live-monitoring complement of the retrospective
  * [[Analytics3.tsCusumChangepoint]] scan).
  *
  * Reference scope note: the reference (api/api.py) compares model
  * variants by eyeballing predicted durations; these are the
  * distribution-comparison tests an eval harness runs to make such a
  * comparison defensible (rank tests are the standard choice when score
  * distributions are non-normal). Every operator is a declarative
  * Catalyst plan; rank statistics ride the house two-level discipline so
  * no unpartitioned window ever sees raw fact rows.
  */
object Analytics6 {

  import graft.schema.Schemas.table

  /** Exact-integer type for moments whose terms can cross 2⁶³ (cubed
    * tie counts, squared rank sums) — the [[tsCcfLags]] discipline:
    * Spark holds DECIMAL(38,0), the DuckDB oracle HUGEINT; both are
    * exact integers, so the double epilogues agree bitwise. */
  private val dec38 =
    org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

  // ---- shared pooled-CDF scaffold ---------------------------------------

  /** Per-distinct-value counts of the two samples (click vs purchase
    * `value`s) with exact pooled cumulative counts BELOW each value —
    * the scaffold both rank tests read. `ca_lt`/`cb_lt` are counts of
    * sample-a / sample-b observations strictly below the row's value;
    * `na`/`nb` the row's own tie counts.
    *
    * Scale shape: one map-side-combined aggregate onto the DISTINCT
    * value grain, then the [[Analytics5.evalKsTest]] [[TwoLevel]]
    * exclusive prefix over unit-width value buckets (bucket count
    * bounded by the metric's domain, not the corpus) — exact integers
    * throughout. */
  private def pooledValueCdf(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
    val perValue = e.groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("nb"))
    TwoLevel.prefix(perValue, floor(col("value")).cast("long"),
      Seq(col("value")), sums = Seq("na" -> "ca_lt", "nb" -> "cb_lt"),
      inclusive = false)
  }

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
    * arithmetic regardless of aggregation order ([[Analytics3]] AUC
    * rank-sum discipline); doubles appear only in the final μ/σ/z
    * division. z uses the 0.5 continuity correction toward the mean.
    * The tie term cubes per-value tie counts, so it is computed in
    * DECIMAL(38,0) (the [[tsCcfLags]] moment discipline) — a single
    * tie class past ~2.09M observations pushes t³ over 2⁶³, where
    * BIGINT would wrap silently with ANSI off while the HUGEINT-backed
    * oracle keeps going.
    *
    * Scale shape: the [[pooledValueCdf]] two-level prefix (no
    * unpartitioned window over unreduced input), then ONE
    * map-side-combined moment aggregate — n-row input, 1-row output. */
  def evalMannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val cdf = pooledValueCdf(spark, dir)
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
    * Σ_v na_v·(cb_lt(v) − (nb − cb_lt(v) − nb_v)) — from the same
    * pooled-CDF scaffold; the only double is the final ratio.
    *
    * Scale shape: identical to [[evalMannWhitneyU]] — the two-level
    * CDF, one broadcast 1-row total, one moment aggregate. */
  def evalCliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val cdf = pooledValueCdf(spark, dir)
    val tot = cdf.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val m = cdf.crossJoin(broadcast(tot))
      // b-observations strictly above v = tb − below − ties-at-v
      .select(col("na"), col("ta"), col("tb"),
        (col("na") * (col("cb_lt")
          - (col("tb") - col("cb_lt") - col("nb")))).as("domterm"))
      .groupBy(col("ta"), col("tb"))
      .agg(sum(col("domterm")).as("dom"))
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
    * [[evalTostEquivalence]]/[[Analytics5.aggTtestWelch]]: t answers
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
    val w = new Analytics5.WelchMoments(spark, dir)
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

  /** Rolling 20-pair autocorrelation per user: the Pearson correlation
    * of (value, previous value) over a sliding window — the
    * "has this signal gone sticky" monitor beside
    * [[Analytics4.windowBollingerBands]]' level envelope (a regime
    * change often shows in AUTOCORRELATION before it moves the mean).
    * Null until the frame holds `win` full pairs or either variance
    * is zero (no verdict on degenerate input — deterministic, never
    * NaN).
    *
    * Exactness: the Bollinger ×10³-BIGINT discipline on BOTH series
    * (x = v₃, y = lag(v₃)): all five rolling moments are exact
    * integers (order-independent sliding sums — segment trees and
    * frame folds agree), the correlation is one fixed-paren double
    * expression of them, and zero-variance is an exact integer test.
    * Overflow envelope: n·Σxy ≤ 20²·(4.9e5)² ≈ 2e15 ≪ 2⁶³.
    *
    * Scale shape: one exchange on user_id; lag and the sliding frame
    * share its sort; everything else map-only. */
  def windowRollingCorr(spark: SparkSession, dir: String,
      win: Int = 20, maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w = byUser.rowsBetween(-(win - 1), Window.currentRow)
    val n = col("np")
    val num = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * lit(1e3)).cast("long").as("x"))
      .withColumn("y", lag(col("x"), 1).over(byUser))
      .withColumn("np", count(col("y")).over(w))
      .withColumn("sx", sum(when(col("y").isNotNull, col("x"))).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx",
        sum(when(col("y").isNotNull, col("x") * col("x"))).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .select(col("user_id"), col("event_id"), col("np").as("n_pairs"),
        when(col("np") === win && vx > 0L && vy > 0L,
          (num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .cast("float"))
          .as("rolling_autocorr"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hurst exponent of the hourly event-value series by rescaled-range
    * (R/S) analysis at block sizes {8, 16, 32, 64}: H ≈ 0.5 is a
    * random walk, H > 0.5 long-range persistence, H < 0.5 mean
    * reversion — the long-memory diagnostic run beside
    * [[Analytics5.tsPeriodogram]] before trusting a forecast horizon.
    * Emits the per-size mean R/S panel and the fitted log-log slope.
    *
    * Determinism: the hourly series is the exact scaled-BIGINT rollup;
    * every per-block statistic folds in an ORDERED full-frame window
    * (both engines fold block rows in hour order — the
    * [[Analytics3.tsCusumChangepoint]] trick), the cross-block R/S sum
    * folds in block order, and the 4-point regression folds in w
    * order, so every double is bit-identical cross-engine; ln/sqrt are
    * correctly-rounded libm on identical inputs.
    *
    * Scale shape: one map-side-combined hourly rollup (calendar-
    * bounded); the hour-rank window and the 4-size explode run over
    * the ≤ #hours grain; per-block windows are (w, block)-partitioned.
    * Zero-σ blocks drop (flat series carry no R/S information). */
  def tsHurstExponent(spark: SparkSession, dir: String,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = graft.schema.Schemas.events(spark, dir)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
      .select(col("h"), (col("v6").cast("double") / lit(1e6)).as("v"))
      .withColumn("idx", row_number().over(Window.orderBy(col("h"))))
    import spark.implicits._
    val sized = hourly
      .crossJoin(sizes.toDF("w"))
      .withColumn("blk", expr("CAST((idx - 1) DIV w AS BIGINT)"))
    val g = Window.partitionBy(col("w"), col("blk"))
    val ordered = g.orderBy(col("idx"))
    val full = ordered.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val pfx = ordered.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val perRow = sized
      .withColumn("bn", count(lit(1)).over(g))
      .filter(col("bn") === col("w"))
      .withColumn("mean", sum(col("v")).over(full) / col("w"))
      .withColumn("dev", sum(col("v") - col("mean")).over(pfx))
      .withColumn("rng", max(col("dev")).over(full)
        - min(col("dev")).over(full))
      .withColumn("ssq", sum((col("v") - col("mean"))
        * (col("v") - col("mean"))).over(full))
      .withColumn("rn", row_number().over(ordered))
    val perBlock = perRow.filter(col("rn") === 1)
      .select(col("w"), col("blk"), col("rng").as("r"),
        sqrt(col("ssq") / col("w")).as("s"))
      .filter(col("s") > 0.0)
      .withColumn("rs", col("r") / col("s"))
    // per-size mean R/S via an ordered full-frame fold over blocks
    val byW = Window.partitionBy(col("w")).orderBy(col("blk"))
    val wFull = byW.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val panel = perBlock
      .withColumn("nb", count(lit(1)).over(wFull))
      .withColumn("avg_rs", sum(col("rs")).over(wFull)
        / col("nb").cast("double"))
      .withColumn("prn", row_number().over(byW))
      .filter(col("prn") === 1)
      .select(col("w"), col("nb").as("n_blocks"), col("avg_rs"))
    // 4-point log-log regression, folded in w order (bounded panel)
    val pOrd = Window.orderBy(col("w"))
    val pFull = pOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val x = log(col("w").cast("double"))
    val y = log(col("avg_rs"))
    val fitted = panel
      .withColumn("np", count(lit(1)).over(pFull).cast("double"))
      .withColumn("sx", sum(x).over(pFull))
      .withColumn("sy", sum(y).over(pFull))
      .withColumn("sxy", sum(x * y).over(pFull))
      .withColumn("sxx", sum(x * x).over(pFull))
      .withColumn("hurst", (col("np") * col("sxy")
        - col("sx") * col("sy"))
        / (col("np") * col("sxx") - col("sx") * col("sx")))
    fitted.groupBy()
      .agg(
        max(when(col("w") === 8, col("n_blocks"))).as("blocks_w8"),
        max(when(col("w") === 8, col("avg_rs"))).cast("float")
          .as("rs_w8"),
        max(when(col("w") === 16, col("avg_rs"))).cast("float")
          .as("rs_w16"),
        max(when(col("w") === 32, col("avg_rs"))).cast("float")
          .as("rs_w32"),
        max(when(col("w") === 64, col("avg_rs"))).cast("float")
          .as("rs_w64"),
        max(col("hurst")).cast("float").as("hurst"))
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
    val w = new Analytics5.WelchMoments(spark, dir)
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

  /** Near-dup rate curve over verification thresholds: the SAME
    * persisted MinHash candidate index probed at Jaccard ≥ {0.5 … 0.9},
    * reporting surviving pair and distinct-document counts per cut —
    * the "choose your dedup threshold" report a curation pipeline
    * publishes before committing a corpus build (the marginal docs
    * between 0.5 and 0.8 are exactly the judgment calls).
    *
    * Scale shape: probes [[Dedup.dedupMinhashLsh]]'s persisted
    * signature + candidate indexes (cache hits beside the other dedup
    * queries — no new corpus-scale work); the curve is a ≤|pairs|×5
    * explode with one tiny aggregate. Counts are exact integers.
    *
    * Ref: the reference has no dedup stage; this is the threshold
    * governance its Kafka ingest would need before training. */
  def dedupThresholdCurve(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
      : DataFrame = {
    import spark.implicits._
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
    pairs.crossJoin(thresholds.toDF("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .select(col("threshold"), col("doc_a"), col("doc_b"))
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
        col("doc_a"), col("doc_b"))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** SAX symbolization of each user's event-value series: per-user
    * z-normalization, piecewise-aggregate approximation over
    * `paaWidth`-event blocks, then the 4-symbol alphabet cut at the
    * N(0,1) quartile breakpoints (±0.6744897501960817, 0) — the
    * classic time-series-mining front door (motif/anomaly discovery
    * runs on the symbol strings, at a fraction of the raw-series
    * cost). Emits one symbol string per user.
    *
    * Determinism: the per-user mean/σ and each block mean fold in
    * ORDERED full-frame windows (the cusum/Hurst discipline) so every
    * double is bit-identical cross-engine; symbols are integer
    * comparisons against exact double literals; the string assembles
    * in block order on both sides.
    *
    * Scale shape: one exchange on user_id shared by every window; the
    * per-user output is one bounded row. */
  def tsSaxSymbolic(spark: SparkSession, dir: String,
      paaWidth: Int = 8, maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy(col("user_id"))
    val ord = byU.orderBy(col("ts"), col("event_id"))
    val uFull = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("n", count(lit(1)).over(byU))
      .withColumn("mean", sum(col("value")).over(uFull) / col("n"))
      .withColumn("ssq", sum((col("value") - col("mean"))
        * (col("value") - col("mean"))).over(uFull))
      .withColumn("rn", row_number().over(ord))
      .filter(col("ssq") > 0.0)
      .withColumn("z", (col("value") - col("mean"))
        / sqrt(col("ssq") / col("n")))
      .withColumn("blk", expr(s"CAST((rn - 1) DIV $paaWidth AS BIGINT)"))
    val gBlk = Window.partitionBy(col("user_id"), col("blk"))
    val blkFull = gBlk.orderBy(col("rn")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val bp = 0.6744897501960817
    val blocks = ranked
      .withColumn("bn", count(lit(1)).over(gBlk))
      .filter(col("bn") === paaWidth)
      .withColumn("paa", sum(col("z")).over(blkFull) / col("bn"))
      .withColumn("brn", row_number().over(gBlk.orderBy(col("rn"))))
      .filter(col("brn") === 1)
      .withColumn("sym",
        when(col("paa") < -bp, "a").when(col("paa") < 0.0, "b")
          .when(col("paa") < bp, "c").otherwise("d"))
    blocks.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_blocks"),
        array_join(transform(array_sort(collect_list(struct(col("blk"),
          col("sym")))), s => s.getField("sym")), "").as("sax"))
      .orderBy(col("user_id"))
  }

  /** Theil index of the order-revenue distribution, per order priority
    * — the DECOMPOSABLE inequality measure beside the Lorenz pair
    * ([[Analytics5]] `agg_gini_cents` / `agg_pareto_concentration`):
    * T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ). Unlike Gini, Theil sums across
    * subgroups, which is why revenue-concentration audits report both.
    *
    * Exactness: x is exact cents; μ = S/n enters as the exact-integer
    * ratio, each term is (x·n/S)·ln(x·n/S) — the cross-multiplied
    * integer-fed form — and the sum's group-order ulps are absorbed by
    * the REAL cast (the 1/ln adamic_adar rule). Zero-price orders
    * contribute 0 (lim x→0 x·ln x = 0), made explicit.
    *
    * Scale shape: one map-side-combined (n, Σ) aggregate per priority,
    * broadcast back, one map-side-combined term sum — two tiny-key
    * passes over the fact table, no window. */
  def aggTheilIndex(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val tot = o.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val ratio = col("cents").cast("double") * col("n").cast("double") /
      col("s").cast("double")
    o.join(broadcast(tot), Seq("priority"))
      .select(col("priority"), col("n"), col("s"),
        when(col("cents") > 0L, ratio * log(ratio)).otherwise(lit(0.0))
          .as("term"))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n_orders"),
        (sum(col("term")) / max(col("n")).cast("double")).cast("float")
          .as("theil"))
      .orderBy(col("priority"))
  }

  /** Rich-club coefficient of the co-purchase graph at degree cuts
    * {10, 20, 40, 80}: φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts
    * vertices of degree > k and E_k the edges among them — "do the
    * hubs preferentially trade with each other", the structural
    * complement of [[Analytics4.graphAssortativity]]'s single
    * correlation number (a rich club can hide behind a neutral
    * assortativity).
    *
    * Exactness: all counts are exact integers off the persisted degree
    * and edge indexes; φ is one division per panel row, emitted as
    * NULL when the club holds fewer than 2 vertices (a top cut that
    * empties the club has no pair denominator — the
    * [[windowRollingCorr]] zero-variance rule, never 0/0 = NaN).
    *
    * Scale shape: one broadcast degree join per side of the edge list,
    * one tiny aggregate per cut (the cut panel is a 4-row literal
    * explode); rides the persisted [[Analytics.copurchaseEdgesSym]] /
    * degree indexes — no new corpus-scale work. */
  def graphRichClub(spark: SparkSession, dir: String,
      cuts: Seq[Int] = Seq(10, 20, 40, 80)): DataFrame = {
    import spark.implicits._
    val deg = Analytics.copurchaseDeg(spark, dir)
    val e0 = Analytics.copurchaseEdges(spark, dir)
    val cutsDf = cuts.toDF("k")
    val nK = deg.crossJoin(cutsDf).filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val eK = e0
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .crossJoin(cutsDf)
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    nK.join(eK, Seq("k"), "left")
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        when(col("n_k") >= 2L,
          (lit(2.0) * coalesce(col("e_k"), lit(0L)).cast("double") /
            (col("n_k").cast("double") * (col("n_k") - lit(1L))
              .cast("double"))).cast("float")).as("phi"))
      .orderBy(col("k"))
  }

  /** Cross-correlation between the hourly click and purchase value
    * series at lags {0, 1, 2, 4, 8} hours: does purchase activity
    * FOLLOW click activity, and at what delay — the lead-lag
    * diagnostic run before trusting an attribution window. Pearson r
    * per lag over the (clickₜ, purchaseₜ₊ₗ) pairs on the common hour
    * grid.
    *
    * Exactness: hourly sums are ×10³-scaled BIGINTs (per-hour sums of
    * exact per-event integers), all five moments per lag are exact
    * integer aggregates (overflow envelope: Σx·y ≤ #hours·(10⁴·490·10³)²
    * ≈ 10²³ — too hot for BIGINT at extreme densities, so the moments
    * are DECIMAL(38,0) — the agg_decimal_exact discipline), and r is
    * one fixed-paren double epilogue per panel row.
    *
    * Scale shape: one calendar-bounded hourly rollup, a 5-row lag
    * explode, one self-join on the shifted hour key, one
    * map-side-combined moment aggregate per lag. */
  def tsCcfLags(spark: SparkSession, dir: String,
      lags: Seq[Int] = Seq(0, 1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    val hourly = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(when(col("event_type") === "click",
          round(col("value") * lit(1e3)).cast("long")).otherwise(0L))
          .as("cx"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * lit(1e3)).cast("long")).otherwise(0L))
          .as("py"))
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def d(c: Column): Column = c.cast(d38)
    val joined = hourly.select(col("h"), col("cx"))
      .crossJoin(lags.toDF("lag_h"))
      .join(hourly.select(col("h").as("hp"), col("py")),
        col("hp") === col("h") + col("lag_h"))
    val m = joined.groupBy(col("lag_h"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("cx"))).as("sx"), sum(d(col("py"))).as("sy"),
        sum(d(col("cx")) * d(col("py"))).as("sxy"),
        sum(d(col("cx")) * d(col("cx"))).as("sxx"),
        sum(d(col("py")) * d(col("py"))).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = sqrt(nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")) *
      sqrt(nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double"))
    m.select(col("lag_h"), col("n").as("n_hours"),
      (num / den).cast("float").as("ccf"))
      .orderBy(col("lag_h"))
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

  /** Katz centrality (attenuation α, `iters` fixed iterations) on the
    * undirected part co-purchase graph: x⁰ = 1, xⁱ(v) = 1 + α·Σ_{u∼v}
    * xⁱ⁻¹(u) — the truncated attenuated-path-count centrality, the
    * third member of the walk-centrality family beside
    * [[Analytics.graphPagerank]] (stochastic walk) and HITS (bipartite
    * alternation): Katz counts ALL walks, damped geometrically, so
    * low-degree vertices near hubs still score (where PageRank's
    * degree division buries them).
    *
    * Scale shape: the [[Analytics.graphPagerank]] Pregel shape verbatim
    * — per-round join of the broadcast centrality vector against the
    * persisted destination-partitioned edge index, one
    * map-side-combined aggregate per round, no degree division (Katz
    * has none), fixed iteration count keeps the plan finite. Every
    * vertex in `deg` has at least one incident edge in the SYMMETRIC
    * index (deg is derived FROM that index), so each round's
    * inflow aggregate reaches every vertex — the 1 + α·Σ base term
    * needs no left-join backstop; that invariant, not a left join, is
    * what keeps isolated-looking vertices from dropping out. */
  def graphKatzCentrality(spark: SparkSession, dir: String,
      alpha: Double = 0.05, iters: Int = 3,
      maxVertex: Long = 100L): DataFrame = {
    val deg = Analytics.copurchaseDeg(spark, dir)
    val nPart = spark.sparkContext.defaultParallelism
    // SAME persisted component as graphPagerank's `#wdeg` (identical
    // build → whichever of the two walk centralities runs first pays
    // it; Katz ignores the deg column and column pruning drops it from
    // the cached scan) — one destination-partitioned edge index serves
    // the whole walk family instead of a near-duplicate per member
    val wedges = Analytics.cachedDf(spark, Analytics.gkey(dir, "wdeg")) {
      Analytics.copurchaseEdgesSym(spark, dir)
        .join(deg, Seq("u")).repartition(nPart, col("v"))
    }
    var x = deg.select(col("u"), lit(1.0).as("x"))
    for (_ <- 1 to iters) {
      x = wedges
        .join(broadcast(x), Seq("u"))
        .groupBy(col("v"))
        .agg(sum(col("x")).as("inflow"))
        .select(col("v").as("u"),
          (lit(1.0) + lit(alpha) * col("inflow")).as("x"))
    }
    x.filter(col("u") <= maxVertex)
      .select(col("u").as("part"), col("x").cast("float").as("katz"))
      .orderBy(col("part"))
  }

  /** TOST equivalence test (two one-sided Welch t-tests) between the
    * click and purchase `value` means with equivalence margin ±`margin`
    * — the test that can CONCLUDE "these two model variants score the
    * same" (a non-significant Welch t only fails to find a difference;
    * shipping decisions need the stronger claim). Equivalent iff BOTH
    * one-sided statistics clear the critical value: t_lower tests
    * diff > −margin, t_upper tests diff < +margin.
    *
    * Exactness: the [[Analytics5.aggTtestWelch]] discipline verbatim —
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
    val w = new Analytics5.WelchMoments(spark, dir)
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

  /** Gwet's AC1 between the two [[Analytics5.evalCohensKappa]] raters —
    * the chance-agreement coefficient that stays stable under skewed
    * marginals (the "kappa paradox": near-unanimous raters can score
    * kappa ≈ 0 because kappa's chance term absorbs the prevalence; AC1
    * models chance agreement as the chance of rating a RANDOM category,
    * pe = 2π(1−π) with π the mean marginal). Reported beside kappa so
    * the pair diagnoses prevalence artifacts.
    *
    * Exactness: same integer confusion cells as kappa (type-mean rule
    * vs md5-parity rater — cross-multiplied compares, no division),
    * one fixed-paren double epilogue.
    *
    * Scale shape: one broadcast of the 5-row type means, one map-side
    * combined confusion aggregate, scalar math after. */
  def evalGwetAc1(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    val means = e.groupBy(col("event_type"))
      .agg(sum(col("v3")).as("s3"), count(lit(1)).as("n"))
    val rated = e.join(broadcast(means), Seq("event_type"))
      .withColumn("a", (col("v3") * col("n") > col("s3")).cast("int"))
      .withColumn("b",
        (graft.query.Dedup.hash60(concat(col("event_id").cast("string"),
          lit(":rater"))) % 2).cast("int"))
    val g = rated.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
      sum(col("a").cast("long")).as("n_a1"),
      sum(col("b").cast("long")).as("n_b1"))
    val nD = col("n").cast("double")
    val po = col("n_agree").cast("double") / nD
    val piBar = (col("n_a1").cast("double") / nD
      + col("n_b1").cast("double") / nD) / lit(2.0)
    val pe = lit(2.0) * piBar * (lit(1.0) - piBar)
    g.select(col("n"), col("n_agree"),
      po.cast("float").as("p_observed"),
      pe.cast("float").as("p_chance_ac1"),
      ((po - pe) / (lit(1.0) - pe)).cast("float").as("gwet_ac1"))
  }

  /** Croston's method per user over the purchase stream — the
    * intermittent-demand forecaster (most users purchase rarely, so a
    * plain EWMA over a zero-stuffed series collapses; Croston smooths
    * the nonzero demand sizes and the inter-arrival gaps SEPARATELY
    * and forecasts their ratio). Emits every update step: smoothed
    * demand ẑ, smoothed gap q̂ (hours), forecast ẑ/q̂ per period.
    *
    * Exactness: the recurrence is a fixed sequence of double ops per
    * purchase in (ts, event_id) order (flatMapSortedGroups here, a
    * recursive CTE in the oracle, identical parenthesization — the
    * [[Analytics4.tsKalman1d]] contract); the gap is an exact integer
    * microsecond delta divided once by 3.6e9.
    *
    * Scale shape: ONE exchange on user_id (the sorted-group recurrence
    * family), O(1) state per key; output bounded by the user filter. */
  def tsCroston(spark: SparkSession, dir: String, alpha: Double = 0.1,
      maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser && col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        var rn = 0L
        var zh = 0.0
        var qh = 0.0
        var prevUs = 0L
        it.map { case (_, us, id, z) =>
          rn += 1
          val q =
            if (rn == 1L) 1.0
            else (us - prevUs).toDouble / 3.6e9
          prevUs = us
          if (rn == 1L) { zh = z; qh = q }
          else {
            zh = zh + alpha * (z - zh)
            qh = qh + alpha * (q - qh)
          }
          (user, id, rn, z, q, zh, qh, zh / qh)
        }
      }
      .toDF("user_id", "event_id", "rn", "demand", "gap_h",
        "z_hat", "q_hat", "forecast")
      .orderBy(col("user_id"), col("rn"))
  }

  /** Differentially-private median — the exponential mechanism over a
    * fixed candidate grid (multiples of `step` across the value
    * domain), utility u(c) = −|#{v < c} − n/2| (rank distance to the
    * median, sensitivity 1), released via the Gumbel-max trick with
    * the [[Analytics5.privacyDpTopk]] deterministic md5 uniforms. The
    * top-3 noised candidates ship with their exact rank utilities
    * beside them (the privacy family's demo-grain audit discipline).
    *
    * Exactness: the strictly-below count per candidate is exact — a
    * `step`-width bucket histogram prefix (a value v < c ⟺ its bucket
    * ⌊v/step⌋ < c/step when c is a grid multiple); utility uses the
    * ×2-integer |2·cnt − n| so no .5 ever rounds; the Gumbel keys are
    * the hash60-derived doubles both engines replay.
    *
    * Scale shape: one map-side-combined histogram onto the ≤(domain/
    * step) bucket grain; the candidate×bucket prefix join and the
    * ranking run on that bounded panel. */
  def privacyDpQuantile(spark: SparkSession, dir: String,
      step: Int = 5, maxCandidate: Int = 485,
      epsilon: Double = 1.0): DataFrame = {
    val hist = graft.schema.Schemas.events(spark, dir)
      .groupBy(floor(col("value") / lit(step.toDouble)).cast("long")
        .as("b"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    val cand = spark.range(1, maxCandidate / step + 1)
      .select((col("id") * step).cast("int").as("c"))
    val cntLt = cand.join(broadcast(hist),
        col("b") < col("c").cast("long") / lit(step.toLong), "left")
      .groupBy(col("c"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt_lt"))
    val u = (-abs(lit(2L) * col("cnt_lt") - col("n")).cast("double")) /
      lit(2.0)
    val uu = (graft.query.Dedup.hash60(concat(lit("dpq:"),
      col("c").cast("string"))).cast("double") + 0.5) /
      lit(1152921504606846976.0)
    val gumbel = -log(-log(uu))
    cntLt.crossJoin(broadcast(tot))
      .withColumn("utility", u)
      .withColumn("noised_utility",
        col("utility") + lit(2.0 / epsilon) * gumbel)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("noised_utility").desc, col("c"))))
      .filter(col("rank") <= 3)
      .select(col("rank").cast("int").as("rank"), col("c").as("candidate"),
        col("noised_utility").cast("float").as("noised_utility"),
        col("cnt_lt"), col("utility").cast("float").as("utility"))
      .orderBy(col("rank"))
  }

  /** Everett–Borgatti ego betweenness for a deterministic vertex cohort
    * of the co-purchase graph: within z's ego network, every
    * NON-ADJACENT neighbor pair (u, v) must route through a common
    * neighbor, so z's betweenness is Σ 1/σ(u,v) over those pairs with
    * σ(u,v) = 1 + |N(u) ∩ N(v) ∩ N(z)| (z plus the other in-ego
    * couriers). The local-centrality member of the walk family —
    * [[Analytics.graphPagerank]]/[[graphKatzCentrality]] score global
    * reach; this scores BROKERAGE, and on large graphs ego betweenness
    * is the standard stand-in for exact Brandes (which needs full
    * BFS from every vertex).
    *
    * Exactness: pair sets and σ are exact integer joins; the only
    * doubles are the final Σ 1/σ (REAL cast absorbs the group-order
    * ulps — the adamic_adar 1/ln rule) with the integer pair count
    * emitted beside it as the exact ranking key.
    *
    * Scale shape: centers restricted to the `% 64` cohort (the
    * [[Analytics4.graphCommonNeighbors]] wedge-census discipline,
    * sparser here because the per-center cost is ego-CUBIC — deg²
    * pairs × deg couriers — on a graph whose mean degree is ~120);
    * one wedge self-join on the center builds the pair list, one
    * anti-join drops adjacent pairs, one three-way neighbor join
    * counts couriers (all shuffles on vertex keys over the persisted
    * symmetric-edge index), one map-side-combined rollup per center. */
  def graphEgoBetweenness(spark: SparkSession, dir: String,
      cohortMod: Int = 64,
      broadcastMaxEdges: Long = 8L * 1000 * 1000): DataFrame = {
    val sym = Analytics.copurchaseEdgesSym(spark, dir)
    val e0 = Analytics.copurchaseEdges(spark, dir)
    // Explicit partition count on the pair-fanout input: the cohort ego
    // table is SMALL on the wire (~0.6 MB at sf0.1), so AQE coalesces
    // its exchange to ONE partition — but the z-keyed self-join below
    // EXPANDS it ~40× (quadratic neighborhood pairs, 25 MB of shuffle
    // write measured on one core: 0.9 s of the query's 2.2 s). Input
    // size is the wrong signal for a fanout stage; pin the width to the
    // machine (the graphPagerank wedges discipline).
    val ego = sym.filter(col("u") % cohortMod === 0)
      .select(col("u").as("z"), col("v").as("n"))
      .repartition(spark.sparkContext.defaultParallelism, col("z"))
    val pairs = ego.as("a")
      .join(ego.as("b"), col("a.z") === col("b.z")
        && col("a.n") < col("b.n"))
      .select(col("a.z").as("z"), col("a.n").as("u"), col("b.n").as("v"))
    val nonadj = pairs.join(e0, Seq("u", "v"), "left_anti")
    // couriers: w ∈ N(u) ∩ N(v) ∩ N(z), w ≠ z (w ≠ u, v automatically —
    // w is adjacent to both endpoints of a NON-edge). Scale gate: |E_sym|
    // counted once per (dir, fingerprint) — the house scale-gate
    // discipline (union-find ≤4M edges, hubness 64 MB, theil_sen ≤4096
    // h); GateCheck proves both paths hash-identical, Round17Spec
    // forces both branches.
    val sigma =
      if (Analytics.symEdgeCount(spark, dir) <= broadcastMaxEdges) {
        // Below the gate: per-pair courier counts as ONE linear merge of
        // three broadcast adjacency lists (the triangle-counting
        // adjacency-intersection kernel, one set deeper). r20 shipped
        // this as a ~300 M-row three-join courier STREAM whose two
        // sym-table broadcast builds (2×2.4 M hashed rows) alone cost
        // ~1.4 s of the query's 1.9 s wall at sf0.1; the |V|-row
        // adjacency index broadcasts instead (2|E| longs — the same
        // envelope the 8M-edge gate already budgets), the courier rows
        // never exist, and the courier groupBy + left-join epilogue
        // collapse into one projected expression.
        graft.GraftExtensions.register(spark)
        val adj = Analytics.copurchaseAdj(spark, dir)
        nonadj
          .join(broadcast(adj.select(col("u"), col("nbrs").as("nu"))),
            Seq("u"))
          .join(broadcast(adj.select(col("u").as("v"),
            col("nbrs").as("nv"))), Seq("v"))
          .join(broadcast(adj.select(col("u").as("z"),
            col("nbrs").as("nz"))), Seq("z"))
          .select(col("z"), (lit(1L) +
            expr("intersect3_count_sorted_excl(nu, nv, nz, z)")).as("sigma"))
      } else {
        // Past the gate: the hash-partitioned SMJ Pregel shape — the
        // courier stream joins exchange on vertex keys, the billion-edge
        // fallback (decided by the edge count, not by a human edit).
        val couriers = nonadj
          .join(sym.select(col("u"), col("v").as("w")), Seq("u"))
          .filter(col("w") =!= col("z"))
          .join(sym.select(col("u").as("v"), col("v").as("w"))
            .as("nv"), Seq("v", "w"), "left_semi")
          .join(ego.select(col("z"), col("n").as("w")),
            Seq("z", "w"), "left_semi")
          .groupBy(col("z"), col("u"), col("v"))
          .agg(count(lit(1)).as("extra"))
        nonadj.join(couriers, Seq("z", "u", "v"), "left")
          .select(col("z"),
            (lit(1L) + coalesce(col("extra"), lit(0L))).as("sigma"))
      }
    sigma.groupBy(col("z").as("part"))
      .agg(count(lit(1)).as("n_broker_pairs"),
        sum(lit(1.0) / col("sigma").cast("double")).cast("float")
          .as("ego_betweenness"))
      .orderBy(col("part"))
  }

  // ---- Page's CUSUM against a fixed target --------------------------------

  /** Page's one-sided CUSUM against a fixed target per user: S⁺ᵢ =
    * max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack)), alarm when S⁺ crosses `h` —
    * the SEQUENTIAL drift detector a live monitor actually runs (the
    * retrospective [[Analytics3.tsCusumChangepoint]] needs the whole
    * series' mean; this needs only the last S⁺, which is why it has a
    * one-value streaming twin). Emits one row per event with the
    * running S⁺ and the alarm flag.
    *
    * Exactness: the clamped recurrence is a fixed sequence of double
    * ops in (ts, event_id) order — flatMapSortedGroups here, a
    * recursive CTE in the oracle, identical parenthesization → every
    * S⁺ bit-identical ([[Analytics4.tsKalman1d]] contract). max(0,·)
    * introduces no libm.
    *
    * Scale shape: ONE exchange on user_id, engine-side sort, O(1)
    * state per key — the Kadane/debounce/Kalman sorted-group
    * recurrence family; output bounded by the user filter. */
  def tsCusumTarget(spark: SparkSession, dir: String,
      target: Double = 50.0, slack: Double = 5.0, h: Double = 200.0,
      maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        var s = 0.0
        var rn = 0L
        it.map { case (_, _, id, v) =>
          rn += 1
          val s1 = s + (v - target - slack)
          s = if (s1 > 0.0) s1 else 0.0
          (user, id, rn, v, s, s > h)
        }
      }
      .toDF("user_id", "event_id", "rn", "value", "s_plus", "alarm")
      .orderBy(col("user_id"), col("rn"))
  }
}
