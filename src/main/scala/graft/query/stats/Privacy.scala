package graft.query
package stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The stats family's privacy queries (`privacy_`): k-anonymity,
  * l-diversity, t-closeness, randomized response and the differentially
  * private releases with their budget ledger. */
object Privacy {

  /** Laplace-mechanism noised counts per nation (ε = 1): noise drawn by
    * inverse-CDF from the md5-derived uniform, so the mechanism SHAPE
    * is deterministic and oracle-replayable. Demo grain: the exact
    * count ships beside the noised one to make the calibration
    * auditable — a real ε-DP release emits ONLY `noisy_count` (and a
    * fresh, non-derivable draw); this operator documents the plumbing
    * a private-aggregation pipeline drops in.
    *
    * Scale shape: one tiny-key aggregate; noise is per-GROUP scalar
    * arithmetic. */
  def privacyDpCounts(spark: SparkSession, dir: String,
      epsilon: Double = 1.0): DataFrame = {
    // u ∈ (0,1) strictly: +0.5 keeps both ln() args positive
    val u = (TokenHash.hash60(concat(lit("dp:"), col("c_nationkey")))
      .cast("double") + 0.5) / lit(1152921504606846976.0)
    val p = u - 0.5
    val noise = (-signum(p) / epsilon) * log(lit(1.0) - abs(p) * 2.0)
    table(spark, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("exact_count"))
      .withColumn("noise", noise.cast("float"))
      .withColumn("noisy_count",
        (col("exact_count") + noise).cast("float"))
      .orderBy(col("c_nationkey"))
  }

  /** Differentially-private top-k selection — the EXPONENTIAL-mechanism
    * member of the DP family ([[privacyDpCounts]] releases noised
    * values; this releases a noised RANKING, the "which categories may
    * I even name" primitive). Implemented as Gumbel-max (provably
    * equivalent to the exponential mechanism): each candidate's
    * utility (its count) is perturbed by (2Δ/ε)·g with
    * g = −ln(−ln(u)) drawn from the deterministic md5 uniform, and the
    * top-k noised utilities are released WITHOUT their counts. The
    * demo grain ships the exact count beside the release for audit
    * (the [[privacyDpCounts]] discipline).
    *
    * Scale shape: one tiny-key count aggregate; the noise and ranking
    * are scalar math on the ≤|categories| panel. */
  def privacyDpTopk(spark: SparkSession, dir: String, k: Int = 3,
      epsilon: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (TokenHash.hash60(concat(lit("dptopk:"), col("event_type")))
      .cast("double") + 0.5) / lit(1152921504606846976.0)
    val gumbel = -log(-log(u))
    val noised = col("exact_count").cast("double") +
      lit(2.0 / epsilon) * gumbel
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_count"))
      .withColumn("noised_utility", noised)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("noised_utility").desc, col("event_type"))))
      .filter(col("rank") <= k)
      .select(col("rank").cast("int").as("rank"), col("event_type"),
        col("noised_utility").cast("float").as("noised_utility"),
        col("exact_count"))
      .orderBy(col("rank"))
  }

  /** Local-DP randomized response (Warner's mechanism) per event type:
    * each respondent reports the true bit (the event-id parity) with
    * probability p = 3/4 and the flipped bit otherwise, and the
    * aggregator debiases the observed rate with
    * π̂ = (p̂_obs − (1−p)) / (2p − 1) — the LOCAL-privacy counterpart of
    * [[privacyDpCounts]]' central Laplace release, the mechanism a
    * telemetry pipeline uses when no trusted aggregator exists.
    *
    * The flip draw is the usual deterministic PRF (an integer compare
    * hash60(id:rr) % 4 < 3), so every cell is hash-replayable: n,
    * n_true_1 (the secret the release hides), n_reported_1 all exact
    * BIGINTs; the debiased estimate is a fixed-paren double epilogue —
    * emitted BESIDE the truth so the calibration is auditable, exactly
    * the [[privacyDpCounts]] demo-grain discipline.
    *
    * Scale shape: map-only mechanism, one tiny-key aggregate. */
  def privacyRandResponse(spark: SparkSession, dir: String): DataFrame = {
    def h(salt: String): Column =
      TokenHash.hash60(concat(col("event_id").cast("string"), lit(salt)))
    val truth = (col("event_id") % 2 === 1)
    val keep = h(":rr") % 4 < 3 // p = 3/4 report truth
    val reported = when(keep, truth).otherwise(!truth)
    val g = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type"), truth.as("t"), reported.as("r"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_true_1"),
        sum(when(col("r"), 1L).otherwise(0L)).as("n_reported_1"))
    val pObs = col("n_reported_1").cast("double") / col("n").cast("double")
    val est = (pObs - lit(0.25)) / lit(0.5)
    g.select(col("event_type"), col("n"), col("n_true_1"),
        col("n_reported_1"),
        pObs.cast("float").as("p_reported"),
        est.cast("float").as("pi_hat"))
      .orderBy(col("event_type"))
  }

  /** t-closeness audit by total variation: for each (nation)
    * quasi-identifier class, TV distance between the class's
    * market-segment distribution and the corpus-wide one — the
    * distributional companion of the k-anonymity / l-diversity audits
    * (a class may be large AND diverse yet still leak via skew).
    *
    * Scale shape: two tiny-key aggregates + one broadcast join on the
    * (class, segment) grain; max-per-class is a final tiny aggregate. */
  def privacyTClosenessTv(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
    val classSeg = c.groupBy(col("nk"), col("seg"))
      .agg(count(lit(1)).as("ns"))
    val classTot = c.groupBy(col("nk")).agg(count(lit(1)).as("nc"))
    val globSeg = c.groupBy(col("seg")).agg(count(lit(1)).as("gs"))
    val globTot = c.agg(count(lit(1)).as("gt"))
    // the global segment grain is the frame: a class missing a segment
    // contributes |0 − q| for it, so join FROM the (class × segment)
    // cross of the two tiny dimension tables
    classTot.crossJoin(broadcast(globSeg)).crossJoin(broadcast(globTot))
      .join(classSeg, Seq("nk", "seg"), "left")
      .select(col("nk"),
        abs(coalesce(col("ns"), lit(0L)).cast("double")
            / col("nc").cast("double")
          - col("gs").cast("double") / col("gt").cast("double"))
          .as("term"),
        col("nc"))
      .groupBy(col("nk").as("c_nationkey"))
      .agg(min(col("nc")).as("class_size"),
        (sum(col("term")) / 2.0).cast("float").as("tv_distance"))
      .orderBy(col("c_nationkey"))
  }

  /** Differentially-private median — the exponential mechanism over a
    * fixed candidate grid (multiples of `step` across the value
    * domain), utility u(c) = −|#{v < c} − n/2| (rank distance to the
    * median, sensitivity 1), released via the Gumbel-max trick with
    * the [[privacyDpTopk]] deterministic md5 uniforms. The
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
    val uu = (TokenHash.hash60(concat(lit("dpq:"),
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

  /** Differentially-private per-type mean of `value` via the standard
    * two-release clipped-sum mechanism: every record's contribution is
    * L1-clipped to [0, C], the clipped sum is released with Laplace
    * noise at scale C/ε and the count with scale 1/ε, and the DP mean
    * is their ratio — the release primitive a training pipeline quotes
    * for per-slice statistics (the clip bounds per-record sensitivity;
    * [[Quality.dqDpLaplaceCounts]] released counts only,
    * [[privacyDpQuantile]] quantiles; this closes means).
    *
    * Exactness: the clipped sum is an exact scaled BIGINT
    * (⌊value·100⌋ clamped to [0, 100·C] — floor, never round, so no
    * half-way rounding mode can diverge), the Laplace draws are the
    * [[Quality.dqDpLaplaceCounts]] replayable inverse-CDF PRF draws
    * (u = hash60/2⁶⁰, noise = −b·sign(u−½)·ln(1−2|u−½|)), and the mean
    * is one double division with the noisy count floored at 1 (the
    * standard positive-denominator release guard). A production
    * release swaps the PRF for a sealed RNG; mechanism, clip, and
    * scales stay as pinned here.
    *
    * Scale shape: map-only clip arithmetic, ONE map-side-combined
    * (sum, count) aggregate per type, noise applied on the ≤|types|
    * output rows — scan-bound at 100 TB. */
  def privacyDpClippedMean(spark: SparkSession, dir: String,
      epsilon: Double = 0.5, clip: Double = 50.0): DataFrame = {
    val clipScaled = (clip * 100.0).toLong
    val bSum = clip / epsilon
    val bCnt = 1.0 / epsilon
    def lap(salt: String, b: Double): (Column, Column) = {
      val u = TokenHash.hash60(
        concat(col("event_type"), lit(salt))).cast("double") /
        lit(1152921504606846976.0) // 2^60
      val c = u - lit(0.5)
      (u, -lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c)))
    }
    val clipped = least(greatest(floor(col("value") * lit(100.0))
      .cast("long"), lit(0L)), lit(clipScaled))
    val (_, nSum) = lap(":dpsum", bSum)
    val (_, nCnt) = lap(":dpcnt", bCnt)
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(clipped), lit(0L)).as("clipped_sum_scaled"))
      // the dqDpLaplaceCounts rounding contract: each draw is REAL-cast
      // FIRST (absorbing the one libm-last-ulp ln), and all downstream
      // arithmetic reads the rounded float — so the release columns are
      // bit-identical cross-engine
      .withColumn("noise_sum", nSum.cast("float"))
      .withColumn("noise_cnt", nCnt.cast("float"))
      .withColumn("dp_sum",
        (col("clipped_sum_scaled").cast("double") / lit(100.0)
          + col("noise_sum").cast("double")).cast("float"))
      .withColumn("dp_count",
        greatest(col("n_exact").cast("double")
          + col("noise_cnt").cast("double"), lit(1.0)).cast("float"))
      .withColumn("dp_mean",
        (col("dp_sum").cast("double") / col("dp_count").cast("double"))
          .cast("float"))
      .orderBy(col("event_type"))
  }

  // ---- DP privacy-budget ledger ------------------------------------------

  /** One row of the engine's DP release inventory, ε on the exact µε
    * grid (integer micro-epsilon — the integer-accounting convention of
    * production DP libraries, and what keeps every ledger sum
    * order-independent): `eps_u` is the release's TOTAL composed ε in
    * µε (per-draw ε × sequential draws, composed at panel construction),
    * `lin_n` is the driver-precomputed advanced-composition linear term
    * ε·(e^ε−1) in nano units — libm exp never runs inside either
    * engine, the [[graft.query.ml.Significance.invNormGrid]] inlined-constant
    * discipline. */
  case class DpRelease(release: String, mechanism: String,
      privacy_model: String, n_draws: Long, eps_u: Long, lin_n: Long)

  private def mkRelease(release: String, mechanism: String, model: String,
      nDraws: Long, epsPerDraw: Double): DpRelease = {
    val epsU = Math.round(epsPerDraw * 1e6) * nDraws
    val eps = epsU.toDouble / 1e6
    DpRelease(release, mechanism, model, nDraws, epsU,
      Math.round(eps * Math.expm1(eps) * 1e9))
  }

  /** The engine's standing DP release inventory, one row per release
    * family as the code actually spends ε: the two Laplace count
    * releases ride PARALLEL composition over disjoint type slices (so
    * one worst-case draw each), the Gumbel-max top-k is k adaptive
    * exponential peels (k·ε sequential), the clipped mean is two
    * Laplace draws (sum + count) at ε each, and randomized response is
    * the local-model ε = ln((p)/(1−p)) = ln 3 at p = 3/4. */
  private[graft] val defaultDpReleases: Seq[DpRelease] = Seq(
    mkRelease("dq_dp_laplace_counts", "laplace", "central", 1L, 0.5),
    mkRelease("privacy_dp_counts", "laplace", "central", 1L, 1.0),
    mkRelease("privacy_dp_quantile", "exponential", "central", 1L, 1.0),
    mkRelease("privacy_dp_topk", "exponential", "central", 3L, 1.0),
    mkRelease("privacy_dp_clipped_mean", "laplace", "central", 2L, 0.5),
    mkRelease("privacy_rand_response", "rand_response", "local", 1L,
      math.log(3.0)))

  /** ln(1/δ') for the advanced-composition bound at δ' = 10⁻⁶ — a
    * driver constant shared verbatim with the oracle SQL generator. */
  private[graft] val lnInvDelta: Double = 13.815510557964274

  /** DP privacy-budget ledger — the composition report that turns the
    * privacy family's per-release ε parameters into an account: one row
    * per standing release (exact µε), plus a basic sequential
    * composition total (Σεᵢ) and the heterogeneous advanced-composition
    * bound √(2·ln(1/δ')·Σεᵢ²) + Σεᵢ(e^εᵢ−1) at δ' = 10⁻⁶ — the
    * (ε, δ)-DP statement a data-release review actually asks for.
    *
    * Exactness: every engine-side sum is over exact BIGINTs (µε grid;
    * squares ≤ 9·10¹², nano linear terms) so accumulation order cannot
    * matter; e^ε−1 is driver-precomputed per release (no libm exp in
    * either engine); the two bound epilogues are fixed-parenthesization
    * double arithmetic, REAL-cast. Empty inventory yields the two
    * zero-ε total rows (EdgeCaseSpec contract).
    *
    * Scale shape: a ≤10-row literal panel — driver-sized by
    * construction, the ledger grain is releases, not data. */
  def privacyBudgetLedger(spark: SparkSession, dir: String,
      releases: Seq[DpRelease] = defaultDpReleases): DataFrame = {
    import spark.implicits._
    val p = spark.createDataset(releases).toDF()
    val rel = p.select(col("release"), col("mechanism"),
      col("privacy_model"), col("n_draws"),
      col("eps_u").as("eps_micro"),
      (col("eps_u").cast("double") / lit(1e6)).cast("float").as("eps"))
    val t = p.agg(
      coalesce(sum(col("n_draws")), lit(0L)).as("n"),
      coalesce(sum(col("eps_u")), lit(0L)).as("s"),
      coalesce(sum(col("eps_u") * col("eps_u")), lit(0L)).as("ssq"),
      coalesce(sum(col("lin_n")), lit(0L)).as("sl"))
    val basic = t.select(lit("zz_composition_basic").as("release"),
      lit("sequential").as("mechanism"),
      lit("central+local").as("privacy_model"),
      col("n").as("n_draws"), col("s").as("eps_micro"),
      (col("s").cast("double") / lit(1e6)).cast("float").as("eps"))
    val advanced = t.select(lit("zz_composition_advanced").as("release"),
      lit("advanced_composition").as("mechanism"),
      lit("central+local").as("privacy_model"),
      col("n").as("n_draws"), lit(null).cast("long").as("eps_micro"),
      (sqrt(lit(2.0) * lit(lnInvDelta) *
          (col("ssq").cast("double") / lit(1e12))) +
        col("sl").cast("double") / lit(1e9)).cast("float").as("eps"))
    rel.unionByName(basic).unionByName(advanced).orderBy(col("release"))
  }

  // ---- weighted single-source shortest paths ------------------------------

  /** k-anonymity audit over the (nation, order-year) quasi-identifier:
    * every equivalence class with its size and an at-risk flag
    * (size < k) — the table a privacy review reads before a release.
    * Generalizing the QI (coarser year bands, region instead of
    * nation) re-runs the same plan with a different grouping key.
    *
    * Scale shape: fact⨝broadcast-dim, one map-side-combined aggregate
    * on the QI key; output is |QI-domain|-sized. */
  /** l-diversity audit, the k-anonymity companion: a QI class can be
    * large yet still leak when every member shares the same SENSITIVE
    * value. Counts distinct order priorities per (nation, order-year)
    * class and flags classes below l — read together with
    * [[privacyKAnonymity]] before a release. */
  def privacyLDiversity(spark: SparkSession, dir: String,
      l: Int = 3): DataFrame =
    table(spark, dir, "orders")
      .join(broadcast(table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        year(col("o_orderdate")).as("order_year"), col("o_orderpriority"))
      .groupBy(col("nation"), col("order_year"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("o_orderpriority")).as("n_sensitive"))
      .select(col("nation"), col("order_year"), col("class_size"),
        col("n_sensitive"), (col("n_sensitive") < l).as("below_l"))
      .orderBy(col("nation"), col("order_year"))

  def privacyKAnonymity(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    table(spark, dir, "orders")
      .join(broadcast(table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        year(col("o_orderdate")).as("order_year"))
      .groupBy(col("nation"), col("order_year"))
      .agg(count(lit(1)).as("class_size"))
      .select(col("nation"), col("order_year"), col("class_size"),
        (col("class_size") < k).as("at_risk"))
      .orderBy(col("nation"), col("order_year"))
}
