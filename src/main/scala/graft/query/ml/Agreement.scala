package graft.query
package ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The ML family's inter-rater agreement metrics: Cohen's and Fleiss'
  * kappa, Gwet's AC1, Krippendorff's alpha and the ICC. */
object Agreement {

  /** Cohen's kappa between two deterministic event labelers — rule A:
    * "value above the event-type mean", rule B: "md5-derived parity"
    * (a hash-random rater) — the chance-corrected agreement statistic
    * every labeling pipeline reports before trusting weak labels.
    * Against a hash-random rater, kappa's expected value is ~0 — the
    * panel makes the chance correction visible, where raw agreement
    * would read ≈0.5.
    *
    * Exactness: both raters are integer/deterministic (the type-mean
    * comparison is a cross-multiplied integer compare on exact scaled
    * sums — no division), the confusion counts are BIGINTs, and kappa
    * is one identically-associated double expression.
    *
    * Scale shape: one broadcast of the 5-row type means, one map-side
    * combined confusion aggregate, scalar math after. */
  def evalCohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val g = raterCells(spark, dir)
    val nD = col("n").cast("double")
    val po = col("n_agree").cast("double") / nD
    val pa1 = col("n_a1").cast("double") / nD
    val pb1 = col("n_b1").cast("double") / nD
    val pe = pa1 * pb1 + (lit(1.0) - pa1) * (lit(1.0) - pb1)
    g.select(col("n"), col("n_agree"), col("n_a1"), col("n_b1"),
      po.cast("float").as("p_observed"),
      pe.cast("float").as("p_expected"),
      ((po - pe) / (lit(1.0) - pe)).cast("float").as("kappa"))
  }
  /** The 2×2 rater table both kappa-family metrics read, as one row
    * (n, n_agree, n_a1, n_b1): rater a flags an event whose value beats
    * its event type's mean, rater b is an md5-derived coin per event. */
  private def raterCells(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    val means = e.groupBy(col("event_type"))
      .agg(sum(col("v3")).as("s3"), count(lit(1)).as("n"))
    e.join(broadcast(means), Seq("event_type"))
      // v3 > s3/n as the integer cross-product v3·n > s3 (n > 0)
      .withColumn("a", (col("v3") * col("n") > col("s3")).cast("int"))
      .withColumn("b",
        (TokenHash.hash60(concat(col("event_id").cast("string"),
          lit(":rater"))) % 2).cast("int"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
        sum(col("a").cast("long")).as("n_a1"),
        sum(col("b").cast("long")).as("n_b1"))
  }


  /** Fleiss' kappa: chance-corrected agreement of m = 3 raters assigning
    * k = 3 categories to the same items — the multi-annotator QA
    * statistic an RLHF / preference-labeling pipeline reports before
    * trusting its labels (Cohen's kappa only handles 2 raters).
    *
    * Raters are deterministic PRFs in the [[evalCohensKappa]] idiom: a
    * latent category hash60(id:truecat) % 3, and each rater r reports it
    * with probability 7/10 (hash60(id:r) % 10 < 7) or substitutes an
    * independent draw hash60(id:alt r) % 3 — so real agreement structure
    * exists and every cell is hash-replayable in any engine.
    *
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with P̄ = (Σᵢⱼ nᵢⱼ² − N·m)/(N·m·(m−1)) and
    * P̄ₑ = Σⱼ (Sⱼ/(N·m))²; every Σ is an exact BIGINT and the float math
    * is a fixed-parenthesization scalar epilogue on the single output
    * row.
    *
    * Scale shape: map-only category assignment (md5s are codegen'd),
    * ONE map-side-combined 5-sum aggregate — no shuffle wider than one
    * row; at 100 TB this is scan-bound. */
  def evalFleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val m = 3
    def h(salt: String): Column =
      TokenHash.hash60(concat(col("event_id").cast("string"),
        lit(salt)))
    val base = h(":truecat") % 3
    def rater(r: Int): Column =
      when(h(s":r$r") % 10 < 7, base).otherwise(h(s":alt$r") % 3)
    val cats = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"))
      .select((0 until 3).map { j =>
        (0 until m).map(r => when(rater(r + 1) === j, 1L).otherwise(0L))
          .reduce(_ + _).as(s"n$j")
      }: _*)
    val g = cats.agg(count(lit(1)).as("n_items"),
      sum(col("n0")).as("s0"), sum(col("n1")).as("s1"),
      sum(col("n2")).as("s2"),
      sum(col("n0") * col("n0") + col("n1") * col("n1")
        + col("n2") * col("n2")).as("ss"))
    val nm = col("n_items").cast("double") * lit(3.0)
    val pbar = (col("ss").cast("double") - nm) / (nm * lit(2.0))
    def pj(c: String): Column = col(c).cast("double") / nm
    val pe = pj("s0") * pj("s0") + pj("s1") * pj("s1") +
      pj("s2") * pj("s2")
    g.select(col("n_items"), lit(m).as("m"),
      col("s0"), col("s1"), col("s2"), col("ss"),
      pbar.cast("float").as("p_bar"), pe.cast("float").as("p_e"),
      ((pbar - pe) / (lit(1.0) - pe)).cast("float").as("kappa"))
  }

  /** Krippendorff's alpha (nominal): chance-corrected multi-rater
    * agreement that — unlike [[evalFleissKappa]] — handles MISSING
    * ratings, the real shape of annotation work (each of the 3 PRF
    * raters skips an item when hash60(id:presentR) % 4 == 0; items
    * with fewer than 2 ratings aren't pairable and drop out).
    *
    * Exact rational form: with mᵢ ∈ {2,3} ratings per pairable item,
    * 2·n·Do = Σᵢ 2(mᵢ² − Σ_c n_ic²)/(mᵢ−1) is an INTEGER (denominator
    * 1 or 2), and n(n−1)·De = n² − Σ_c n_c², so
    * α = 1 − (2nDo)·(n−1) / (2·(n²−Σn_c²)) is ONE double division of
    * exact BIGINTs — bit-identical cross-engine, no per-item float
    * accumulation at all.
    *
    * Scale shape: map-only rating assignment, one map-side-combined
    * aggregate row; scan-bound at 100 TB like the kappa. The pairable
    * gate (m ≥ 2) is a CONDITION inside the aggregate expressions, not
    * a Filter node: a filter on a derived column gets pushed below the
    * projection and RE-EXPANDS every md5 into the predicate — measured
    * 2.6 s → 0.15 s at sf0.1 for this exact operator. */
  def evalKrippendorffAlpha(spark: SparkSession, dir: String): DataFrame = {
    val s = (col("n0") * col("n0") + col("n1") * col("n1")
      + col("n2") * col("n2"))
    val n = col("n_ratings")
    krippendorff(spark, dir,
      // 2(m^2 - s)/(m-1): m=2 -> 2(4-s); m=3 -> 9-s
      when(col("m") === 2, lit(2L) * (lit(4L) - s))
        .when(col("m") === 3, lit(9L) - s).otherwise(0L),
      n * n - (col("c0") * col("c0") + col("c1") * col("c1")
        + col("c2") * col("c2")))
  }

  /** The Krippendorff rater simulation and exact-integer fold shared by
    * [[evalKrippendorffAlpha]] and [[evalKrippendorffOrdinal]]: per
    * event, 3 raters each rate (present unless hash60(id:presentR) % 4
    * == 0) the true category (hash60(id:truecat) % 3) with probability
    * 7/10, else a hashed alternative; per-item category counts n0..n2
    * and m = n0+n1+n2. One aggregate row over the pairable (m ≥ 2)
    * items: n_items, n_ratings, c0..c2, and do_num2 = Σ `doNum2` (the
    * per-item 2·D/(m−1)); `deNum` (over n_ratings, c0..c2)
    * is the expected-disagreement numerator, and α = 1 −
    * do_num2·(n−1) / (2·deNum) is NULL when deNum = 0. */
  private def krippendorff(spark: SparkSession, dir: String,
      doNum2: Column, deNum: Column): DataFrame = {
    def h(salt: String): Column =
      TokenHash.hash60(concat(col("event_id").cast("string"),
        lit(salt)))
    val base = h(":truecat") % 3
    def present(r: Int): Column = h(s":present$r") % 4 =!= 0
    def cat(r: Int): Column =
      when(h(s":r$r") % 10 < 7, base).otherwise(h(s":alt$r") % 3)
    // each rater's (possibly NULL) category computed ONCE per row
    val cats = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"))
      .select((1 to 3).map(r =>
        when(present(r), cat(r)).as(s"c$r")): _*)
    val perItem = cats
      .select((0 until 3).map { j =>
        (1 to 3).map(r => when(col(s"c$r") === j, 1L).otherwise(0L))
          .reduce(_ + _).as(s"n$j")
      }: _*)
      .withColumn("m", col("n0") + col("n1") + col("n2"))
    val pairable = col("m") >= 2
    def sum0(c: Column): Column = coalesce(sum(c), lit(0L))
    val g = perItem.agg(
      sum0(when(pairable, 1L).otherwise(0L)).as("n_items"),
      sum0(when(pairable, col("m")).otherwise(0L)).as("n_ratings"),
      sum0(when(pairable, col("n0")).otherwise(0L)).as("c0"),
      sum0(when(pairable, col("n1")).otherwise(0L)).as("c1"),
      sum0(when(pairable, col("n2")).otherwise(0L)).as("c2"),
      sum0(doNum2).as("do_num2"))
    val n = col("n_ratings")
    g.select(col("n_items"), col("n_ratings"),
        col("c0"), col("c1"), col("c2"),
        col("do_num2"), deNum.as("de_num"),
        // deNum = 0 (empty or single-category corpus) -> NULL, not 0/0
        when(deNum > 0,
          lit(1.0) - (col("do_num2") * (n - 1)).cast("double")
            / (lit(2L) * deNum).cast("double"))
          .cast("float").as("alpha"))
  }

  /** Ordinal Krippendorff's alpha — [[evalKrippendorffAlpha]] with the
    * SQUARED-DISTANCE metric ((c − c')² instead of 0/1), the form that
    * fits graded annotations (1–5 quality scores) where disagreeing by
    * one step should cost less than disagreeing by four. Same raters,
    * same missingness; the per-item disagreement Σ_{c≠c'} n_c·n_c'·d²
    * expands over the 3 category pairs with weights {1, 4, 1}, still
    * an exact BIGINT under the ×2/(mᵢ−1) scaling, so α is again ONE
    * double division. Same scan-bound shape as the nominal form. */
  def evalKrippendorffOrdinal(spark: SparkSession, dir: String): DataFrame = {
    // ordered-pair squared-distance mass: 2*(n0n1 + 4 n0n2 + n1n2)
    val dsq = lit(2L) * (col("n0") * col("n1")
      + lit(4L) * col("n0") * col("n2") + col("n1") * col("n2"))
    krippendorff(spark, dir,
      // 2*dsq/(m-1): m=2 -> 2*dsq; m=3 -> dsq
      when(col("m") === 2, lit(2L) * dsq).when(col("m") === 3, dsq)
        .otherwise(0L),
      lit(2L) * (col("c0") * col("c1")
        + lit(4L) * col("c0") * col("c2") + col("c1") * col("c2")))
  }

  /** Intraclass correlation ICC(2,1) and ICC(2,k) — two-way random
    * effects, absolute agreement: the CONTINUOUS-rating reliability
    * statistic completing the inter-rater family (Cohen's and Fleiss'
    * kappa and Krippendorff's alpha cover categorical/ordinal labels;
    * reward-model scores and quality ratings are continuous, and their
    * pipelines report ICC). Raters are the deterministic-PRF idiom:
    * each item i carries a latent hash level, and rater j reports
    * latent + j (a real rater bias, so MSC > 0 and the 2-way model is
    * non-degenerate) + an item×rater hash noise term — every rating an
    * exact small integer.
    *
    * Exactness: ICC needs only S = ΣΣx, SS = ΣΣx², Σ row-sums², and
    * the k per-rater column sums — all exact BIGINTs off ONE
    * map-side-combined aggregate over one map-only projection (raters
    * are PRFs of the item row: no join, no second scan). The
    * ANOVA epilogue (SSR/SSC/SSE → MSR/MSC/MSE → the two ICCs) is a
    * fixed-parenthesization double epilogue on the single output row.
    *
    * Scale shape: map-only projection + 1-row aggregate; nothing
    * downstream scales with the corpus. */
  def evalIcc(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id").cast("string").as("id"))
    val latent = TokenHash.hash60(concat(col("id"), lit(":icclat"))) % 7
    val xs = (1 to k).map { j =>
      (latent + lit(j.toLong)
        + TokenHash.hash60(concat(col("id"), lit(s":iccn$j"))) % 3)
        .as(s"x$j")
    }
    val rated = e.select(xs: _*)
    val rowSum = (1 to k).map(j => col(s"x$j")).reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(rowSum).as("s"),
        sum((1 to k).map(j => col(s"x$j") * col(s"x$j")).reduce(_ + _))
          .as("ss"),
        sum(rowSum * rowSum).as("srow2")) ++
      (1 to k).map(j => sum(col(s"x$j")).as(s"c$j"))
    val g = rated.agg(aggs.head, aggs.tail: _*)
    def d(c: Column): Column = c.cast("double")
    val kd = lit(k.toDouble)
    val nd = d(col("n"))
    val grand = d(col("s")) * d(col("s")) / (nd * kd)
    val ssr = d(col("srow2")) / kd - grand
    val ssc = (1 to k).map(j => d(col(s"c$j")) * d(col(s"c$j")))
      .reduce(_ + _) / nd - grand
    val sst = d(col("ss")) - grand
    val sse = sst - ssr - ssc
    val msr = ssr / (nd - 1.0)
    val msc = ssc / (kd - 1.0)
    val mse = sse / ((nd - 1.0) * (kd - 1.0))
    val icc1 = (msr - mse) /
      (msr + (kd - 1.0) * mse + kd * (msc - mse) / nd)
    val icck = (msr - mse) / (msr + (msc - mse) / nd)
    g.select(col("n").as("n_items"), lit(k).as("k_raters"),
      msr.cast("float").as("msr"), msc.cast("float").as("msc"),
      mse.cast("float").as("mse"),
      icc1.cast("float").as("icc2_1"), icck.cast("float").as("icc2_k"))
  }

  /** Gwet's AC1 between the two [[evalCohensKappa]] raters —
    * the chance-agreement coefficient that stays stable under skewed
    * marginals (the "kappa paradox": near-unanimous raters can score
    * kappa ≈ 0 because kappa's chance term absorbs the prevalence; AC1
    * models chance agreement as the chance of rating a RANDOM category,
    * pe = 2π(1−π) with π the mean marginal). Reported beside kappa so
    * the pair diagnoses prevalence artifacts.
    *
    * Exactness: the same [[raterCells]] as kappa (type-mean rule vs
    * md5-parity rater — cross-multiplied compares, no division),
    * one fixed-paren double epilogue.
    *
    * Scale shape: one broadcast of the 5-row type means, one map-side
    * combined confusion aggregate, scalar math after. */
  def evalGwetAc1(spark: SparkSession, dir: String): DataFrame = {
    val g = raterCells(spark, dir)
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
}
