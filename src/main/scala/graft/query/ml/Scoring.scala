package graft.query
package ml

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The ML family's score-quality metrics: ROC/PR AUC, DeLong variance,
  * decile lift, MCC, the confusion matrix and the centroid silhouette. */
object Scoring {

  /** The synthetic classifier score every score-quality and
    * calibration metric reads: the first embedding coordinate mapped
    * into [0, 0.9999]. */
  private[ml] def embScore: Column = least(greatest(
    element_at(col("embedding"), 1).cast("double") * 2.0 + 0.5,
    lit(0.0)), lit(0.9999))

  /** Exact ROC-AUC by the rank-sum (Mann–Whitney U) identity over the
    * deterministic calibration score ([[Calibration.evalCalibrationBins]]'
    * affine clamp) and odd-label outcome: AUC = (Σ ranks(pos) − n⁺(n⁺+1)/2) /
    * (n⁺·n⁻), with ties taking the average rank — the exact value, not a
    * trapezoid approximation. Completes the offline-eval family (confusion,
    * retrieval metrics, calibration).
    *
    * Scale shape: NO window touches row grain. Rows reduce to the
    * distinct-score grain (map-side-combined (count, npos) aggregate),
    * and the count of rows below each distinct score is a [[TwoLevel]]
    * exclusive prefix over ≤ 4097 fixed [0, 0.9999] score-range buckets.
    * The rank-sum identity needs only Σ npos·avg_rank, and every
    * avg_rank is an exact multiple of 0.5 (exactly representable), so
    * the double sum is order-independent — bit-identical to the
    * single-window per-row form. */
  def evalAucRoc(spark: SparkSession, dir: String): DataFrame = {
    val score = embScore
    val g = table(spark, dir, "embeddings")
      .select(score.as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("np"))
    // rows below this distinct score; avg rank = that + (c+1)/2
    val ranked = TwoLevel.prefix(g,
      floor(col("score") * lit(4096.0)).cast("long"), Seq(col("score")),
      sums = Seq("c" -> "cb"), inclusive = false)
    ranked.agg(
      // coalesce: empty input must report ZERO counts with a null rate
      // (the count() semantics of the pre-two-level form — EdgeCaseSpec)
      coalesce(sum(col("np")), lit(0L)).as("npos"),
      coalesce(sum(col("c") - col("np")), lit(0L)).as("nneg"),
      // ×2-scaled rank sum as an exact DECIMAL: np·(2·cb + c + 1) is an
      // integer per distinct score, so the aggregate is order-
      // independent at ANY row count (the double Σ np·avg_rank form was
      // only exact while the sum stayed ≤ 2^53 — ~10^8 rows already
      // push rank sums near 10^16; r15 advice #4). The single halving
      // moves into the 1-row epilogue: (rpos2 − n₊(n₊+1)) / (2·n₊·n₋)
      // rounds once on the same rational as the oracle's
      // (Σ avg_rank − n₊(n₊+1)/2) / (n₊·n₋), so the emitted float is
      // bit-identical where both are in range.
      sum((col("np").cast("decimal(20,0)")
        * (lit(2L) * col("cb") + col("c") + lit(1L)).cast("decimal(20,0)")))
        .as("rpos2"))
      .select(col("npos"), col("nneg"),
        ((col("rpos2").cast("double") - col("npos").cast("double")
          * (col("npos").cast("double") + 1.0))
          / (lit(2.0) * col("npos").cast("double")
            * col("nneg").cast("double")))
          .cast("float").as("auc"))
  }

  /** DeLong variance and 95% CI for the ROC-AUC — the error bar an
    * eval report must attach before declaring one model's AUC beats
    * another's. Same score/label convention as [[evalAucRoc]].
    *
    * Tie-aware integer core: per positive, the DOUBLED negative
    * placement dᵢ = 2·(#neg below) + (#neg tied) (and eⱼ mirrored per
    * negative), computed from per-distinct-score counts + cumulative
    * windows — never a pos×neg pair join. U₂ = Σdᵢ, Σd², Σe² are exact
    * BIGINTs; AUC = U₂/(2n₁n₀) and the DeLong components
    * s₁₀ = (Σd²/(4n₀²) − n₁·AUC²)/(n₁−1), s₀₁ mirrored,
    * var = s₁₀/n₁ + s₀₁/n₀ are a fixed-parenthesization double
    * epilogue on the single output row.
    *
    * Scale shape: one (score)-grain map-side-combined aggregate, then
    * ONE [[TwoLevel]] ascending prefix of (nn, np) over the
    * [[evalAucRoc]] score buckets (the only unpartitioned window runs
    * over the ≤ 4097-bucket histogram), one 6-sum reduce. The positives
    * ABOVE a score are npos − (inclusive np prefix), so Σe² expands
    * around npos in the 1-row epilogue instead of needing a second,
    * descending prefix. */
  def evalAucDelong(spark: SparkSession, dir: String): DataFrame = {
    val score = embScore
    val g = table(spark, dir, "embeddings")
      .select(score.as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val w = TwoLevel.prefix(g,
      floor(col("score") * lit(4096.0)).cast("long"), Seq(col("score")),
      sums = Seq("nn" -> "nn_le", "np" -> "np_le"))
    val d = lit(2L) * (col("nn_le") - col("nn")) + col("nn")
    // e = 2·(npos − np_le) + np = x + 2·npos
    val x = col("np") - lit(2L) * col("np_le")
    val a = w.agg(sum(col("np")).as("npos"), sum(col("nn")).as("nneg"),
      sum(col("np") * d).as("u2"),
      sum(col("np") * d * d).as("sum_d2"),
      sum(col("nn") * x).as("sum_x"),
      sum(col("nn") * x * x).as("sum_x2"))
      // Σ nn·(x + 2P)² = Σnn·x² + 4P·Σnn·x + 4P²·Σnn, exact in DECIMAL(38,0)
      .withColumn("sum_e2", {
        def dec(c: String): Column = col(c).cast("decimal(38,0)")
        (dec("sum_x2") + lit(4L) * dec("npos") * dec("sum_x")
          + lit(4L) * dec("npos") * dec("npos") * dec("nneg")).cast("long")
      })
    val n1 = col("npos").cast("double")
    val n0 = col("nneg").cast("double")
    val auc = col("u2").cast("double") / (lit(2.0) * n1 * n0)
    val s10 = (col("sum_d2").cast("double") / (lit(4.0) * n0 * n0)
      - n1 * auc * auc) / (n1 - lit(1.0))
    val s01 = (col("sum_e2").cast("double") / (lit(4.0) * n1 * n1)
      - n0 * auc * auc) / (n0 - lit(1.0))
    val v = s10 / n1 + s01 / n0
    a.select(col("npos"), col("nneg"), col("u2"),
      col("sum_d2"), col("sum_e2"),
      auc.cast("float").as("auc"),
      v.cast("float").as("var_auc"),
      (lit(1.96) * sqrt(v)).cast("float").as("ci95_half"))
  }

  /** Average precision (area under the precision-recall curve by the
    * step-interpolation convention): AP = (1/P) Σ_{k: y_k=1} TP@k / k
    * over the score-descending ranking, ties broken by vec_id. The PR
    * companion of [[evalAucRoc]] — preferred on imbalanced
    * labels where ROC-AUC saturates.
    *
    * Scale shape: the (score desc, vec_id) total order is ranked by
    * a [[TwoLevel]] descending prefix (rank and true positives) over
    * ≤ 4097 fixed [0, 0.9999] score-range buckets — no unpartitioned
    * window ever sees row grain. Every per-row (k, tp) is identical to
    * the single-window form, so the AP is bit-identical. */
  def evalPrAuc(spark: SparkSession, dir: String): DataFrame = {
    val score = embScore
    val s = table(spark, dir, "embeddings")
      .select(col("vec_id"), score.as("score"),
        when(col("label") % 2 === 1, 1).otherwise(0).as("y"))
    val ranked = TwoLevel.prefix(s,
        floor(col("score") * lit(4096.0)).cast("long"),
        Seq(col("score").desc, col("vec_id")), bucketDesc = true,
        rowNumber = Some("k"), sums = Seq("y" -> "tp"))
      .select(col("y"), col("k").cast("double").as("k"),
        col("tp").cast("double").as("tp"))
    ranked.filter(col("y") === 1)
      .agg(count(lit(1)).as("npos"),
        sum(col("tp") / col("k")).as("sprec"))
      .select(col("npos").cast("long").as("npos"),
        (col("sprec") / col("npos").cast("double"))
          .cast("float").as("avg_precision"))
  }

  // ---- graph -------------------------------------------------------------

  /** Simplified (centroid) silhouette per label: s = (b−a)/max(a,b)
    * with a = distance to the own-label centroid and b = distance to
    * the nearest other centroid — the O(n·k) clustering-quality score
    * that replaces the O(n²) full silhouette at scale (medoid variant
    * of Rousseeuw). Positive mean ⇒ labels are geometrically separable
    * in embedding space; ≈0 ⇒ labels are noise w.r.t. the geometry.
    *
    * Scale shape: centroids are ONE 64-sum map-side-combined aggregate
    * per label (10 rows, broadcast); each corpus vector computes k
    * distances in-row (fold dot products); two tiny rollups. Corpus
    * vectors never shuffle. */
  def evalSilhouetteCentroid(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), f => f.cast("double")).as("x"))
    val sums = (0 until dim).map(j =>
      sum(element_at(col("x"), j + 1)).as(s"s$j"))
    val cents = emb.groupBy(col("label"))
      .agg(count(lit(1)).cast("double").as("cn"), sums: _*)
      .select(col("label").as("clabel"),
        transform(array((0 until dim).map(j => col(s"s$j")): _*),
          e => e / col("cn")).as("c"))
    def dot(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, t) => acc + t)
    val d2 = dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("c")) +
      dot(col("c"), col("c"))
    val dists = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(greatest(d2, lit(0.0))).as("dist"))
    val ab = dists.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("label") === col("clabel"), col("dist"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
    ab.select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        avg(col("s")).cast("float").as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** Decile lift table for a score ranking: vectors ranked by the
    * [[evalPrAuc]] score, cut into ten INTEGER-arithmetic
    * deciles ((rank−1)·10 / N — never an ntile tie lottery or a q·N
    * float), each reporting its positive rate and lift over the global
    * base rate — the campaign-targeting readout beside ROC/PR.
    *
    * Scale shape: the (score desc, vec_id) rank is the
    * [[evalPrAuc]] [[TwoLevel]] descending row number, then
    * a 10-key aggregate; the base rate is a broadcast 1-row aggregate. */
  def evalDecileLift(spark: SparkSession, dir: String): DataFrame = {
    val score = embScore
    val s = table(spark, dir, "embeddings")
      .select(col("vec_id"), score.as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("y"))
    val ranked = TwoLevel.rowNumber(s,
        floor(col("score") * lit(4096.0)).cast("long"),
        Seq(col("score").desc, col("vec_id")), bucketDesc = true, "r")
      .crossJoin(broadcast(s.agg(count(lit(1)).as("n_total"),
        sum(col("y")).as("n_pos"))))
      .select((((col("r") - 1) * 10) / col("n_total")).cast("int")
          .as("decile"),
        col("y"), col("n_total"), col("n_pos"))
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos_decile"),
        min(col("n_total")).as("nt"), min(col("n_pos")).as("np"))
      .select(col("decile"), col("n"), col("n_pos_decile"),
        (col("n_pos_decile").cast("double") / col("n").cast("double"))
          .as("response_rate"),
        // no positives anywhere: lift is undefined (ANSI x/0 throws)
        when(col("np") === 0, lit(null).cast("float")).otherwise(
          ((col("n_pos_decile").cast("double") / col("n").cast("double")) /
            (col("np").cast("double") / col("nt").cast("double")))
            .cast("float")).as("lift"))
      .orderBy(col("decile"))
  }

  /** Matthews correlation coefficient (plus balanced accuracy and
    * Youden's J) for the [[Significance.evalMcnemar]] type-mean classifier
    * against the PRF label — the single-number binary metrics that stay
    * meaningful under class imbalance where plain accuracy lies. All four
    * confusion cells are exact BIGINTs off ONE map-side-combined aggregate;
    * MCC's denominator is evaluated in double with fixed parenthesization (the
    * Long product of four ~n/2 margins would overflow at corpus scale), and
    * degenerate margins (a zero row or column) yield NULL mcc, not 0/0. */
  def evalMcc(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    val typeMeans = e.groupBy(col("event_type"))
      .agg(sum(col("v3")).as("s3"), count(lit(1)).as("n_t"))
    val scored = e.join(broadcast(typeMeans), Seq("event_type"))
      .select((col("v3") * col("n_t") > col("s3")).as("pred"),
        (TokenHash.hash60(concat(col("event_id").cast("string"),
          lit(":label"))) % 2 === 1).as("label"))
    val g = scored.agg(
      sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
    def d(c: String): Column = col(c).cast("double")
    val den = sqrt((d("tp") + d("fp")) * (d("tp") + d("fn"))
      * (d("tn") + d("fp")) * (d("tn") + d("fn")))
    val tpr = d("tp") / (d("tp") + d("fn"))
    val tnr = d("tn") / (d("tn") + d("fp"))
    g.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0 &&
        (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0,
        (d("tp") * d("tn") - d("fp") * d("fn")) / den)
        .cast("float").as("mcc"),
      when((col("tp") + col("fn")) > 0 && (col("tn") + col("fp")) > 0,
        (tpr + tnr) / lit(2.0)).cast("float").as("balanced_acc"),
      when((col("tp") + col("fn")) > 0 && (col("tn") + col("fp")) > 0,
        tpr + tnr - lit(1.0)).cast("float").as("youden_j"))
  }

  /** Model-evaluation surface: confusion matrix of a deterministic
    * pseudo-classifier (md5-derived, 75% of rows keep their label, the
    * rest rotate to another class by hash) against the event_type label,
    * with per-label row fractions — the evaluation step of a training
    * pipeline, all integer counting + one exact division, so the oracle
    * hash-compares it. The class dictionary (5 rows) broadcasts; the
    * fact scan aggregates map-side to k² cells. */
  def evalConfusion(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"))
    val types = ev.select(col("event_type")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("event_type"))) - 1)
          .cast("long"))
    val k = types.agg(count(lit(1)).as("k"))
    val h = TokenHash.hash60(concat(col("event_id").cast("string"), lit(":pred")))
    // spread ONLY the labeled branch (single consumer): the per-row
    // pred-hash runs on every core instead of the unsplittable scan task
    val labeled = graft.schema.Schemas
      .spread(spark, dir, "events", ev, col("event_id"))
      .join(broadcast(types), Seq("event_type"))
      .crossJoin(broadcast(k))
      .withColumn("h", h)
      .withColumn("pidx",
        when(col("h") % 20 < 15, col("idx"))
          .otherwise((col("idx") + 1
            + (col("h") % 20 - 15) % (col("k") - 1)) % col("k")))
    val predNames = types
      .select(col("idx").as("pidx"), col("event_type").as("pred"))
    val cells = labeled.join(broadcast(predNames), Seq("pidx"))
      .groupBy(col("event_type").as("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy(col("label"))
    cells
      .withColumn("row_frac",
        col("n").cast("double") / sum(col("n")).over(wl))
      .orderBy(col("label"), col("pred"))
  }
}
