package graft.query
package ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The ML family's calibration queries: reliability bins, ECE,
  * isotonic calibration and the Brier decomposition. */
object Calibration {

  /** Reliability-diagram calibration bins for a scored binary outcome:
    * deterministic score from the first embedding coordinate (affine
    * clamp — bit-identical across engines, unlike exp/sigmoid), outcome =
    * odd label; 10 equi-width score bins with count, score mass, and
    * positive count. The ML-eval companion to `eval_confusion`: calibration
    * is how a trained quality/toxicity filter is audited before it gates
    * a 100 TB corpus.
    *
    * Exactness: the score mass rides a ×10⁶ micro-unit grid summed in
    * DECIMAL(38,0), then ONE division back — a raw sum(double) of
    * 0.9999-clamped scores (a non-dyadic constant) accumulated in
    * engine-specific order and drifted past bit-equality at the x10
    * corpus; the 10⁻⁶ quantization is far inside the diagnostic's
    * resolution and both engines round onto the same grid.
    *
    * Scale shape: one scan, one map-side-combined aggregation on a
    * 10-value key — no shuffle pressure at any scale. */
  def evalCalibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val score = Scoring.embScore
    table(spark, dir, "embeddings")
      .select(floor(score * 10).cast("int").as("bin"),
        round(score * lit(1e6)).cast("long").as("score_u"), col("label"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(col("score_u").cast(dec38)).cast("double") / lit(1e6))
          .as("sum_score"),
        count(when(col("label") % 2 === 1, 1)).as("n_pos"))
      .orderBy(col("bin"))
  }

  /** Expected calibration error — the ONE-NUMBER summary of the
    * [[evalCalibrationBins]] reliability diagram
    * (ECE = Σ_b (n_b/N)·|acc_b − conf_b|) plus the worst-bin gap
    * (maximum calibration error) — the two numbers an eval report
    * quotes before trusting a model's probabilities.
    *
    * Determinism: bin confidences ride [[evalCalibrationBins]]' exact
    * ×10⁶ micro-unit grid (one division back per bin), each per-bin
    * term is fixed scalar arithmetic, and the cross-bin Σ is a PIVOTED
    * left-assoc addition of the 10 fixed bins — never an unordered
    * double aggregate.
    *
    * Scale shape: everything corpus-sized already happened inside the
    * bins' one map-side-combined aggregate; this is ≤10-row scalar
    * math. */
  def evalEce(spark: SparkSession, dir: String): DataFrame =
    eceFromBins(evalCalibrationBins(spark, dir))

  /** The ECE epilogue over a (bin, n, sum_score, n_pos) panel — shared
    * verbatim by the batch query and the transformWithState streaming
    * twin ([[graft.streaming.StreamQueries.streamEvalEce]]), so the
    * drain==batch contract holds by construction: the panel sums are
    * exact (float-derived doubles), making the accumulation order
    * irrelevant, and everything here is fixed-order ≤10-row math. */
  private[graft] def eceFromBins(b: DataFrame): DataFrame = {
    val tot = b.agg(sum(col("n")).as("n_total"),
      count(lit(1)).as("n_bins"))
    val nD = col("n").cast("double")
    val gap = abs(col("n_pos").cast("double") / nD
      - col("sum_score") / nD)
    val terms = b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_total"), col("n_bins"),
        ((nD / col("n_total").cast("double")) * gap).as("term"),
        gap.as("gap"))
    val aggCols = (0 to 9).map(i =>
      coalesce(sum(when(col("bin") === i, col("term"))), lit(0.0))
        .as(s"t$i")) :+ max(col("gap")).as("max_gap")
    val g = terms.groupBy(col("n_total"), col("n_bins"))
      .agg(aggCols.head, aggCols.tail: _*)
    val ece = (0 to 9).map(i => col(s"t$i")).reduce(_ + _)
    g.select(col("n_total"), col("n_bins"),
      ece.cast("float").as("ece"),
      col("max_gap").cast("float").as("max_gap"))
  }

  /** Isotonic calibration over the [[evalCalibrationBins]] score bins —
    * the monotone recalibration map (classifier score → calibrated
    * probability) every probability-consuming pipeline fits. Instead of
    * the sequential pool-adjacent-violators recurrence, this computes
    * the CLOSED FORM of the weighted isotonic fit,
    * fitted_i = max_{a≤i} min_{b≥i} (Σ_{a..b} n_pos / Σ_{a..b} n),
    * which is exactly the PAV solution (the minimax theorem for
    * isotonic regression) — every interval average is ONE double
    * division of exact integer sums and the min/max are picks, so the
    * fit is bit-identical cross-engine with no recurrence to replay.
    *
    * Scale shape: the bin table is ≤ 10 rows at ANY corpus size (the
    * corpus-scaled work all happens inside evalCalibrationBins' one
    * map-side-combined aggregate), so the O(bins³) interval expansion
    * is a constant ~10³ rows — closed-form beats sequential PAV here
    * because nothing about it scales with the data. */
  def mlIsotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val b = evalCalibrationBins(spark, dir)
      .select(col("bin"), col("n"), col("n_pos"))
    val intervals = b.select(col("bin").as("a"))
      .crossJoin(b.select(col("bin").as("b2")))
      .filter(col("a") <= col("b2"))
      .join(b, col("bin").between(col("a"), col("b2")))
      .groupBy(col("a"), col("b2"))
      .agg(sum(col("n_pos")).as("sp"), sum(col("n")).as("sn"))
      .select(col("a"), col("b2"),
        (col("sp").cast("double") / col("sn").cast("double")).as("avg"))
    val fitted = intervals
      .join(b.select(col("bin").as("i")),
        col("a") <= col("i") && col("b2") >= col("i"))
      .groupBy(col("i"), col("a")).agg(min(col("avg")).as("minavg"))
      .groupBy(col("i")).agg(max(col("minavg")).as("fitted"))
    b.join(fitted, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("raw_rate"),
        col("fitted"))
      .orderBy(col("bin"))
  }

  /** Murphy decomposition of the Brier score over 10 equal-width
    * probability bins: BS = reliability − resolution + uncertainty.
    * Reliability isolates miscalibration (what
    * [[evalCalibrationBins]] shows per bin, here aggregated), resolution
    * rewards discrimination, uncertainty is the label-entropy floor.
    * The emitted `brier` is the direct mean((p−y)²), so the identity
    * itself is checkable downstream.
    *
    * Scale shape: one scan feeding a 10-key map-side-combined bin
    * aggregate plus a 1-row global aggregate; the decomposition folds
    * the tiny bin table against the broadcast total. */
  def evalBrierDecomp(spark: SparkSession, dir: String): DataFrame = {
    val p = Scoring.embScore
    val s = table(spark, dir, "embeddings")
      .select(p.as("p"),
        when(col("label") % 2 === 1, 1.0).otherwise(0.0).as("y"))
      .withColumn("bin", least(floor(col("p") * 10.0), lit(9.0)).cast("int"))
    val tot = s.agg(count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("sumy"),
      sum((col("p") - col("y")) * (col("p") - col("y"))).as("sumsq"))
    val bins = s.groupBy(col("bin"))
      .agg(count(lit(1)).cast("double").as("nb"),
        sum(col("p")).as("sp"), sum(col("y")).as("sy"))
    val pbar = col("sp") / col("nb"); val ybar = col("sy") / col("nb")
    val ybarAll = col("sumy") / col("n")
    bins.crossJoin(broadcast(tot))
      .select(col("n"), col("sumsq"), col("sumy"),
        (col("nb") * (pbar - ybar) * (pbar - ybar)).as("relterm"),
        (col("nb") * (ybar - ybarAll) * (ybar - ybarAll)).as("resterm"))
      .groupBy(col("n"), col("sumsq"), col("sumy"))
      .agg(sum(col("relterm")).as("rel"), sum(col("resterm")).as("res"))
      .select(col("n").cast("long").as("n"),
        (col("sumsq") / col("n")).cast("float").as("brier"),
        (col("rel") / col("n")).cast("float").as("reliability"),
        (col("res") / col("n")).cast("float").as("resolution"),
        ((col("sumy") / col("n")) * (lit(1.0) - col("sumy") / col("n")))
          .cast("float").as("uncertainty"))
  }
}
