package graft.query
package stats

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The stats family's distribution-drift queries (`drift_`): KS, PSI
  * and chi-square terms between two cohorts of one column. */
object Drift {

  /** Two-sample Kolmogorov–Smirnov drift statistic between the `value`
    * distributions of two event cohorts (even vs odd event_id — the
    * deterministic stand-in for "yesterday's corpus vs today's"): D =
    * max over observed values of |F_A(v) − F_B(v)|. THE standard
    * data-drift monitor a production training pipeline runs per feature
    * per ingest batch. Computed in the EXACT integer form
    * max |cumA·nB − cumB·nA| (one BIGINT per distinct value, ≤2^53 at
    * any realistic scale), divided once at the end — both engines
    * produce the identical double.
    *
    * Scale shape: per-distinct-value cohort counts first (one
    * well-distributed shuffle), then the empirical-CDF prefix sums are a
    * [[TwoLevel]] prefix over ≤`buckets` value-range buckets. The final
    * reduce is a 1-row max. Bucket boundaries derive from driver-fetched
    * min/max (query constants, the [[Similarity]] queryVector
    * convention); the bucketing changes the execution shape only — the
    * result equals the global-window definition, which IS the DuckDB
    * oracle. */
  def driftKsValue(spark: SparkSession, dir: String,
      buckets: Int = 1024): DataFrame =
    overCohorts(spark, dir,
        "n_a LONG, n_b LONG, ks_num LONG, ks_d DOUBLE") { c =>
      val (na, nb) = (c.na, c.nb)
      val perValue = c.sides.groupBy(col("value"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
      TwoLevel.prefix(perValue, c.bin(buckets), Seq(col("value")),
          sums = Seq("ca" -> "cum_a", "cb" -> "cum_b"))
        .select(abs(col("cum_a") * lit(nb) - col("cum_b") * lit(na))
          .as("dnum"))
        .agg(max(col("dnum")).as("ks_num"))
        .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("ks_num"),
          (col("ks_num").cast("double") / lit((na * nb).toDouble))
            .as("ks_d"))
    }

  /** The two `value` cohorts every drift query compares (even vs odd
    * `event_id`, flagged `is_a`) with their driver-fetched range and
    * sizes. */
  private[graft] final case class Cohorts(sides: DataFrame, vmin: Double,
      vmax: Double, na: Long, nb: Long) {
    /** Equal-width bin of `value` in [0, n) over [vmin, vmax]; one bin
      * when the range is a single point. */
    def bin(n: Int): Column = {
      val w = (vmax - vmin) / n
      if (w > 0)
        least(floor((col("value") - lit(vmin)) / lit(w)), lit(n - 1L))
          .cast("long")
      else lit(0L)
    }
  }

  /** Run `f` over the events' [[Cohorts]] — or, on empty input (min/max
    * NULL) or a one-sided split, where the statistic is undefined,
    * return the well-formed empty result of schema `emptyDdl` instead of
    * NPE-ing on the driver fetch or emitting a NaN row (EdgeCaseSpec
    * discipline: boundary states must degrade, not crash). Shared by the
    * batch drift queries and the streaming PSI twin. */
  private[graft] def overCohorts(spark: SparkSession, dir: String,
      emptyDdl: String)(f: Cohorts => DataFrame): DataFrame = {
    val sides = graft.schema.Schemas.events(spark, dir)
      .select(col("value"), (col("event_id") % 2 === 0).as("is_a"))
    val head = sides.agg(
      min(col("value")).as("vmin"), max(col("value")).as("vmax"),
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("nb")).head()
    if (head.isNullAt(0) || head.getLong(2) == 0L || head.getLong(3) == 0L)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(emptyDdl))
    else f(Cohorts(sides, head.getDouble(0), head.getDouble(1),
      head.getLong(2), head.getLong(3)))
  }


  /** Per-bin Population Stability Index terms between the same two event
    * cohorts as [[driftKsValue]] — the OTHER standard drift monitor
    * (binned, direction-sensitive, the model-monitoring convention:
    * PSI > 0.2 ⇒ investigate). Emitted PER BIN (term = (pA−pB)·ln(pA/pB),
    * with the conventional 1e-4 floor for empty bins) rather than as a
    * pre-summed scalar: a 10-term engine-side sum has engine-dependent
    * addition order in the last ulp, while per-bin terms are fixed-order
    * arithmetic on exact integer counts — bit-identical in any engine —
    * and the per-bin view is what a monitoring dashboard wants anyway
    * (WHICH bins drifted, not just that some did).
    *
    * Scale shape: one map-side-combined groupBy on (bin) — a ≤`bins`-row
    * aggregate regardless of corpus size; bin edges from driver-fetched
    * min/max (query constants). */
  def driftPsiValue(spark: SparkSession, dir: String,
      bins: Int = 10): DataFrame =
    overCohorts(spark, dir,
        "bin LONG, ca LONG, cb LONG, psi_term FLOAT") { c =>
      psiTermsFromPanel(
        c.sides.groupBy(c.bin(bins).as("bin"))
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
            sum(when(col("is_a"), 0L).otherwise(1L)).as("cb")),
        lit(c.na.toDouble), lit(c.nb.toDouble))
    }


  /** PSI-term epilogue over a (bin, ca, cb) panel with cohort totals —
    * shared verbatim by the batch query and the transformWithState
    * streaming twin ([[graft.streaming.StreamQueries.streamDriftPsi]]):
    * fixed-order arithmetic on exact integer counts, so drain==batch
    * holds bit-identically whatever na/nb's provenance (driver literals
    * batch-side, panel sums stream-side — same doubles either way). */
  private[graft] def psiTermsFromPanel(panel: DataFrame,
      na: Column, nb: Column): DataFrame = {
    val floorP = 1e-4
    val pa = greatest(col("ca").cast("double") / na, lit(floorP))
    val pb = greatest(col("cb").cast("double") / nb, lit(floorP))
    panel.select(col("bin"), col("ca"), col("cb"),
      ((pa - pb) * log(pa / pb)).cast("float").as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Per-category chi-square drift terms between the even/odd event-id
    * cohorts over the categorical `event_type` distribution — the
    * CATEGORICAL member of the drift-monitor family (`drift_ks_value` is
    * the continuous exact statistic, `drift_psi_value` the binned
    * direction-sensitive one). Emitted per category like the PSI terms,
    * so the monitor can localize WHICH category moved; the scalar
    * statistic is the sum of the terms.
    *
    * Scale shape: one scan, one map-side-combined aggregation on the
    * (tiny) category key, a broadcast 1-row margin join — no shuffle
    * pressure at any corpus size. Expected counts are computed with the
    * identical double expression tree as the DuckDB oracle. */
  def driftChi2Terms(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type").as("cat"),
        when(col("event_id") % 2 === 0, 1).otherwise(0).as("isa"))
    val tot = s.agg(sum(col("isa")).cast("long").as("na"),
      sum(lit(1) - col("isa")).cast("long").as("nb"))
    val g = s.groupBy(col("cat"))
      .agg(sum(col("isa")).cast("long").as("ca"),
        sum(lit(1) - col("isa")).cast("long").as("cb"))
    def d(c: Column): Column = c.cast("double")
    val ea = d(col("ca") + col("cb")) * d(col("na")) / d(col("na") + col("nb"))
    val eb = d(col("ca") + col("cb")) * d(col("nb")) / d(col("na") + col("nb"))
    g.crossJoin(broadcast(tot))
      .select(col("cat"), col("ca"), col("cb"),
        ((d(col("ca")) - ea) * (d(col("ca")) - ea) / ea
          + (d(col("cb")) - eb) * (d(col("cb")) - eb) / eb)
          .cast("float").as("chi2_term"))
      .orderBy(col("cat"))
  }

  /** Population Stability Index of `value` between the first and second
    * halves of the event timeline (split at the midpoint of the
    * observed epoch-micros range — no calendar assumption), over ten
    * fixed-width bins with add-one smoothing: term_b =
    * (p_b − q_b) · ln(p_b / q_b). The standard "did the feature
    * distribution move between training and serving" monitor; Σ terms
    * < 0.1 is the conventional stable band.
    *
    * Scale shape: the timeline extent is ONE broadcast 1-row aggregate;
    * binning is per-row arithmetic in codegen; the rest is a 10-key
    * aggregate. Smoothed ratios are exact integer-rational doubles —
    * only the ln() result needs the float absorb. */
  def driftPsi(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(unix_micros(col("ts")).as("tus"), col("value"))
    val extent = e.agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
    val binned = e.crossJoin(broadcast(extent))
      .select(
        when(col("tus") * 2 < col("lo") + col("hi"), lit("early"))
          .otherwise(lit("late")).as("half"),
        least(greatest(floor(col("value") / 10).cast("int"), lit(0)),
          lit(bins - 1)).as("bin"))
    val counts = binned.groupBy(col("bin")).pivot("half",
        Seq("early", "late")).count().na.fill(0L)
    val tot = counts.agg(sum(col("early")).as("te"),
      sum(col("late")).as("tl"))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"),
        col("early").as("n_early"), col("late").as("n_late"),
        ((col("early") + 1).cast("double") /
          (col("te") + bins).cast("double")).as("p"),
        ((col("late") + 1).cast("double") /
          (col("tl") + bins).cast("double")).as("q"))
      .withColumn("psi_term",
        ((col("p") - col("q")) * log(col("p") / col("q")))
          .cast("float"))
      .select(col("bin"), col("n_early"), col("n_late"), col("psi_term"))
      .orderBy(col("bin"))
  }

  // ---- data quality ------------------------------------------------------
}
