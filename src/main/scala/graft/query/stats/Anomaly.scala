package graft.query
package stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stats family's anomaly queries (`anomaly_`): z-score, MAD, SPC
  * runs, rolling z and debounced alerts. */
object Anomaly {

  /** Per-key z-score outlier detection: events whose value is more than
    * `threshold` sample standard deviations from their event_type's mean
    * — the cheap univariate anomaly pass of a data-quality pipeline.
    *
    * Scale shape: the per-type statistics are a 5-row aggregate
    * (map-side combined) broadcast back to the fact scan — the scan is
    * never shuffled. The z-score is computed in double and cast to
    * float32 BEFORE the threshold compare, so both engines filter on the
    * identical REAL value (a raw-double compare at the boundary would be
    * last-ulp engine-dependent). */
  def anomalyZscore(spark: SparkSession, dir: String,
      threshold: Double = 3.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mean"),
        stddev_samp(col("value")).as("sd"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", ((col("value") - col("mean")) / col("sd"))
        .cast("float"))
      .filter(abs(col("z")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Robust per-type outliers via MAD (median absolute deviation):
    * events whose |value − median| exceeds `k` normalized MADs of their
    * event_type. The robust twin of [[anomalyZscore]] —
    * median/MAD shrug off the very outliers that inflate a stddev.
    *
    * Scale shape: two per-type aggregations (each a 5-row result,
    * map-side combined) and two broadcasts back — the fact scan is
    * never shuffled. The exact `percentile` is fine at any scale
    * per-GROUP because types are few; for high-cardinality keys the
    * upgrade path is `percentile_approx` (a mergeable KLL-style
    * sketch). The robust z is computed in double and cast to float32
    * before the threshold compare, so both engines filter on the
    * identical REAL value. */
  def anomalyMad(spark: SparkSession, dir: String,
      k: Double = 3.5): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .withColumn("robust_z",
        ((col("value") - col("med")) / (lit(1.4826) * col("mad")))
          .cast("float"))
      .filter(abs(col("robust_z")) > k)
      .select(col("event_id"), col("event_type"), col("value"),
        col("robust_z"))
      .orderBy(col("event_id"))
  }

  /** SPC run-length rules per user (Western-Electric style): longest run
    * of consecutive observations strictly above / below the user's
    * median, and the count of alert runs (length ≥ 8 on one side) — the
    * control-chart complement to CUSUM (a long one-sided run is drift
    * even when every point is individually unremarkable).
    *
    * Scale shape: exact per-user median broadcasts back to the stream
    * (the `anomaly_mad` pattern); run segmentation is the gaps-islands
    * lag+prefix-sum idiom inside the same user_id partitioning; run
    * lengths are integers — hash-exact. */
  def anomalySpcRuns(spark: SparkSession, dir: String,
      maxUser: Long = 50L, alertLen: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val med = e.groupBy(col("user_id"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val ordered = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = e.join(broadcast(med), Seq("user_id"))
      .withColumn("sgn", when(col("value") > col("med"), 1)
        .when(col("value") < col("med"), -1).otherwise(0))
      .withColumn("brk", when(col("sgn") ===
        lag(col("sgn"), 1).over(ordered), 0).otherwise(1))
      .withColumn("g", sum(col("brk")).over(ordered.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("g"), col("sgn"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("user_id"))
      .agg(max(when(col("sgn") === 1, col("run_len")).otherwise(0))
        .cast("long").as("longest_above"),
        max(when(col("sgn") === -1, col("run_len")).otherwise(0))
          .cast("long").as("longest_below"),
        count(when(col("sgn") =!= 0 && col("run_len") >= alertLen, 1))
          .cast("long").as("n_alert_runs"))
      .orderBy(col("user_id"))
  }

  /** Rolling z-score anomaly flags: per user, each value is scored
    * against the mean/stddev of its previous 20 events (frame excludes
    * the current row — a self-inclusive frame masks the very anomaly it
    * scores), and |z| > 3 rows are emitted. Variance comes from the
    * (Σx, Σx², n) sufficient statistics in ONE window pass — the
    * mergeable form, not a two-pass centered computation.
    *
    * Scale shape: one user-partitioned window (the sessionizer
    * shuffle), everything else per-row arithmetic in codegen. */
  def anomalyRollingZ(spark: SparkSession, dir: String,
      lookback: Int = 20, minN: Int = 10): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-lookback, -1)
    val scored = e.select(col("event_id"), col("user_id"), col("value"),
      count(col("value")).over(frame).as("n"),
      sum(col("value")).over(frame).as("s1"),
      sum(col("value") * col("value")).over(frame).as("s2"))
    scored.filter(col("n") >= minN)
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      .filter(col("variance") > 0)
      .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("user_id"),
        col("value"), col("z").cast("float").as("z"))
      .orderBy(col("event_id"))
  }

  // ---- sketch quantiles --------------------------------------------------

  /** Alert debouncing: per user, an error event fires an alert only if
    * ≥30 minutes have passed since the last FIRED alert — the greedy
    * anchor chain every paging/alerting pipeline needs (readmission
    * screens and promo-cooldown logic are the same recurrence). This is
    * NOT window-expressible: each decision depends on the previous
    * EMITTED row, not the previous row, so it is a per-key sequential
    * recurrence — exactly what `flatMapSortedGroups` exists for (the
    * engine sorts each group by the given columns during the exchange;
    * the group iterator streams in that order without materializing the
    * group).
    *
    * Scale shape: one hash exchange on user_id + per-partition sort —
    * identical cost to any per-user window — then O(1) state (the
    * anchor) per group. The oracle replays the recurrence as a
    * recursive CTE; both sides use integer microseconds, so agreement
    * is exact. */
  def anomalyAlertDebounce(spark: SparkSession, dir: String,
      gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    val errs = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
    errs.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (u, it) =>
        var anchor = Long.MinValue
        it.flatMap { case (_, id, us) =>
          if (anchor == Long.MinValue || us - anchor >= gapUs) {
            anchor = us; Iterator.single((u, id, us))
          } else Iterator.empty
        }
      }
      .toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"))
      .orderBy(col("user_id"), col("event_id"))
  }
}
