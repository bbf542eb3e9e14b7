package graft.query
package stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The stats family's time-series queries (`ts_`): resampling,
  * seasonal baselines, changepoints, forecasting, trend tests,
  * autocorrelation, spectral and symbolic summaries. */
object TimeSeries {

  /** Time-series resampling with linear interpolation: per user, the
    * value at every whole hour between their first and last event,
    * interpolated between the surrounding events — the sensor/metric
    * regularization step before windowed models.
    *
    * Scale shape: grid points are generated per user (sequence over
    * integer micros — bounded by the user's time span), unioned with the
    * events, and a single per-user ordered window pass carries the
    * previous/next event boundaries to each grid row (last/first with
    * ignoreNulls over a frame — no self-join, no per-gap subquery).
    * Timestamps subtract as exact integer micros; the interpolation
    * fraction is one double division, identical both engines. */
  def tsResampleInterp(spark: SparkSession, dir: String,
      maxUser: Long = 5L, stepUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"),
        col("event_id"))
    val grids = ev.groupBy(col("user_id"))
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .select(col("user_id"),
        expr(s"((lo + ${stepUs - 1}) DIV $stepUs) * $stepUs").as("gs"),
        expr(s"(hi DIV $stepUs) * $stepUs").as("ge"))
      // a span shorter than one step has no grid point: Spark's sequence()
      // throws on start > stop (DuckDB's generate_series returns empty)
      .filter(col("gs") <= col("ge"))
      .select(col("user_id"),
        explode(sequence(col("gs"), col("ge"), lit(stepUs))).as("t"))
      .withColumn("is_grid", lit(1))
    val unioned = ev.withColumn("is_grid", lit(0))
      .unionByName(grids.withColumn("value", lit(null).cast("double"))
        .withColumn("event_id", lit(null).cast("long")),
        allowMissingColumns = false)
    // events sort before grid points at the same instant (is_grid asc),
    // so an exactly-aligned sample becomes its own boundary (frac = 0);
    // event_id breaks ties between two EVENTS at the same instant (the
    // carried pv/nv would otherwise be order-nondeterministic) — grid
    // rows are unique per (user, t, is_grid), so their NULL id is never
    // compared
    val o = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("is_grid"), col("event_id"))
    val wPrev = o.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = o.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val evT = when(col("is_grid") === 0, col("t"))
    val evV = when(col("is_grid") === 0, col("value"))
    unioned
      .withColumn("pt", last(evT, ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(evV, ignoreNulls = true).over(wPrev))
      .withColumn("nt", first(evT, ignoreNulls = true).over(wNext))
      .withColumn("nv", first(evV, ignoreNulls = true).over(wNext))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("t").as("grid_us"),
        when(col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * ((col("t") - col("pt")).cast("double") / (col("nt") - col("pt"))))
          .cast("float").as("value_interp"))
      .orderBy(col("user_id"), col("grid_us"))
  }

  private val SixHoursUs = 21600000000L

  private val SessionGapUs = 1800000000L // 30 min

  /** Interval-overlap join, bucketed: per-user activity sessions
    * (30-minute-gap rule) joined to the 6-hour wall-clock windows they
    * overlap, rolled up to per-window load (sessions + distinct users)
    * — the capacity-planning query.
    *
    * Scale shape: a raw interval-overlap join is a theta-join (no
    * equi-key → broadcast-nested-loop at best). The scalable form maps
    * BOTH sides to the fixed-width time buckets they cover — each
    * session explodes into (span ÷ 6 h) bucket keys, each window into
    * exactly one — and equi-joins on the bucket with the overlap
    * predicate as a residual filter. Shuffle keys are bounded-fanout
    * integers; no row ever meets a row it couldn't overlap. The
    * sessionization itself is one user_id window pass (lag + running
    * sum), ordered by (t, event_id) for determinism. */
  def tsIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"))
    val o = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val sessions = ev
      .withColumn("pt", lag(col("t"), 1).over(o))
      .withColumn("brk",
        when(col("pt").isNull || col("t") - col("pt") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        o.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t")).as("s"), max(col("t")).as("e"))
    // the windows side: 6-hour grid spanning the data (any external
    // interval table works the same — one bucket key per window row)
    val windows = ev.agg(
        expr(s"min(t) DIV $SixHoursUs").as("lo"),
        expr(s"max(t) DIV $SixHoursUs").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("wb"))
      .select(col("wb"), (col("wb") * lit(SixHoursUs)).as("w_start"),
        ((col("wb") + 1) * lit(SixHoursUs)).as("w_end"))
    val sessionBuckets = sessions.select(col("user_id"), col("s"), col("e"),
      explode(sequence(expr(s"s DIV $SixHoursUs"),
        expr(s"e DIV $SixHoursUs"))).as("wb"))
    sessionBuckets.join(windows, Seq("wb"))
      // residual overlap check (closed session vs half-open window) —
      // trivially true for the grid, load-bearing for arbitrary windows
      .filter(col("s") < col("w_end") && col("e") >= col("w_start"))
      .groupBy(col("w_start"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("w_start"))
  }

  /** Seasonal-baseline anomaly detection: each event scored against its
    * HOUR-OF-WEEK baseline (mean/stddev per the 168 weekly hours) —
    * the first seasonal decomposition a metrics pipeline applies, where
    * a Monday-9am spike is normal and the same value at Sunday-3am is
    * an alert. The seasonal key is pure integer epoch arithmetic
    * ((µs ÷ 3600s) mod 168) — no calendar library, no timezone, no
    * engine-specific day-of-week origin (Spark's dayofweek is 1=Sunday,
    * DuckDB's dow is 0=Sunday — epoch math sidesteps the trap).
    *
    * Scale shape: the 168-row baseline table is one map-side-combined
    * aggregation broadcast back to the scan — the fact table is never
    * shuffled. z is computed in double and cast to float32 before the
    * threshold compare (identical REAL filtered both engines). */
  def tsSeasonalBaseline(spark: SparkSession, dir: String,
      threshold: Double = 3.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("value"),
        expr("(unix_micros(ts) DIV 3600000000) % 168").as("how"))
    val baseline = ev.groupBy(col("how"))
      .agg(avg(col("value")).as("mean"), stddev_samp(col("value")).as("sd"))
    ev.join(broadcast(baseline), Seq("how"))
      .withColumn("z", ((col("value") - col("mean")) / col("sd"))
        .cast("float"))
      .filter(abs(col("z")) > threshold)
      .select(col("event_id"), col("how"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** CUSUM changepoint scan per user over the event stream: the running
    * cumulative sum of deviations from the series mean (Page's CUSUM),
    * its range (max − min, the changepoint magnitude), and the event at
    * the peak |deviation| (the changepoint location candidate). The
    * SEQUENTIAL-pattern member of the anomaly family — `anomaly_zscore`/
    * `anomaly_mad` flag point outliers; CUSUM flags level SHIFTS that no
    * single point reveals.
    *
    * Determinism: the series mean comes from a FULL-FRAME ordered window
    * sum (both engines fold the frame in the same (ts, event_id) order →
    * identical doubles), the running sum is an ordered prefix fold, and
    * the peak is a row_number tie-broken by (ts, event_id). Scale shape:
    * one shuffle on user_id; every window shares that partitioning; the
    * per-user output is 1 row. */
  def tsCusumChangepoint(spark: SparkSession, dir: String,
      maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val byUser = Window.partitionBy(col("user_id"))
    val ordered = byUser.orderBy(col("ts"), col("event_id"))
    val s = e
      .withColumn("tot", sum(col("value")).over(ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("cusum", sum(col("value") - col("tot") / col("n"))
        .over(ordered.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("rnk", row_number().over(byUser.orderBy(
        abs(col("cusum")).desc, col("ts"), col("event_id"))))
    s.groupBy(col("user_id"))
      .agg(max(col("n")).cast("long").as("n_events"),
        (max(col("cusum")) - min(col("cusum"))).cast("float")
          .as("cusum_range"),
        min(when(col("rnk") === 1, col("event_id"))).cast("long")
          .as("peak_event"))
      .orderBy(col("user_id"))
  }

  /** Holt double-exponential smoothing per user over the ordered event
    * value series: final level, trend, and the 3-step-ahead forecast.
    * The recursion l_t = α·x_t + (1−α)(l+b), b_t = γ(l_t−l) + (1−γ)b is
    * inherently order-dependent, so it runs as ONE sequential in-memory
    * fold per key (`aggregate` over the sorted value array) — the exact
    * fixed-order evaluation both engines replay identically, the same
    * discipline as `window_ewma`. Initialization: level = first value,
    * trend = 0.
    *
    * Scale shape: one shuffle to group by key; each key's series folds
    * inside its row (array ops, no window state). Keys are users —
    * bounded series; an unbounded series would stream through
    * mapGroupsWithState instead (the [[graft.streaming]] sessionizer
    * shape). Nulls are excluded before folding on both engines. */
  def tsHoltForecast(spark: SparkSession, dir: String): DataFrame = {
    val a = 0.5; val oma = 0.5; val g = 0.3; val omg = 0.7
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("value")).as("s"))
    val per = e.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("user_id"),
        transform(col("arr"), s => s.getField("value")).as("vals"))
    val st = aggregate(
      slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
      struct(element_at(col("vals"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val nl = lit(a) * x + lit(oma) * (acc.getField("l") + acc.getField("b"))
        struct(nl.as("l"),
          (lit(g) * (nl - acc.getField("l"))
            + lit(omg) * acc.getField("b")).as("b"))
      })
    per.filter(size(col("vals")) >= 1)
      .select(col("user_id"), size(col("vals")).cast("long").as("n_events"),
        st.getField("l").cast("float").as("level"),
        st.getField("b").cast("float").as("trend"),
        (st.getField("l") + lit(3.0) * st.getField("b"))
          .cast("float").as("forecast_3"))
      .orderBy(col("user_id"))
  }

  /** Rolling-origin backtest of the Holt forecaster: at every step t the
    * model fitted on values 1..t forecasts value t+1, and the absolute
    * errors accumulate — the honest out-of-sample evaluation a
    * forecasting pipeline reports (in-sample fit always flatters).
    * Emits per-user n_forecasts, MAE, and the naive-baseline MAE
    * (forecast = last value) whose ratio is the skill score.
    *
    * The error accumulators ride INSIDE the same sequential fold as the
    * Holt state ((l, b, errSum, naiveSum) struct), so the whole
    * backtest is one pass — the oracle replays it as one recursive CTE
    * carrying the same four columns. */
  def tsHoltBacktest(spark: SparkSession, dir: String): DataFrame = {
    val a = 0.5; val oma = 0.5; val g = 0.3; val omg = 0.7
    val per = graft.schema.Schemas.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("value")).as("s"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("user_id"),
        transform(col("arr"), s => s.getField("value")).as("vals"))
      .filter(size(col("vals")) >= 2)
    val st = aggregate(
      slice(col("vals"), lit(2), size(col("vals")) - 1),
      struct(element_at(col("vals"), 1).as("l"), lit(0.0).as("b"),
        element_at(col("vals"), 1).as("prev"),
        lit(0.0).as("errsum"), lit(0.0).as("naivesum")),
      (acc, x) => {
        val fc = acc.getField("l") + acc.getField("b")
        val nl = lit(a) * x + lit(oma) * fc
        struct(nl.as("l"),
          (lit(g) * (nl - acc.getField("l"))
            + lit(omg) * acc.getField("b")).as("b"),
          x.as("prev"),
          (acc.getField("errsum") + abs(x - fc)).as("errsum"),
          (acc.getField("naivesum") + abs(x - acc.getField("prev")))
            .as("naivesum"))
      })
    per.select(col("user_id"),
        (size(col("vals")) - 1).cast("long").as("n_forecasts"),
        (st.getField("errsum")
          / (size(col("vals")) - 1).cast("double"))
          .cast("float").as("mae_holt"),
        (st.getField("naivesum")
          / (size(col("vals")) - 1).cast("double"))
          .cast("float").as("mae_naive"))
      .orderBy(col("user_id"))
  }

  // ---- retrieval quality -------------------------------------------------

  /** Lag-1 autocorrelation of each user's value series (Pearson over the
    * (x_t, x_{t−1}) pairs) — the "is this metric trending or noise"
    * one-number diagnostic, and the stationarity check run before any
    * forecasting model. Closed form from one lag window + one
    * map-side-combined moment aggregate per user; float cast absorbs
    * partial-sum reassociation.
    *
    * Scale shape: one shuffle on user_id for the lag ordering, one
    * aggregation on the same key — the second stage reuses the first's
    * partitioning. */
  def tsAutocorrLag1(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("value").as("y"),
        lag(col("value"), 1).over(w).as("x"))
      .filter(col("x").isNotNull)
    val a = lagged.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    a.select(col("user_id"), col("n").cast("long").as("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .cast("float").as("autocorr_lag1"))
      .orderBy(col("user_id"))
  }

  // ---- weighted projection -----------------------------------------------

  /** Per-user non-parametric trend panel: the Mann–Kendall S statistic
    * with the tie-corrected variance, the continuity-corrected normal
    * z score, and the Theil–Sen slope (exact median of pairwise
    * slopes) — the robust monotone-trend battery (is this user's value
    * drifting?) that ordinary least squares gets wrong under outliers.
    *
    * Exactness: S, n, and the ×18-scaled variance are integers
    * (division by 18 deferred into the z denominator); z is
    * division → IEEE sqrt → division, deterministic; each Sen slope is
    * ONE double division, the median picks by rank (even counts
    * average TWO doubles — addition of two doubles is commutative, so
    * the aggregate order cannot change the bits).
    *
    * Scale shape (the r12-advised O(k log k) form): ONE exchange on
    * user_id, engine-side sort by (ts, event_id), then a per-group
    * merge-sort inversion count — S = C(k,2) − T − 2·inv where inv =
    * #time-ordered pairs with a strict value decrease and T = Σ t(t−1)/2
    * tie pairs — so S costs O(k log k) per user, never O(k²), and a
    * 10⁵-event hot key is ~1.7 M comparisons, not 5×10⁹ pairs
    * (pinned by the hot-key spec). Sen keeps the EXACT pairwise median
    * for k ≤ `exactSenMax` (the entire driver corpus — the regime the
    * DuckDB oracle replays hash-exact) and above it switches to a
    * deterministic sampled-pair median (`senSamples` splitmix64-drawn
    * pairs seeded by user_id — reproducible, documented contract: the
    * sampled median is a √senSamples-consistent estimator, the
    * standard Theil–Sen scale form). The in-group recurrence rides
    * `flatMapSortedGroups` like the Kadane/debounce/FFD family; the
    * z/variance arithmetic stays in Catalyst on exact integers. */
  def tsMannKendall(spark: SparkSession, dir: String,
      exactSenMax: Int = 4096, senSamples: Int = 20000): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * lit(1e6)).cast("long").as("v6"))
      .as[(Long, Long, Long, Long)]
    val panel = ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        val rows = it.toArray // (user, us, id, v6) in pair order
        val k = rows.length
        val vs = Array.tabulate(k)(i => rows(i)._4)
        val inv = RankMoments.countInversions(vs.clone())
        var tiePairs = 0L; var tie18 = 0L
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < k) {
          counts(vs(i)) = counts.getOrElse(vs(i), 0L) + 1L; i += 1
        }
        counts.foreach { case (_, t) =>
          tiePairs += t * (t - 1) / 2
          tie18 += t * (t - 1) * (2 * t + 5)
        }
        val nPairs = k.toLong * (k - 1) / 2
        val s = nPairs - tiePairs - 2L * inv
        // Sen slopes over time-distinct pairs: each slope is ONE double
        // division — identical numerics to the oracle's pair join
        val slopes = scala.collection.mutable.ArrayBuffer.empty[Double]
        if (k <= exactSenMax) {
          var a = 0
          while (a < k) {
            var b = a + 1
            while (b < k) {
              if (rows(a)._2 != rows(b)._2)
                slopes += (rows(b)._4 - rows(a)._4).toDouble /
                  (rows(b)._2 - rows(a)._2).toDouble
              b += 1
            }
            a += 1
          }
        } else {
          // deterministic sampled-pair regime seeded by user_id
          sampledPairs(user, k, senSamples) { (lo, hi) =>
            if (rows(lo)._2 != rows(hi)._2)
              slopes += (rows(hi)._4 - rows(lo)._4).toDouble /
                (rows(hi)._2 - rows(lo)._2).toDouble
          }
        }
        if (slopes.isEmpty) Iterator.empty
        else {
          val arr = slopes.toArray
          java.util.Arrays.sort(arr)
          val m = arr.length
          val sen =
            if (m % 2 == 1) arr(m / 2)
            else (arr(m / 2 - 1) + arr(m / 2)) / 2.0
          Iterator.single((user, k.toLong, s, tie18, sen))
        }
      }
      .toDF("user_id", "n", "s_stat", "tie18", "sen_slope")
    panel
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie18"))
      .select(col("user_id"), col("n"), col("s_stat"), col("var18"),
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)))
          .otherwise(lit(0.0)).as("z"),
        col("sen_slope"))
      .orderBy(col("user_id"))
  }
  /** The Sen-slope estimators' sampled-pair regime: `draws` pair draws
    * over `k` points from a splitmix64 stream seeded by `seed` — same
    * key, same corpus ⇒ same sample, no RNG state shared across keys.
    * `f(lo, hi)` sees every draw of two distinct indexes, lo < hi. */
  private def sampledPairs(seed: Long, k: Int, draws: Int)(
      f: (Int, Int) => Unit): Unit = {
    var state = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    var drawn = 0
    while (drawn < draws) {
      val a = ((next() >>> 1) % k).toInt
      val b = ((next() >>> 1) % k).toInt
      if (a != b) f(math.min(a, b), math.max(a, b))
      drawn += 1
    }
  }


  /** Ljung–Box portmanteau terms: per (user, lag ≤ 5) the lag-k sample
    * autocorrelation (the Pearson-over-pairs form [[tsAutocorrLag1]]
    * established) and its Q-statistic term n(n+2)·ρ²/(n−k) — the
    * is-this-series-white-noise battery a forecasting pipeline runs
    * before trusting residuals. The consumer sums q_term over the lags
    * it tests; per-lag rows keep every emitted double a fixed-order
    * computation (a grouped sum of float terms would be
    * engine-order-dependent).
    *
    * Scale shape: ONE per-user window (sort by ts, event_id) carries
    * all five lag columns, the stack/unpivot is map-only, and the
    * moment aggregate is map-side-combined on (user, lag). The REAL
    * cast on ρ absorbs the last-ulp group-sum order difference, the
    * house convention for Pearson-form statistics. */
  /** Per-(user, lag ≤ maxLag) Pearson-over-pairs autocorrelation —
    * the shared front end of [[tsLjungBoxTerms]] and
    * [[tsPacfDurbinLevinson]]: ONE per-user window carries all lag
    * columns, the stack is map-only, the moment aggregate combines
    * map-side, and ρ is REAL-cast (house convention). */
  private def lagRho(spark: SparkSession, dir: String,
      maxLag: Int, maxUser: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagCols = (1 to maxLag).map(k =>
      lag(col("value"), k).over(w).as(s"x$k"))
    val lagged = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id") +: col("value").as("y") +: lagCols: _*)
    val stacked = lagged.select(col("user_id"), col("y"),
      expr(s"stack($maxLag, " + (1 to maxLag)
        .map(k => s"$k, x$k").mkString(", ") + ") AS (lag, x)"))
      .filter(col("x").isNotNull)
    val a = stacked.groupBy(col("user_id"), col("lag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val rho = ((col("n") * col("sxy") - col("sx") * col("sy"))
      / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
        * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
      .cast("float")
    a.select(col("user_id"), col("lag"),
      col("n").cast("long").as("n_pairs"), rho.as("rho"))
  }

  def tsLjungBoxTerms(spark: SparkSession, dir: String,
      maxLag: Int = 5, maxUser: Long = 100L): DataFrame = {
    lagRho(spark, dir, maxLag, maxUser)
      .withColumn("nser", (col("n_pairs") + col("lag")).cast("double"))
      .select(col("user_id"), col("lag"), col("n_pairs"), col("rho"),
        ((col("nser") * (col("nser") + lit(2.0)))
          * (col("rho").cast("double") * col("rho").cast("double"))
          / (col("nser") - col("lag").cast("double")))
          .cast("float").as("q_term"))
      .orderBy(col("user_id"), col("lag"))
  }

  /** Hourly OHLC (open/high/low/close) candles over the event stream —
    * the time-bucketed summary every telemetry/market pipeline emits.
    * Open/close are argmin/argmax by a FIXED-WIDTH lexicographic
    * (epoch-micros, event_id) key — the dedup_semantic string-key trick
    * that makes ordered-first/last a plain min_by/max_by aggregate
    * (map-side-combined, partitioning-invariant) instead of a sorted
    * window; high/low/count are plain aggregates. One shuffle on the
    * hour bucket; no window function anywhere.
    *
    * Exactness: open/high/low/close are PICKED doubles (exact); the
    * mean is a group sum → REAL cast (house convention). */
  def tsOhlcHourly(spark: SparkSession, dir: String): DataFrame = {
    val skey = concat(
      format_string("%020d", unix_micros(col("ts"))),
      format_string("%010d", col("event_id")))
    graft.schema.Schemas.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_ts"),
        col("value"), skey.as("skey"))
      .groupBy(col("hour_ts"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("skey")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("skey")).as("close"),
        (sum(col("value")) / count(lit(1))).cast("float").as("mean_value"))
      .orderBy(col("hour_ts"))
  }

  /** 1-D Kalman filter (local-level model) per user: the optimal
    * recursive estimator for a random-walk signal observed under noise
    * — predict P ← P + Q, gain K = P/(P+R), update x ← x + K(z − x),
    * P ← (1−K)P — THE online smoother telemetry/sensor pipelines run
    * (EWMA with a principled, observation-noise-aware gain that
    * converges to the steady-state Riccati fixed point). Initial state
    * is the first observation with P₀ = 1, K₁ ≡ 1.
    *
    * Exactness: the recurrence is a fixed sequence of double ops per
    * event — both engines (flatMapSortedGroups here, a recursive CTE
    * in the oracle) evaluate the identical parenthesization in the
    * identical (ts, event_id) order, so every filtered value is
    * bit-identical; no libm beyond division.
    *
    * Scale shape: ONE exchange on user_id, engine-side sort, O(1)
    * state per key — the Kadane/debounce/FFD sorted-group recurrence
    * family; output is bounded by the user filter. */
  def tsKalman1d(spark: SparkSession, dir: String, q: Double = 1.0,
      r: Double = 4.0, maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        var rn = 0L
        var x = 0.0
        var p = 0.0
        it.map { case (_, _, id, z) =>
          rn += 1
          if (rn == 1L) { x = z; p = 1.0; (user, id, rn, z, 1.0, x) }
          else {
            val k = (p + q) / (p + q + r)
            x = x + k * (z - x)
            p = (1.0 - k) * (p + q)
            (user, id, rn, z, k, x)
          }
        }
      }
      .toDF("user_id", "event_id", "rn", "z", "k_gain", "x_filt")
      .orderBy(col("user_id"), col("rn"))
  }

  /** Partial autocorrelation at lags 1..5 via the Durbin–Levinson
    * recursion — the AR-order diagnostic read beside the ACF (PACF
    * cutting off after lag p is the textbook AR(p) signature). The
    * recursion over the FIVE lag-ρ values is unrolled into explicit
    * fixed-parenthesization column layers (φ_{k,k} =
    * (ρ_k − Σ φ_{k−1,j}ρ_{k−j}) / (1 − Σ φ_{k−1,j}ρ_j), then
    * φ_{k,j} = φ_{k−1,j} − φ_{k,k}φ_{k−1,k−j}) — both engines evaluate
    * the identical expression tree over the identical REAL-cast ρ
    * inputs, so every PACF value is bit-identical with no recurrence
    * to replay. PACF is REAL-cast on output.
    *
    * Scale shape: everything downstream of [[lagRho]]'s one exchange
    * is a ≤ 5-column map-only pivot + scalar arithmetic per user. */
  def tsPacfDurbinLevinson(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    val rCols = (1 to 5).map(k =>
      max(when(col("lag") === k, col("rho").cast("double"))).as(s"r$k"))
    val piv = lagRho(spark, dir, maxLag = 5, maxUser)
      .groupBy(col("user_id"))
      .agg(rCols.head, rCols.tail: _*)
    val l1 = piv.withColumn("p11", col("r1"))
    val l2 = l1
      .withColumn("p22",
        (col("r2") - col("p11") * col("r1")) /
          (lit(1.0) - col("p11") * col("r1")))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
    val l3 = l2
      .withColumn("p33",
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) /
          (lit(1.0) - (col("p21") * col("r1") + col("p22") * col("r2"))))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
    val l4 = l3
      .withColumn("p44",
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2")
          + col("p33") * col("r1"))) /
          (lit(1.0) - (col("p31") * col("r1") + col("p32") * col("r2")
            + col("p33") * col("r3"))))
      .withColumn("p41", col("p31") - col("p44") * col("p33"))
      .withColumn("p42", col("p32") - col("p44") * col("p32"))
      .withColumn("p43", col("p33") - col("p44") * col("p31"))
    val l5 = l4
      .withColumn("p55",
        (col("r5") - (col("p41") * col("r4") + col("p42") * col("r3")
          + col("p43") * col("r2") + col("p44") * col("r1"))) /
          (lit(1.0) - (col("p41") * col("r1") + col("p42") * col("r2")
            + col("p43") * col("r3") + col("p44") * col("r4"))))
    l5.select(col("user_id"),
      expr("stack(5, 1, p11, 2, p22, 3, p33, 4, p44, 5, p55)" +
        " AS (lag, pacf0)"))
      .select(col("user_id"), col("lag"),
        col("pacf0").cast("float").as("pacf"))
      .orderBy(col("user_id"), col("lag"))
  }

  /** Per-user union-of-intervals coverage: each event opens a 300-second
    * activity interval; overlapping intervals merge (gaps-and-islands by
    * running-max end), and the result is the user's island count and
    * total covered seconds — the "active time" metric that naive
    * count×300 double-counts. All arithmetic is integer epoch-micros,
    * so the merge is exact.
    *
    * Scale shape: one window per user (the same user-hash shuffle every
    * sessionizer pays), then one map-side-combined aggregate. State is
    * one running max per row — nothing resident. */
  def tsIntervalUnion(spark: SparkSession, dir: String,
      holdSec: Int = 300): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + lit(holdSec * 1000000L)).as("en"),
        col("event_id"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val prevEnd = max(col("en")).over(ord.rowsBetween(
      Window.unboundedPreceding, -1))
    e.withColumn("new_island",
        when(col("s") > coalesce(prevEnd, lit(Long.MinValue)), 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(ord.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("is_start"), max(col("en")).as("is_end"))
      .groupBy(col("user_id"))
      // exact integer micros — a seconds division would hit the
      // Spark-truncates / DuckDB-rounds long-cast divergence
      .agg(count(lit(1)).as("n_islands"),
        sum(col("is_end") - col("is_start")).as("covered_micros"))
      .orderBy(col("user_id"))
  }

  // ---- drift monitoring --------------------------------------------------

  /** Per-language resampling weights that rebalance the corpus toward a
    * uniform language mix: weight_h = target/share_h = N/(L·n_h),
    * computed as ONE exact integer-rational division (never the
    * float-share chain t/s whose intermediate rounding differs by
    * association). The knob a corpus-mix pipeline multiplies into
    * per-doc sampling probabilities ([[TextAnalysis.corpusSampleStratified]]
    * draws with it).
    *
    * Scale shape: one tiny-key aggregate + a broadcast 1-row total. */
  /** Additive seasonal-trend decomposition of the hourly event-value
    * series (STL-lite, moving-average flavor): trend = centered 25-hour
    * moving average, seasonal = per-hour-of-day mean of the detrended
    * series, residual = value − trend − seasonal. The decomposition
    * behind "is this spike load growth, time-of-day, or an incident" —
    * complementing [[tsSeasonalBaseline]]'s hour-of-week
    * z-score (which classifies points; this SPLITS the series).
    *
    * Integer-exact cross-engine: the hourly series is an exact scaled
    * BIGINT (Σ round(value·1e6)); the 25-hour trend sum and the
    * ×25-scaled detrended values stay BIGINT (25·v − Σ25 — division by
    * 25 is deferred, never rounded), and the seasonal mean divides two
    * exact integers once. Every emitted double is one identical IEEE
    * expression over exact integers in both engines; REAL casts absorb
    * nothing here but keep the output schema uniform.
    *
    * Scale shape: the hourly rollup is the only data-sized aggregate
    * (map-side-combined). Everything after runs on the hourly series,
    * whose length is bounded by wall-clock hours (8 760/year) — the
    * single-partition window is over that inherently tiny series, the
    * same justification as the Holt family. Edge hours (incomplete
    * 25-row frame) emit null trend/seasonal/residual, the standard
    * moving-average STL contract. */
  def tsStlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.schema.Schemas.events(spark, dir)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
    val w = Window.orderBy(col("h")).rowsBetween(-12, 12)
    val trended = hourly
      .withColumn("t25_sum", sum(col("v6")).over(w))
      .withColumn("t25_n", count(lit(1)).over(w))
      // 25·v − Σ25: the ×25-scaled detrended value, exact BIGINT
      .withColumn("detr25",
        when(col("t25_n") === 25, lit(25L) * col("v6") - col("t25_sum")))
      .withColumn("hod", (col("h") % 24).cast("int"))
    val seasonal = trended.filter(col("detr25").isNotNull)
      .groupBy(col("hod"))
      .agg(sum(col("detr25")).as("s_sum"), count(lit(1)).as("s_n"))
    trended.join(broadcast(seasonal), Seq("hod"), "left")
      .select(
        timestamp_micros(col("h") * lit(3600000000L)).as("hour_ts"),
        (col("v6").cast("double") / lit(1e6)).cast("float").as("value"),
        when(col("t25_n") === 25,
          col("t25_sum").cast("double") / lit(25e6)).cast("float")
          .as("trend"),
        when(col("detr25").isNotNull,
          col("s_sum").cast("double")
            / (col("s_n") * lit(25L)).cast("double") / lit(1e6))
          .cast("float").as("seasonal"),
        when(col("detr25").isNotNull,
          (col("detr25").cast("double") / lit(25e6))
            - (col("s_sum").cast("double")
               / (col("s_n") * lit(25L)).cast("double") / lit(1e6)))
          .cast("float").as("residual"))
      .orderBy(col("hour_ts"))
  }

  /** Discrete periodogram of the hourly event-value series at candidate
    * periods (6 h, 12 h, 24 h, 168 h): spectral power
    * P(T) = C(T)² + S(T)² with C = Σ v·cos(2πh/T), S = Σ v·sin(2πh/T)
    * — "which cycle actually drives this metric", the confirmation
    * step before [[tsStlDecompose]] assumes a 24-hour season.
    *
    * Numerics: the hourly values are exact (scaled-BIGINT rollup
    * recovered to doubles); the cos/sin terms are libm doubles whose
    * last-ulp spread, summed over the series, sits ~9 orders below the
    * REAL cast's rounding step — absorbed, same argument as every
    * ln()-bearing oracle here. Candidate periods are a fixed literal
    * list: a periodogram over all frequencies is an FFT job, not a SQL
    * aggregate; pipelines test the hypotheses the domain suggests.
    *
    * Scale shape: the data-sized work is the same hourly rollup the
    * decomposition uses; the trig pass runs over the wall-clock-bounded
    * hourly series × 4 periods — one tiny aggregate per period via
    * explode, map-side combined. */
  def tsPeriodogram(spark: SparkSession, dir: String,
      periodsH: Seq[Int] = Seq(6, 12, 24, 168)): DataFrame = {
    val hourly = graft.schema.Schemas.events(spark, dir)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
      .select(col("h"), (col("v6").cast("double") / lit(1e6)).as("v"))
    val ang = lit(2.0 * math.Pi) * col("h").cast("double") /
      col("period_h").cast("double")
    hourly
      .select(col("h"), col("v"),
        explode(array(periodsH.map(lit): _*)).as("period_h"))
      .groupBy(col("period_h"))
      .agg(sum(col("v") * cos(ang)).as("c"),
        sum(col("v") * sin(ang)).as("s"),
        count(lit(1)).as("n_hours"))
      .select(col("period_h"), col("n_hours"),
        ((col("c") * col("c") + col("s") * col("s")) /
          col("n_hours").cast("double")).cast("float").as("power"))
      .orderBy(col("period_h"))
  }

  /** Theil–Sen robust trend slope over the hourly event-value series —
    * the estimator companion of [[tsMannKendall]]'s trend
    * TEST (Sen 1968: the median of all pairwise slopes; 29% breakdown
    * point where OLS has 0). Reported with the lower-median convention
    * (rank ⌈P/2⌉ of the (slope, h_i, h_j)-ordered pairs — a PICK of one
    * exactly-computed double, never an interpolation).
    *
    * Exactness: the hourly series is the exact scaled-BIGINT rollup
    * (the [[tsStlDecompose]] grain); each pairwise slope is ONE
    * correctly-rounded double division of exact integers — identical
    * in any engine — and the median is a deterministic rank pick with
    * (h_i, h_j) tie-breaks, so the emitted slope is bit-identical.
    *
    * Scale shape (the r15-verdict gate — the [[tsMannKendall]]
    * exact-below/sampled-above pattern): the
    * corpus-sized work is the map-side-combined hourly rollup; the
    * bounded hourly series then funnels through ONE
    * `flatMapSortedGroups` task (calendar grain — 8 760 h/year, never
    * corpus-scaled). For k ≤ `exactHoursMax` hours the task emits the
    * EXACT lower-median of all k(k−1)/2 pairwise slopes with the
    * (slope, h_i, h_j) rank pick — bit-identical to the oracle's pair
    * join + rank (each slope is one double division of exact
    * integers). Above the gate — a multi-year deployment reaches
    * 10⁴–10⁵ hours, 10⁸–10⁹ pairs — it switches to a deterministic
    * splitmix64 sampled-pair median (`senSamples` draws, seed fixed ⇒
    * reproducible; the sampled median is a √senSamples-consistent
    * estimator, the standard Theil–Sen scale form; `n_pairs` then
    * reports the sampled-slope count). The r15 shape (hours² self-join
    * through an UNPARTITIONED global rank window) is gone, so the
    * WindowGateSpec allowlist entry is retired with it. */
  def tsTheilSen(spark: SparkSession, dir: String,
      exactHoursMax: Int = 4096, senSamples: Int = 20000): DataFrame = {
    import spark.implicits._
    val hourly = graft.schema.Schemas.events(spark, dir)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
      .as[(Long, Long)]
    hourly.groupByKey(_ => 0)
      .flatMapSortedGroups(col("h")) { (key, it) =>
        val rows = it.toArray // (h, v6) in hour order, hours distinct
        val k = rows.length
        def slopeOf(a: Int, b: Int): Double =
          (rows(b)._2 - rows(a)._2).toDouble /
            ((rows(b)._1 - rows(a)._1) * 1000000L).toDouble
        if (k <= exactHoursMax) {
          // exact regime: all pairs, lower-median rank pick with the
          // (slope, hi, hj) tie-break — the oracle's ORDER BY verbatim
          val slopes = new Array[(Double, Long, Long)](k * (k - 1) / 2)
          var n = 0; var a = 0
          while (a < k) {
            var b = a + 1
            while (b < k) {
              slopes(n) = (slopeOf(a, b), rows(a)._1, rows(b)._1)
              n += 1; b += 1
            }
            a += 1
          }
          if (n == 0) Iterator.empty
          else {
            val sorted = slopes.sortBy(identity)(Ordering.Tuple3(
              Ordering.Double.TotalOrdering, Ordering.Long, Ordering.Long))
            Iterator.single((k.toLong, n.toLong, sorted((n + 1) / 2 - 1)._1))
          }
        } else {
          // sampled regime: the tsMannKendall deterministic pair draws
          val slopes = scala.collection.mutable.ArrayBuffer.empty[Double]
          sampledPairs(key.toLong, k, senSamples)((lo, hi) =>
            slopes += slopeOf(lo, hi))
          if (slopes.isEmpty) Iterator.empty
          else {
            val arr = slopes.toArray
            java.util.Arrays.sort(arr)
            Iterator.single((k.toLong, arr.length.toLong,
              arr((arr.length + 1) / 2 - 1)))
          }
        }
      }
      .toDF("n_points", "n_pairs", "slope")
      .select(col("n_points"), col("n_pairs"),
        col("slope").cast("float").as("theil_sen_slope"))
  }

  /** Hurst exponent of the hourly event-value series by rescaled-range
    * (R/S) analysis at block sizes {8, 16, 32, 64}: H ≈ 0.5 is a
    * random walk, H > 0.5 long-range persistence, H < 0.5 mean
    * reversion — the long-memory diagnostic run beside
    * [[tsPeriodogram]] before trusting a forecast horizon.
    * Emits the per-size mean R/S panel and the fitted log-log slope.
    *
    * Determinism: the hourly series is the exact scaled-BIGINT rollup;
    * every per-block statistic folds in an ORDERED full-frame window
    * (both engines fold block rows in hour order — the
    * [[tsCusumChangepoint]] trick), the cross-block R/S sum
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
    * [[tsKalman1d]] contract); the gap is an exact integer
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

  /** Page's one-sided CUSUM against a fixed target per user: S⁺ᵢ =
    * max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack)), alarm when S⁺ crosses `h` —
    * the SEQUENTIAL drift detector a live monitor actually runs (the
    * retrospective [[tsCusumChangepoint]] needs the whole
    * series' mean; this needs only the last S⁺, which is why it has a
    * one-value streaming twin). Emits one row per event with the
    * running S⁺ and the alarm flag.
    *
    * Exactness: the clamped recurrence is a fixed sequence of double
    * ops in (ts, event_id) order — flatMapSortedGroups here, a
    * recursive CTE in the oracle, identical parenthesization → every
    * S⁺ bit-identical ([[tsKalman1d]] contract). max(0,·)
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

  /** Time-series gap fill: a dense hourly grid per event_type (cross join
    * of keys × sequence(min,max,1h)) left-joined against the hourly
    * aggregate, zero-filled. The grid side is tiny (keys × hours) and
    * broadcasts; the fact side aggregates BEFORE the join, so nothing
    * big ever shuffles twice. */
  def tsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        col("value"))
    val hourly = ev.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("float").as("sum_value"))
    val bounds = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(ev.select(col("event_type")).distinct())
    grid.join(hourly, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0f)).as("sum_value"))
      .orderBy(col("h"), col("event_type"))
  }
}
