package graft.query
package stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The stats family's data-quality and profiling queries (`dq_`,
  * `profile_`, `skew_`, `histogram_`, `heavy_`, `winsorized_`). */
object Quality {

  /** ANALYZE-style column profile of `lineitem` key/measure columns —
    * row count, non-null count, exact NDV, min, max per column — the
    * statistics pass every cost-based planner and data-quality monitor
    * runs first against a new corpus.
    *
    * Scale shape: ONE scan computes all per-column aggregates in a single
    * multi-distinct aggregate (Catalyst expands the distinct set, keeping
    * one pass over the data with map-side partials), and the wide
    * one-row result is unpivoted driver-side into the per-column rows —
    * metadata-scale output, never a per-column rescan of a 100 TB table.
    * Exact NDV is the sf0.01 oracle contract; at deployment scale the
    * same shape swaps `countDistinct` for `approx_count_distinct` (HLL,
    * already covered by `agg_approx_sketch`). */
  def profileTableStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_discount", "l_partkey", "l_quantity", "l_suppkey")
    val li = table(spark, dir, "lineitem")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n_nonnull"),
        countDistinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("double").as(s"${c}__min_v"),
        max(col(c)).cast("double").as(s"${c}__max_v"))
    }
    val wide = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stack = cols.map { c =>
      s"'$c', ${c}__n_nonnull, ${c}__ndv, ${c}__min_v, ${c}__max_v"
    }.mkString(", ")
    wide.select(col("n_rows"), expr(
      s"stack(${cols.size}, $stack) AS (col, n_nonnull, ndv, min_v, max_v)"))
      .select(col("col"), col("n_rows"), col("n_nonnull"), col("ndv"),
        col("min_v"), col("max_v"))
      .orderBy(col("col"))
  }

  /** Referential-integrity profile of the star schema's two fact→dim
    * relationships (orders→customer, lineitem→part): child rows,
    * matched rows, orphans, distinct child keys, and the match rate —
    * the first report a warehouse DQ gate emits before trusting a join.
    *
    * Scale shape: per relationship, ONE broadcast left-semi-shaped
    * aggregation — the dim key set broadcasts (dims are small by star
    * design), the fact side aggregates match indicators map-side;
    * no fact shuffle at all. */
  def dqJoinProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(rel: String, child: DataFrame, key: String,
        parentKeys: DataFrame): DataFrame =
      child.select(col(key).as("k"))
        .join(broadcast(parentKeys.select(col("pk")).distinct()
          .withColumn("m", lit(1))), col("k") === col("pk"), "left")
        .agg(count(lit(1)).as("child_rows"),
          count(col("m")).as("matched_rows"),
          (count(lit(1)) - count(col("m"))).as("orphan_rows"),
          countDistinct(col("k")).as("distinct_child_keys"))
        .select(lit(rel).as("relationship"), col("child_rows"),
          col("matched_rows"), col("orphan_rows"),
          col("distinct_child_keys"),
          // ANSI 0/0 throws; an empty child has no defined match rate
          when(col("child_rows") === 0, lit(null).cast("double"))
            .otherwise(col("matched_rows").cast("double") /
              col("child_rows").cast("double")).as("match_rate"))
    profile("orders->customer", table(spark, dir, "orders"), "o_custkey",
        table(spark, dir, "customer").select(col("c_custkey").as("pk")))
      .unionAll(profile("lineitem->part", table(spark, dir, "lineitem"),
        "l_partkey",
        table(spark, dir, "part").select(col("p_partkey").as("pk"))))
      .orderBy(col("relationship"))
  }

  // ---- attribution -------------------------------------------------------

  /** Daily ingest-volume anomaly monitor: each observed day's event
    * count against the trailing 7-observed-day mean, flagged outside
    * [0.5×, 1.5×] — the first data-quality alarm a pipeline wires
    * (dropped feed / replay storm detection). The day axis is integer
    * epoch-micros division; the ratio is ONE exact integer-rational
    * division (n·cnt / Σ), so the flag threshold cannot waver between
    * engines. Days 1–3 are warm-up (no trailing baseline) and are
    * excluded.
    *
    * Scale shape: one map-side-combined aggregate onto the day grain,
    * then a window over days — input is #days rows at any corpus
    * size. */
  def dqVolumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.schema.Schemas.events(spark, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .as("day_index"))
      .groupBy(col("day_index")).agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day_index")).rowsBetween(-7, -1)
    daily
      .select(col("day_index"), col("n_events"),
        count(col("n_events")).over(w).as("trail_days"),
        sum(col("n_events")).over(w).as("trail_sum"))
      .filter(col("trail_days") >= 3)
      .select(col("day_index"), col("n_events"), col("trail_days"),
        ((col("n_events") * col("trail_days")).cast("double") /
          col("trail_sum").cast("double")).as("volume_ratio"))
      .withColumn("flagged",
        col("volume_ratio") >= 1.5 || col("volume_ratio") <= 0.5)
      .orderBy(col("day_index"))
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data / extraction-bug detector (organically grown
    * monetary amounts follow log₁₀(1 + 1/d); a synthetic or truncated
    * feed does not), reported per digit with the chi-square term so
    * the monitor can both test and localize.
    *
    * Exactness: the leading digit comes from the exact-cents INTEGER's
    * decimal string (never floating log arithmetic — a log10-based
    * digit extraction can misclassify at power-of-ten boundaries);
    * counts are BIGINTs off one map-side-combined 9-key aggregate;
    * expected shares are log10 on literal constants (identical doubles
    * any engine) and each emitted term is fixed-order scalar math under
    * a REAL cast.
    *
    * Scale shape: one scan, 9-key aggregate, broadcast 1-row total —
    * no shuffle pressure at any corpus size. */
  def dqBenfordLaw(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * lit(100.0)).cast("long")
    // filter on the DERIVED cents, not the raw price (r15 advice #3):
    // a price in (0, 0.005) rounds to 0 cents → digit 0 → expected_p =
    // log10(1 + 1/0) = +Inf and a NaN chi2_term; cents > 0 makes the
    // digit domain provably 1..9 on any input
    benfordFromPanel(table(spark, dir, "orders")
      .filter(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders")))
  }

  /** The Benford chi-square epilogue over a (digit, n_orders) panel —
    * shared verbatim by the batch query and the transformWithState
    * streaming twin ([[graft.streaming.StreamQueries.streamDqBenford]]),
    * so drain == batch holds by construction: ≤9-row fixed-order scalar
    * math on exact integer counts. */
  private[graft] def benfordFromPanel(g: DataFrame): DataFrame = {
    val tot = g.agg(sum(col("n_orders")).as("n_total"))
    val expectedP = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val obsP = col("n_orders").cast("double") / col("n_total").cast("double")
    val expN = col("n_total").cast("double") * expectedP
    g.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        obsP.cast("float").as("observed_p"),
        expectedP.cast("float").as("expected_p"),
        ((col("n_orders").cast("double") - expN)
          * (col("n_orders").cast("double") - expN) / expN)
          .cast("float").as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** φ-frequent keys (heavy hitters): every (lang, source) corpus slice
    * whose document count exceeds φ·N — the top-key profile that drives
    * skew handling (salting those keys), corpus-mix accounting, and
    * dominance alerts. The key's SHARE distribution is scale-invariant
    * (sources keep their proportions as the corpus grows), which is
    * what makes a fixed φ meaningful at any N.
    *
    * Scale shape: ONE map-side-combined aggregation over the fact table
    * plus a 1-row total broadcast back — the fact scan is never
    * shuffled twice. At 100 TB the same answer is served approximately
    * by per-partition Misra-Gries summaries (k = 1/φ counters each)
    * merged on the driver — a mergeable-sketch path this exact operator
    * is the witness for: any key above φ·N is GUARANTEED to survive
    * every partial summary, so the sketch path can only over-report,
    * and a second exact count over the ≤1/φ candidates removes the
    * false positives. */
  def heavyHitters(spark: SparkSession, dir: String,
      phi: Double = 0.02): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("lang"), col("source"))
    val counts = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val total = docs.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") > col("total") * lit(phi))
      .select(col("lang"), col("source"), col("n"),
        (col("n").cast("double") / col("total")).cast("float").as("share"))
      .orderBy(col("n").desc, col("lang"), col("source"))
  }

  /** Winsorized (percentile-clipped) statistics per group: clip
    * `l_extendedprice` to its group's exact [p05, p95] rank thresholds,
    * then aggregate — outlier-robust stats without dropping rows.
    *
    * The thresholds are EXACT order statistics (the k-th smallest value,
    * k = ceil(q·n)), not interpolated quantiles: rank selection is
    * engine-independent, interpolation arithmetic is not.
    *
    * Scale shape: no per-group global sort. Same two-level selection as
    * [[graft.ingest.Batcher]]: a per-(group, value-bucket) histogram is
    * prefix-summed (window over the histogram, not the data) to locate
    * the ONE bucket holding each k-th value; only rows of those
    * candidate buckets are ranked (parallel windows over ≤ bucket-width
    * populations). Ties share a bucket by construction (same value ⇒
    * same bucket), so the selected VALUE is deterministic regardless of
    * intra-tie order. Thresholds then broadcast back for the clip. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("p"))
      .withColumn("bkt", floor(col("p") / lit(1024.0)).cast("long"))
    val hist = li.groupBy(col("f"), col("bkt")).agg(count(lit(1)).as("c"))
      .select(col("f"), col("bkt"), col("c"),
        sum(col("c")).over(Window.partitionBy(col("f"))
          .orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum"))
    val ks = hist.groupBy(col("f")).agg(max(col("cum")).as("n"))
      .select(col("f").as("k_f"),
        greatest(ceil(col("n") * 0.05).cast("long"), lit(1L)).as("klo"),
        ceil(col("n") * 0.95).cast("long").as("khi"))
    // candidate buckets: the bucket whose cumulative range covers k
    val cand = hist.join(broadcast(ks), col("f") === col("k_f"))
      .select(col("f"), col("bkt"), (col("cum") - col("c")).as("off"),
        col("cum"), col("klo"), col("khi"))
      .filter((col("off") < col("klo") && col("klo") <= col("cum")) ||
        (col("off") < col("khi") && col("khi") <= col("cum")))
      .select(col("f").as("c_f"), col("bkt").as("c_bkt"), col("off"),
        col("klo"), col("khi"))
    val wb = Window.partitionBy(col("c_f"), col("c_bkt")).orderBy(col("p"))
    val thr = li.join(broadcast(cand),
        col("f") === col("c_f") && col("bkt") === col("c_bkt"))
      .select(col("f"), col("p"), col("klo"), col("khi"),
        (row_number().over(wb) + col("off")).as("grank"))
      .groupBy(col("f"))
      .agg(max(when(col("grank") === col("klo"), col("p"))).as("lo"),
        max(when(col("grank") === col("khi"), col("p"))).as("hi"))
      .select(col("f").as("t_f"), col("lo"), col("hi"))
    li.join(broadcast(thr), col("f") === col("t_f"))
      .groupBy(col("f"))
      .agg(
        // exact integer cents of the clipped value (the clip picks one
        // of three 2-decimal data doubles, so round(x*100) is exact on
        // both engines) summed as BIGINT — no double sum, no
        // double→DECIMAL cast, no engine-version rounding surface
        sum(round(least(greatest(col("p"), col("lo")), col("hi"))
          * lit(100)).cast("long")).as("wsum_c"),
        sum(when(col("p") < col("lo"), 1L).otherwise(0L)).as("n_lo_clip"),
        sum(when(col("p") > col("hi"), 1L).otherwise(0L)).as("n_hi_clip"),
        count(lit(1)).as("n"))
      .select(col("f").as("l_returnflag"), col("wsum_c"),
        col("n_lo_clip"), col("n_hi_clip"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Equi-width histogram of order value: fixed [0, 500k) domain cut
    * into 20 bins — the data-profiling primitive behind skew reports
    * and equi-width feature binning (the equi-FREQUENCY variant is
    * [[graft.query.ml.Features.featureBinning]]).
    *
    * Scale shape: the bin id is pure row-local arithmetic (no
    * data-dependent bounds, so no pre-pass); one map-side-combined
    * aggregation over 20 keys. Bounds are compile-time constants by
    * design — at 100 TB a data-dependent min/max pre-scan is a full
    * extra pass; profile with fixed domains, refine bounds offline. */
  def histogramEquiWidth(spark: SparkSession, dir: String,
      lo: Double = 0.0, hi: Double = 500000.0, bins: Int = 20): DataFrame = {
    val width = (hi - lo) / bins
    table(spark, dir, "orders")
      .select(least(greatest(
          floor((col("o_totalprice") - lit(lo)) / lit(width)), lit(0L)),
        lit(bins - 1L)).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        // exact integer cents summed as BIGINT (o_totalprice is
        // 2-decimal money in a double — see Warehouse numeric
        // discipline); the bin id itself stays double-arithmetic-free
        // of rounding hazards (floor of a quotient far from integer
        // boundaries at these bin widths)
        sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("value_total_c"))
      .orderBy(col("bin"))
  }

  /** Benford first-digit conformance test on order totals — the
    * data-quality forensic for fabricated or truncated monetary data:
    * observed first-digit frequencies vs Benford's log₁₀(1 + 1/d) with
    * per-digit χ² terms. (A synthetic uniform price generator FAILS
    * Benford loudly — which is itself the point of reporting the terms
    * rather than a verdict: the panel shows HOW the distribution
    * deviates.)
    *
    * Exactness: the first digit comes from the exact-cents BIGINT's
    * decimal string (never floor(log10(x)) on a double); counts are
    * integers; the libm log₁₀ and everything downstream of it ride the
    * REAL cast.
    *
    * Scale shape: one map-side-combined aggregate to ≤ 9 rows plus a
    * broadcast 1-row total — the fact table never shuffles. */
  def dqBenfordTest(spark: SparkSession, dir: String): DataFrame = {
    val digits = table(spark, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val tot = counts.agg(sum(col("obs")).as("n"))
    val p = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("obs"), col("n"),
        p.cast("float").as("p_benford"),
        (((col("obs").cast("double") - col("n").cast("double") * p)
          * (col("obs").cast("double") - col("n").cast("double") * p))
          / (col("n").cast("double") * p)).cast("float").as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Data-quality constraint report — the dbt-test / Deequ shape: each
    * declared constraint (FK integrity, uniqueness, value-range,
    * non-null) is evaluated over its full table and reported as one
    * (constraint, n_checked, n_violations) row. The gate every corpus
    * refresh runs before downstream jobs consume the new snapshot.
    *
    * Scale shape: FK checks are broadcast-probe left joins counted in
    * one pass (the fact side never shuffles; a null probe IS the
    * violation); uniqueness is count − countDistinct in one aggregate;
    * range/null checks are map-side conditional counts. Output is one
    * row per constraint — metadata-scale — so the five checks union
    * cheaply. */
  def dqConstraintReport(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val p = table(spark, dir, "part")
    def report(name: String, checked: Column, violations: Column,
        src: DataFrame): DataFrame =
      src.agg(checked.cast("long").as("n_checked"),
        violations.cast("long").as("n_violations"))
        .select(lit(name).as("constraint_name"), col("n_checked"),
          col("n_violations"))
    val liFk = report("lineitem_orderkey_fk", count(lit(1)),
      count(when(col("o_orderkey").isNull, 1)),
      li.join(broadcast(o.select(col("o_orderkey"))),
        col("o_orderkey") === col("l_orderkey"), "left"))
    val qty = report("lineitem_qty_positive", count(lit(1)),
      count(when(col("l_quantity") <= 0, 1)), li)
    val oFk = report("orders_custkey_fk", count(lit(1)),
      count(when(col("c_custkey").isNull, 1)),
      o.join(broadcast(c.select(col("c_custkey"))),
        col("c_custkey") === col("o_custkey"), "left"))
    val price = report("orders_price_nonnull", count(lit(1)),
      count(when(col("o_totalprice").isNull, 1)), o)
    val uniq = report("part_partkey_unique", count(lit(1)),
      count(lit(1)) - countDistinct(col("p_partkey")), p)
    liFk.unionAll(qty).unionAll(oFk).unionAll(price).unionAll(uniq)
      .orderBy(col("constraint_name"))
  }

  /** Freshness-lag report: each event type's newest timestamp and its
    * lag behind the corpus's newest event — the ops dashboard row that
    * catches a stalled upstream topic. Lag is relative to the data's
    * own maximum (never wall-clock), so the report is deterministic. */
  def dqFreshnessLag(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
    val perType = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("newest"))
    val global = e.agg(max(col("ts")).as("gmax"))
    perType.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_events"), col("newest"),
        // `div`, not `/`: Spark's / is fractional even on longs; the
        // oracle's // is integer floor division
        expr("(unix_micros(gmax) - unix_micros(newest)) div 60000000")
          .as("lag_minutes"))
      .orderBy(col("event_type"))
  }

  /** Primary-key uniqueness audit across the star schema: per declared
    * key, row count vs distinct-key count and the duplicate surplus —
    * the first constraint a warehouse loader validates (the FK audit is
    * [[dqConstraintReport]]; this is its PK half). All counts are exact
    * map-side-combined aggregates; composite keys dedup on the key
    * tuple. */
  def dqPkUniqueness(spark: SparkSession, dir: String): DataFrame = {
    def check(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(keys.head), keys.tail.map(col): _*)
            .as("n_distinct_keys"))
        .select(lit(name).as("table_key"), col("n_rows"),
          col("n_distinct_keys"),
          (col("n_rows") - col("n_distinct_keys")).as("n_duplicates"))
    Seq(
      check("lineitem(l_orderkey,l_linenumber)",
        table(spark, dir, "lineitem"), Seq("l_orderkey", "l_linenumber")),
      check("orders(o_orderkey)", table(spark, dir, "orders"),
        Seq("o_orderkey")),
      check("customer(c_custkey)", table(spark, dir, "customer"),
        Seq("c_custkey")),
      check("part(p_partkey)", table(spark, dir, "part"), Seq("p_partkey")),
      check("supplier(s_suppkey)", table(spark, dir, "supplier"),
        Seq("s_suppkey")))
      .reduce(_ unionAll _)
      .orderBy(col("table_key"))
  }

  /** Differentially-private category counts via the Laplace mechanism
    * with DETERMINISTIC pseudo-noise: u ~ U(0,1) derives from the
    * cross-engine 60-bit hash of the category (u = h / 2^60), and the
    * noise is the inverse-CDF Laplace draw −b·sign(u−½)·ln(1−2|u−½|)
    * at b = 1/ε = 2 — the DP release plumbing (sensitivity-1 count
    * query) with the RNG swapped for a replayable PRF so the mechanism
    * arithmetic is oracle-checkable end to end. A production release
    * swaps the hash for a sealed RNG; the mechanism, sensitivity, and
    * scale stay as pinned here.
    *
    * Scale shape: one map-side-combined count per category plus
    * map-only noise arithmetic — no second shuffle at any corpus
    * size. The one ln per row is REAL-cast (libm last-ulp). */
  def dqDpLaplaceCounts(spark: SparkSession, dir: String,
      epsilon: Double = 0.5): DataFrame = {
    val b = 1.0 / epsilon
    val u = TokenHash.hash60(
      concat(col("event_type"), lit(":dp"))).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val c = u - lit(0.5)
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"))
      .select(col("event_type"), col("n_exact"), u.as("u"),
        (-lit(b) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c)))
          .cast("float").as("noise"))
      .withColumn("n_noisy",
        (col("n_exact").cast("double") + col("noise").cast("double"))
          .cast("float"))
      .orderBy(col("event_type"))
  }

  /** Key-skew profile: the distribution of per-key row counts in power-of-
    * two bands — the diagnostic every 100 TB shuffle plan starts from (a
    * heavy band at the top means salting or AQE skew handling; a flat
    * profile means plain hash partitioning is fine). The band is computed
    * by INTEGER arithmetic (length of the binary representation − 1 =
    * floor(log2)) so both engines band identically — float log2 at an
    * exact power-of-two boundary is engine-dependent. Two aggregations:
    * per-key counts (one shuffle on the key), then the tiny band
    * histogram. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .withColumn("band", (length(bin(col("n"))) - 1).cast("int"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"), min(col("n")).as("min_count"),
        max(col("n")).as("max_count"), sum(col("n")).as("n_rows"))
      .orderBy(col("band"))
}
