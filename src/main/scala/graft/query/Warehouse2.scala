package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** Round-12 warehouse maintenance surface: snapshot diffing, file-layout
  * compaction planning, incremental materialized-view merge, and three
  * TPC-H-shaped analytical queries (Q2/Q9/Q16 adapted to the testdata
  * star schema, which has no partsupp table). All DuckDB-oracle exact.
  */
object Warehouse2 {

  /** Table-snapshot diff: classify every key of two snapshots of `orders`
    * (simulated as deterministic key-range filters with a price update on
    * keys ≡ 0 mod 3) as added / removed / changed / unchanged and report
    * per-status counts and key ranges — the reconciliation pass behind
    * CDC validation, replica verification, and time-travel diffing.
    *
    * Scale shape: one full-outer equi-join on the snapshot key — both
    * sides shuffle-partition on the key (co-partitioned scans of two
    * table versions in a real lakehouse make this a zip join), then a
    * map-side-combined 4-group aggregation. Nothing is collected; the
    * diff detail stays distributed and only the summary returns. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val snapA = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("pa"))
    val snapB = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("pb"))
    snapA.join(snapB, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("pa").isNull, "added")
          .when(col("pb").isNull, "removed")
          .when(col("pa") =!= col("pb"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy(col("status"))
  }

  /** Small-file compaction planner: derive per-(month, day) "file"
    * metadata from `orders` (row count, estimated bytes), then assign
    * files to capacity-quantized target files by the running-byte
    * prefix within each month partition — `(cumulative_bytes − 1) div
    * target` — the deterministic SQL form of next-fit bin packing that
    * OPTIMIZE/compaction jobs in lakehouse table formats plan with.
    *
    * Scale shape: the planner runs on FILE METADATA, not data — one
    * aggregation to the per-file grain, one window partitioned by the
    * table partition (each month's file list is small by construction),
    * one re-aggregation to the plan grain. At 100 TB the input is the
    * table manifest (millions of rows, not billions), and the plan
    * output drives the actual rewrite job. */
  def layoutCompactionPlan(spark: SparkSession, dir: String,
      targetBytes: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = table(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("part_month"),
        col("o_orderdate").cast("date").as("file_day"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) * 64).as("est_bytes"))
    val w = Window.partitionBy(col("part_month")).orderBy(col("file_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("target_file",
        floor((sum(col("est_bytes")).over(w) - 1) / targetBytes).cast("int"))
      .groupBy(col("part_month"), col("target_file"))
      .agg(count(lit(1)).as("n_input_files"),
        sum(col("n_rows")).as("total_rows"),
        sum(col("est_bytes")).as("total_bytes"))
      .orderBy(col("part_month"), col("target_file"))
  }

  /** Incremental TOP-K view maintenance — the BOUNDED-STATE member of
    * the MV family ([[mvIncrementalMerge]] merges associative
    * sum/count partials; top-k is not associative over deletions but
    * IS insert-prunable): the maintained state per key is only its
    * current top-3, and an insert tranche refreshes the view by
    * re-ranking state ∪ delta — correct because the true top-3 of
    * base ∪ delta is always a subset of (top-3 of base) ∪ delta. The
    * base is the `event_id % 10 != 0` events (standing for the
    * persisted view), the delta the `% 10 == 0` tranche; the oracle
    * recomputes the top-3 from ALL events directly, so the hash match
    * PROVES the pruned maintenance path equals the full recompute.
    * Ranking is (×10³ integer value DESC, event_id) — deterministic,
    * no float ordering anywhere.
    *
    * Scale shape: at deployment the base top-3 is the stored view
    * (k rows per key, never rescanned); here it costs one
    * map-side-combined min_by/max_by-style window over base. The
    * refresh itself ranks k + |delta-per-key| rows per key — delta
    * grain, not corpus grain. */
  def mvTopkDelta(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    def topk(df: DataFrame): DataFrame = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("v3").desc, col("event_id"))))
      .filter(col("rank") <= k)
    val baseView = topk(e.filter(col("event_id") % 10 =!= 0))
      .select(col("event_id"), col("event_type"), col("v3"))
    val delta = e.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("event_type"), col("v3"))
    topk(baseView.unionByName(delta))
      .select(col("event_type"), col("rank").cast("int").as("rank"),
        col("event_id"), col("v3"),
        (col("event_id") % 10 === 0).as("from_delta"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Incremental materialized-view merge: monthly revenue rollup computed
    * by MERGING persisted daily partial-aggregate states (sum/count are
    * associative), not by rescanning the base table — the maintenance
    * shape of every incremental MV / streaming-upsert sink. The DuckDB
    * oracle computes the monthly rollup DIRECTLY from base, so the
    * hash-compare proves the partial-merge path is exactly equal to the
    * full recompute.
    *
    * Scale shape: the daily grain is the persisted MV delta (one
    * aggregation per refresh window over only the new partition's data at
    * deployment); the monthly merge aggregates ~30× fewer rows than base
    * and reuses the daily shuffle's partitioning prefix. sum(qty) stays
    * double with map-side partials; counts merge as longs. */
  def mvIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("d"),
        col("l_returnflag").as("returnflag"))
      .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
    daily
      .groupBy(date_trunc("month", col("d")).cast("date").as("month"),
        col("returnflag"))
      .agg(sum(col("qty")).as("qty"), sum(col("n")).as("n_rows"))
      .orderBy(col("month"), col("returnflag"))
  }

  /** Incremental maintenance of a JOIN view (the Δ-join rule): a
    * materialized `orders ⋈ customer` view is refreshed against a
    * change batch — inserts (keys ≡ 0 mod 10) and updates (keys ≡ 5
    * mod 20, price +$5) — as
    * `V' = (V ⊲ Δkeys) ∪ (Δ ⋈ customer)`:
    * anti-join out the touched keys, join ONLY the delta against the
    * dimension, union. The DuckDB oracle computes the refreshed view by
    * FULL recompute over the effective post-change table, so the hash
    * match proves the delta-maintenance algebra exactly equals the
    * rescan.
    *
    * Scale shape: this is why incremental MV maintenance works at
    * 100 TB — refresh cost is O(|Δ| + view-co-partitioned anti-join),
    * never a base-table rescan. The anti-join shuffles on the view's
    * own key (a co-located zip at deployment where the view is
    * key-bucketed); the delta side is tiny and its dimension join
    * broadcasts. Prices ride exact cents (BIGINT) end to end. */
  def mvJoinDelta(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    def view(o: DataFrame): DataFrame = o
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("price_cents"), col("c_nationkey"))
    val o = table(spark, dir, "orders")
    val base = view(o.filter(col("o_orderkey") % 10 =!= 0)) // V (materialized)
    val inserts = o.filter(col("o_orderkey") % 10 === 0)
    val updates = o.filter(col("o_orderkey") % 20 === 5)
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
    val delta = inserts.unionAll(updates)
    val deltaKeys = delta.select(col("o_orderkey").as("dk")).distinct()
    base
      .join(broadcast(deltaKeys), col("o_orderkey") === col("dk"),
        "left_anti")
      .unionAll(view(delta))
      .orderBy(col("o_orderkey"))
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

  /** Year-over-year revenue growth: the yearly rollup with a lag window
    * computing each year's growth rate — the canonical trend KPI query.
    * Growth arithmetic runs in double over the float32 yearly totals
    * (exactly representable), so both engines compute identical rates.
    * Scale shape: one aggregation to the year grain (4 rows), then a
    * window over the tiny rollup — never over the fact table. */
  def sqlYearlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val y = table(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice")).cast("float").as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("yr"))
    y.withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("yoy_growth",
        when(col("prev_revenue").isNotNull,
          (col("revenue").cast("double") - col("prev_revenue").cast("double"))
            / col("prev_revenue").cast("double")).cast("float"))
      .orderBy(col("yr"))
  }

  /** Market-basket brand affinity: support and lift for brand pairs
    * co-occurring in an order — the association-rule-mining shape
    * (frequent itemsets at the 2-itemset level) over the star schema.
    *
    * Scale shape: baskets collapse to the DISTINCT (order, brand) grain
    * first (broadcast part attach, ~25 brands), so the pair self-join on
    * orderkey fans out at most C(brands-per-order, 2) rows per order —
    * bounded by the schema, never O(n²); the brand-count margins are a
    * tiny broadcast; min-support prunes before ranking. */
  // Per-order distinct-brand BASKETS (one sorted array per order) —
  // persisted once per (lineitem, part) generation: the affinity query probes
  // the basket grain THREE ways (pair emission, margin counts, order
  // total) and Catalyst has no cross-branch CSE, so without the index
  // every probe re-runs the fact⨝dim join + dedup. Same discipline as
  // the graph/dedup indexes (fingerprint-keyed, superseded generations
  // unpersisted). Stored as ARRAYS rather than (ok, b) rows (r21):
  // collect_set dedups IN the partial aggregate (the pairOrderEdges
  // trick — one exchange replaces the old distinct + repartition
  // double shuffle), and the pair fanout becomes an in-row combination
  // explode instead of an orderkey hash self-join probing 500 k rows.
  private def orderBrandIndex(spark: SparkSession, dir: String): DataFrame =
    IndexCache(spark, "warehouse.orderBrand", dir,
        Seq(s"$dir/lineitem.parquet", s"$dir/part.parquet")) {
      val df = table(spark, dir, "lineitem")
        .join(broadcast(table(spark, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .select(col("bs"))
        .persist()
      df.count()
      df
    }(_.unpersist(false))

  def sqlBasketAffinity(spark: SparkSession, dir: String,
      minSupport: Int = 20, k: Int = 30): DataFrame = {
    val ob = orderBrandIndex(spark, dir)
    // one basket row per order with ≥1 line, so the order total is a
    // row count (= the old countDistinct(ok) — lineitem's partkey FK
    // always matches part, making the dim join loss-free)
    val nOrders = ob.agg(count(lit(1)).as("n_orders"))
    val bc = ob.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nb"))
    // pair emission: every (b < b2) combination of the sorted distinct
    // basket array, emitted in-row — identical multiset to the old
    // orderkey self-join's (b < b2) pairs, without building and probing
    // a 500 k-row hash relation per run (r21: the self-join stage alone
    // was 9 s of task CPU at sf0.1/32)
    val pairs = ob
      .select(explode(expr(
        """flatten(transform(bs, (x, i) ->
          |  transform(slice(bs, i + 2, size(bs) - i - 1),
          |    y -> struct(x AS b, y AS b2))))""".stripMargin)).as("p"))
      .groupBy(col("p.b").as("brand_a"), col("p.b2").as("brand_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(broadcast(bc.select(col("b").as("brand_a"), col("nb").as("na"))),
        Seq("brand_a"))
      .join(broadcast(bc.select(col("b").as("brand_b"), col("nb").as("nb2"))),
        Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        (col("n_both").cast("double") / col("n_orders").cast("double"))
          .cast("float").as("support"),
        (col("n_both").cast("double") * col("n_orders").cast("double")
          / (col("na").cast("double") * col("nb2").cast("double")))
          .cast("float").as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(k)
  }

  /** TPC-H Q9 adapted (no partsupp in the testdata schema): profit by
    * supplier nation and order year over parts whose name starts with
    * "red". Scale shape: lineitem joins broadcast dims (part filter is
    * applied BEFORE the join so the build side is the filtered part set;
    * supplier/nation are broadcast), and the only shuffle is
    * lineitem⨝orders on orderkey followed by the group-by — the plan a
    * cost-based optimizer should pick, declared explicitly. */
  def sqlProductTypeProfit(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
    val s = table(spark, dir, "supplier")
    val n = table(spark, dir, "nation")
    val o = table(spark, dir, "orders")
    val p = table(spark, dir, "part").filter(col("p_name").startsWith("red"))
    l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .join(broadcast(s), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("float").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q16 adapted: distinct-supplier counts per (brand, type, size)
    * for a size set, excluding one brand — the "how diversified is supply
    * per part class" query. Scale shape: the part filter prunes before a
    * broadcast join; count(DISTINCT suppkey) aggregates on the composite
    * key with a two-phase distinct expansion — no row explosion, no
    * global sort until the final (small) result ordering. */
  def sqlSupplierCntByParttype(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 9, 16, 25, 36, 49)
    val p = table(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(sizes: _*))
    table(spark, dir, "lineitem")
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q2 adapted (no partsupp): for every small European-region part,
    * the supplier offering the minimum observed unit price in lineitem
    * (ties broken by smallest suppkey). The min-cost-vendor selection
    * with the classic correlated-minimum subquery shape.
    *
    * Scale shape: the unit-cost table aggregates lineitem on the
    * composite (part, supplier) key — one shuffle; the per-part minimum
    * reuses that output grouped by part only (AQE can reuse the
    * partitioning prefix); the winner join is an equi-join on (part,
    * cost) — the double equality is safe because both sides carry the
    * SAME aggregated values, not recomputed arithmetic. Dimension joins
    * broadcast. */
  def sqlMinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    // The per-part winner depends only on that part's own offers, so the
    // part-size predicate prunes lineitem BEFORE the (part, supplier)
    // aggregation — a broadcast semi-join cuts the agg input ~5× with
    // identical semantics (the oracle filters at the end; DuckDB's
    // optimizer does the same pushdown from the declarative form).
    val smallParts = table(spark, dir, "part")
      .filter(col("p_size") <= 10).select(col("p_partkey"))
    val cost = table(spark, dir, "lineitem")
      .join(broadcast(smallParts), col("p_partkey") === col("l_partkey"),
        "left_semi")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val best = cost.groupBy(col("pk").as("bpk"))
      .agg(min(col("unit_cost")).as("mc"))
    val pick = cost.join(best,
        col("pk") === col("bpk") && col("unit_cost") === col("mc"))
      .groupBy(col("pk"))
      .agg(min(col("sk")).as("sk"), min(col("unit_cost")).as("unit_cost"))
    val p = table(spark, dir, "part").filter(col("p_size") <= 10)
    val s = table(spark, dir, "supplier")
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region").filter(col("r_name") === "EUROPE")
    pick
      .join(broadcast(p), col("p_partkey") === col("pk"))
      .join(broadcast(s), col("s_suppkey") === col("sk"))
      .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
      .join(broadcast(r), col("r_regionkey") === col("n_regionkey"),
        "left_semi")
      .select(col("p_partkey"), col("s_name"), col("n_name").as("nation"),
        col("unit_cost"))
      .orderBy(col("p_partkey"))
  }

  /** Zone-map skipping effectiveness by physical layout: builds per-zone
    * min/max shipdate statistics for two candidate layouts of lineitem —
    * hash-on-orderkey (the default writer layout) vs clustered-by-
    * shipdate-month — and reports, for a 6-month range predicate, how
    * many zones and rows each layout would scan. The quantitative
    * input to every "should we re-cluster this table" decision: the
    * date-clustered layout prunes ~92% of zones, the hash layout none.
    *
    * Scale shape: zone statistics are ONE map-side-combined aggregate
    * per layout over a shared scan (min/max/count per zone key); the
    * report is an aggregate over the (tiny) zone table. Nothing driver-
    * side; the same plan produces real parquet row-group zone maps when
    * pointed at `_metadata` at deployment. */
  def statsZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-06-30").cast("timestamp")
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    def layout(name: String, zoneKey: Column): DataFrame = {
      val zones = li.groupBy(zoneKey.as("zone_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate")).as("zmin"),
          max(col("l_shipdate")).as("zmax"))
        .withColumn("scanned", col("zmax") >= lo && col("zmin") <= hi)
      zones.agg(count(lit(1)).cast("long").as("n_zones"),
          sum(when(col("scanned"), 1L).otherwise(0L)).as("zones_scanned"),
          sum(col("n_rows")).cast("long").as("rows_total"),
          sum(when(col("scanned"), col("n_rows")).otherwise(0L))
            .cast("long").as("rows_scanned"))
        .select(lit(name).as("layout"), col("n_zones"), col("zones_scanned"),
          col("rows_total"), col("rows_scanned"),
          (col("rows_scanned").cast("double")
            / col("rows_total").cast("double")).as("scan_frac"))
    }
    layout("by_orderkey_hash", col("l_orderkey") % 16)
      .unionAll(layout("by_shipdate_month",
        year(col("l_shipdate")) * 12 + month(col("l_shipdate"))))
      .orderBy(col("layout"))
  }

  /** Zone BLOOM-filter pruning for point lookups — the data-skipping
    * mechanism min/max zone maps ([[statsZoneMap]]) cannot provide: a
    * high-cardinality key hashed across a zone's whole key range makes
    * every zone's [zmin, zmax] interval cover every probe, so range
    * stats prune NOTHING, while a per-zone Bloom signature prunes
    * almost everything (the Delta/Iceberg bloom-skipping design). Each
    * lineitem zone (4096-order stripes) carries a 252-bit signature as
    * four 63-bit BIGINT words (k = 3 probes via double hashing
    * h1 + i·h2; 63 bits per word keeps every shift positive in a
    * signed BIGINT on both engines); a probe key might-be-in a zone
    * iff its own 3 set bits survive AND against the zone words. The
    * report compares, per probe of a literal present/absent panel:
    * zones a min/max map would scan, zones the bloom scans, and the
    * zones that truly contain the key — the false-positive margin is
    * the (zones_bloom − zones_true) column, auditable directly.
    *
    * Exactness: md5-derived [[graft.query.Dedup.hash60]]/[[graft.query.Dedup.hash60lo]]
    * hashes, integer modular bit positions, bit_or-aggregated words —
    * every value is a BIGINT both engines reproduce bit-identically.
    *
    * Scale shape: signatures are ONE map-side-combined bit_or aggregate
    * per zone over an exploded k=3 bit stream (3 rows per fact row, no
    * shuffle beyond the zone-keyed agg — at deployment this is the
    * writer-side accumulation parquet/Delta do per row group); the
    * probe panel is a literal broadcast, and the verdict join is
    * |zones| × |panel| — metadata-sized, never the fact table.
    *
    * SATURATION BOUND (ADVICE r18): a 252-bit/k=3 signature holds
    * fp ≈ (1 − e^(−3n/252))³ — ~0.25 at n ≈ 84 distinct keys per zone
    * and →1 beyond a few hundred, at which point the bloom column stops
    * discriminating (cross-engine exactness is unaffected; only the
    * PRUNING VALUE saturates). The driver corpus keeps distinct
    * suppkeys per 4096-order zone well under that knee, which is what
    * Round18Spec's `bloom < n` assertion relies on; a deployment with
    * denser zones scales the signature width with expected
    * keys-per-zone (m ≈ 1.44·k·n bits for the target fp), exactly as
    * parquet's bloom writer sizes from its ndv hint. */
  def layoutBloomPrune(spark: SparkSession, dir: String,
      zoneOrders: Int = 4096): DataFrame = {
    import graft.query.Dedup.{hash60, hash60lo}
    // integer div, not double division+cast: a double round-trip loses
    // exactness once keys cross 2^53 at corpus scale
    val pairs = table(spark, dir, "lineitem")
      .select(expr(s"l_orderkey div $zoneOrders").as("zone_id"),
        col("l_suppkey").as("key"))
    def sig(df: DataFrame, grp: String): DataFrame = {
      val h1 = hash60(col("key").cast("string"))
      val h2 = hash60lo(col("key").cast("string"))
      val bits = df
        .select(col(grp), explode(array(lit(0L), lit(1L), lit(2L))).as("i"),
          h1.as("h1"), h2.as("h2"))
        .select(col(grp), pmod(col("h1") + col("i") * col("h2"),
          lit(252L)).as("pos"))
        .select(col(grp), floor(col("pos") / 63).cast("int").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")
            .as("mask"))
      bits.groupBy(col(grp)).agg(
        coalesce(expr("bit_or(CASE WHEN word = 0 THEN mask END)"), lit(0L))
          .as("w0"),
        coalesce(expr("bit_or(CASE WHEN word = 1 THEN mask END)"), lit(0L))
          .as("w1"),
        coalesce(expr("bit_or(CASE WHEN word = 2 THEN mask END)"), lit(0L))
          .as("w2"),
        coalesce(expr("bit_or(CASE WHEN word = 3 THEN mask END)"), lit(0L))
          .as("w3"))
    }
    val zoneSig = sig(pairs, "zone_id")
    val zoneRange = pairs.groupBy(col("zone_id"))
      .agg(min(col("key")).as("zmin"), max(col("key")).as("zmax"))
    // present/absent probe panel: 3 live supplier keys, 3 beyond any
    // copy stride (absent at every scale factor)
    val probes = spark.range(1).select(explode(array(
      lit(1L), lit(3L), lit(7L),
      lit(777000001L), lit(777000002L), lit(777000003L))).as("key"))
    val probeSig = sig(probes.select(col("key"), col("key").as("pk")), "pk")
      .withColumnRenamed("w0", "p0").withColumnRenamed("w1", "p1")
      .withColumnRenamed("w2", "p2").withColumnRenamed("w3", "p3")
    val truth = pairs.distinct()
      .select(col("zone_id"), col("key").as("pk"), lit(true).as("present"))
    zoneSig.join(zoneRange, Seq("zone_id"))
      .crossJoin(broadcast(probeSig))
      .join(truth, Seq("zone_id", "pk"), "left")
      .select(col("pk"), col("zone_id"),
        ((col("w0").bitwiseAND(col("p0")) === col("p0")) &&
          (col("w1").bitwiseAND(col("p1")) === col("p1")) &&
          (col("w2").bitwiseAND(col("p2")) === col("p2")) &&
          (col("w3").bitwiseAND(col("p3")) === col("p3"))).as("bloom_hit"),
        (col("zmin") <= col("pk") && col("pk") <= col("zmax"))
          .as("minmax_hit"),
        coalesce(col("present"), lit(false)).as("true_hit"))
      .groupBy(col("pk").as("probe_key"))
      .agg(count(lit(1)).as("n_zones"),
        sum(when(col("minmax_hit"), 1L).otherwise(0L)).as("zones_minmax"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("zones_bloom"),
        sum(when(col("true_hit"), 1L).otherwise(0L)).as("zones_true"))
      .withColumn("bloom_false_pos", col("zones_bloom") - col("zones_true"))
      .orderBy(col("probe_key"))
  }

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

  /** Order-to-ship lead time percentiles per order priority: p50/p90/p99
    * of datediff(first line shipment, order date) in whole days — the
    * fulfillment SLA panel. Lead times are exact integer days and the
    * exact `percentile` on integers interpolates two integer operands —
    * identical IEEE arithmetic in both engines.
    *
    * Scale shape: min-ship-per-order is a map-side-combined rollup on
    * the fact; the order join is key-to-key; the percentile groups are
    * the 5 priorities (tiny keys). At a scale where exact percentile
    * state per group matters, the histogram-quantile path
    * (`agg_histogram_quantiles`) swaps in. */
  def sqlLeadTimePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
    table(spark, dir, "orders")
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("o_orderdate")).as("lead_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(percentile(lead_days, 0.5) AS REAL)").as("p50"),
        expr("CAST(percentile(lead_days, 0.9) AS REAL)").as("p90"),
        expr("CAST(percentile(lead_days, 0.99) AS REAL)").as("p99"),
        max(col("lead_days")).cast("long").as("max_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** ABC inventory classification: parts ranked by exact-cents revenue;
    * class A = parts while cumulative share < 80%, B = while < 95%,
    * C = the tail — the classic Pareto stock-control segmentation, and
    * (with [[sqlCustomerRfm]]) the second canonical derived-feature
    * table a warehouse maintains. The per-part row keeps rank, exact
    * cumulative cents, and the class.
    *
    * Determinism: revenue is exact cents; the cumulative window orders
    * by a TOTAL key (revenue desc, partkey); class boundaries compare
    * integer cross-products (cum·100 < total·80), never floating
    * shares. Scale: one fact rollup to |parts|, then a TWO-LEVEL
    * rank/cumsum (part cardinality is unbounded — the
    * [[graft.query.Analytics4.aggParetoConcentration]] shape): parts
    * bucket by revenue range, the per-bucket (count, cents) histogram
    * prefix-sums in descending bucket order into offsets (the only
    * unpartitioned window runs over that histogram), and within-bucket
    * windows run in parallel. Equal revenues share a bucket, so ranks
    * match the single-window form exactly.
    */
  def sqlAbcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("part_id"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("revenue_cents"))
      .withColumn("__bkt", floor(col("revenue_cents") / lit(4096L)))
    val tot = rev.agg(sum(col("revenue_cents")).as("total_cents"))
    val offs = rev.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__bn"), sum(col("revenue_cents")).as("__bs"))
      .select(col("__bkt"),
        coalesce(sum(col("__bn")).over(Window.orderBy(col("__bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__offn"),
        coalesce(sum(col("__bs")).over(Window.orderBy(col("__bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__offs"))
    val wLocal = Window.partitionBy(col("__bkt"))
      .orderBy(col("revenue_cents").desc, col("part_id"))
    rev.join(broadcast(offs), Seq("__bkt"))
      .withColumn("rank",
        (col("__offn") + row_number().over(wLocal)).cast("int"))
      .withColumn("cum_cents", col("__offs") + sum(col("revenue_cents"))
        .over(wLocal.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum_cents") * 100 < col("total_cents") * 80, lit("A"))
          .when(col("cum_cents") * 100 < col("total_cents") * 95, lit("B"))
          .otherwise(lit("C")))
      .select(col("part_id"), col("rank"), col("revenue_cents"),
        col("cum_cents"), col("abc_class"))
      .orderBy(col("rank"))
  }

  /** RFM customer segmentation — recency (days since last order,
    * against the corpus's own max order date: no wall-clock), frequency
    * (order count), monetary (exact cents), each scored into quintiles
    * and combined into the classic 3-digit RFM cell. THE segmentation
    * every CRM/marketing warehouse derives first; also the canonical
    * "derived customer feature table" shape for a training pipeline.
    *
    * Determinism: metrics are integers; quintiles are ntile(5) over a
    * TOTAL order (metric, custkey) — ntile's fill rule (first n mod b
    * buckets take the extra row) is the same in both engines, so scores
    * are exact. Recency orders ascending on days (most recent = bucket
    * 1 = best), frequency/monetary descending on the metric.
    *
    * Scale shape: one map-side-combined aggregate over orders shrinks
    * the working set to |customers|; each quintile is a TWO-LEVEL
    * global rank ([[TwoLevel.rowNumber]] — customers bucket by the
    * metric's value range, the only unpartitioned windows run over the
    * per-metric bucket histograms) folded through the exact NTILE fill
    * rule ([[TwoLevel.ntileFromRank]]), so no single-partition pass
    * touches customer grain at any scale. A 1-row broadcast supplies
    * the reference date and the customer count. */
  def sqlCustomerRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val refDate = o.agg(max(col("o_orderdate")).as("ref"))
    val base = o.groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(refDate))
      .withColumn("recency_days",
        datediff(col("ref"), col("last_order")).cast("long"))
      .drop("ref", "last_order")
      // materialized ONCE: each TwoLevel.rowNumber pass below reads its
      // input twice (histogram + join-back), so three chained passes
      // would re-run the per-customer aggregate 2³ = 8 times (measured
      // 18 driver jobs / 0.7 s for a ≤|customers| frame at sf0.1).
      // The checkpoint is customer-grain — bounded, not corpus-grain.
      .localCheckpoint(true)
    val nTot = base.agg(count(lit(1)).as("__n"))
    val ranked = Seq(
      (floor(col("recency_days") / lit(32L)),
        Seq(col("recency_days").asc, col("c_custkey").asc), false, "__rr"),
      (floor(col("frequency") / lit(4L)),
        Seq(col("frequency").desc, col("c_custkey").asc), true, "__rf"),
      (floor(col("monetary_cents") / lit(4096L)),
        Seq(col("monetary_cents").desc, col("c_custkey").asc), true, "__rm"))
      .foldLeft(base) { case (df, (bkt, ord, desc, out)) =>
        TwoLevel.rowNumber(df, bkt, ord, desc, out)
      }
    ranked.crossJoin(broadcast(nTot))
      .withColumn("r_score", TwoLevel.ntileFromRank(col("__rr"), col("__n"), 5))
      .withColumn("f_score", TwoLevel.ntileFromRank(col("__rf"), col("__n"), 5))
      .withColumn("m_score", TwoLevel.ntileFromRank(col("__rm"), col("__n"), 5))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .drop("__rr", "__rf", "__rm", "__n")
      .orderBy(col("c_custkey"))
  }

  /** TPC-H Q20 shape ("parts with excess stock at a supplier") adapted
    * to the partsupp-less schema: a supplier qualifies if, for some
    * part whose name ends in "bolt", its ALL-TIME shipped quantity
    * exceeds 4× what it shipped since 1996 — inventory held far beyond
    * recent demand. The classic decision-support semi-join against an
    * aggregate threshold: suppliers are filtered by EXISTENCE of a
    * qualifying (supplier, part) pair, never widened by the join.
    *
    * Scale shape, inside-out: (1) lineitem is pruned FIRST by a
    * broadcast semi-join on the bolt part keys — the name filter
    * reaches the fact scan before the aggregation shuffle; (2) one
    * pass computes both the all-time and the in-window sums as
    * conditional aggregates (no second scan, map-side combined on
    * (suppkey, partkey)); (3) the threshold keeps survivors only;
    * (4) supplier is LEFT SEMI-joined against the ≤|survivors| key
    * set, so the output is one row per supplier with no fanout; the
    * nation decorate is a broadcast. Quantities are whole numbers —
    * sums are kept in LONG so the 4× threshold is an exact integer
    * compare on every engine. */
  def sqlExcessStock(spark: SparkSession, dir: String): DataFrame = {
    val bolts = table(spark, dir, "part")
      .filter(col("p_name").endsWith("bolt"))
      .select(col("p_partkey"))
    val pruned = table(spark, dir, "lineitem")
      .join(broadcast(bolts), col("l_partkey") === col("p_partkey"),
        "left_semi")
    val survivors = pruned
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("q_all"),
        sum(when(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"),
          col("l_quantity").cast("long")).otherwise(0L)).as("q_recent"))
      .filter(col("q_recent") > 0 && col("q_all") > col("q_recent") * 4)
      .select(col("l_suppkey")).distinct()
    table(spark, dir, "supplier")
      .join(survivors, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
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
    val u = graft.query.Dedup.hash60(
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
}
