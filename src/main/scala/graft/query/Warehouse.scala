package graft.query

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.{events, table}

/** The warehouse family: the TPC-H-derived decision-support shapes
  * (exists/not-exists, multi-way star joins, correlated-aggregate
  * filters, argmax-by-group, outer-join distributions, conditional
  * ratios) a production engine must run beyond the reference's own
  * pipeline queries, plus cohorts, attribution, MERGE/SCD2, snapshot
  * diffs, incremental views and layout maintenance. Every query is
  * DuckDB-oracle exact and states its 100 TB join/shuffle strategy.
  *
  * Numeric discipline (shared with [[sqlShippingPriority]]):
  * money aggregates accumulate as exact scaled BIGINT. The source data
  * is 2-decimal money stored as double (max binary error ~1e-9 of a
  * cent — measured, nowhere near a .5 rounding boundary), so
  * `round(x * 100)` recovers exact integer cents identically on every
  * engine, and `cents * (100 - pct_discount)` is pure 64-bit integer
  * arithmetic from there: no double summation-order sensitivity, no
  * double→DECIMAL cast whose rounding mode can drift across oracle
  * engine versions, and associative/commutative so Spark's partial
  * aggregation is exact. Oracle SQL must also `CAST(sum(..) AS BIGINT)`
  * — DuckDB sums BIGINT into HUGEINT (int128), a type whose
  * client-side canonicalization differs across versions. Headroom: max
  * net-×10k value ≈ 1.05e11, so 2^63 holds ~8.8e7 such rows PER GROUP
  * after map-side combine — at true 100 TB single-group scale the same
  * scaled-long values would final-combine via DECIMAL(38,0)/two-longs,
  * unchanged per-row math.
  */
object Warehouse {

  private def netDec(price: Column, disc: Column): Column =
    (price * (lit(1.0) - disc)).cast("decimal(18,4)")

  /** Exact net revenue scaled ×10 000: integer cents × integer
    * (100 − discount%), both recovered exactly from the 2-decimal
    * doubles (see class doc). */
  private def netS4(price: Column, disc: Column): Column =
    round(price * lit(100)).cast("long") *
      (lit(100L) - round(disc * lit(100)).cast("long"))

  /** Exact integer cents of a 2-decimal money double. */
  private def cents(x: Column): Column =
    round(x * lit(100)).cast("long")

  /** TPC-H-Q4-shaped order-priority check: orders in a quarter having at
    * least one returned item, counted by priority (orders/lineitem via
    * EXISTS — reference has no returns dimension, `l_returnflag = 'R'`
    * stands in for the late-delivery predicate).
    *
    * Scale shape: LEFT SEMI join — lineitem never duplicates orders, no
    * row explosion, and Spark plans it as a shuffle-hash/broadcast semi
    * whose build side carries ONLY `l_orderkey`. The date filter prunes
    * orders at the scan (pushed), the returnflag filter prunes lineitem
    * before the shuffle. Output is 5 rows; the groupBy is map-side
    * combined to nothing. */
  def sqlOrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val returned = table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H-Q5-shaped local-supplier volume: revenue per nation from
    * orders where the customer and the line's supplier share that
    * nation, restricted to one region and one order year.
    *
    * Scale shape: classic star — lineitem is the only big table; orders
    * (date-pruned) shuffles once on orderkey to meet it; customer,
    * supplier, nation, region all BROADCAST (each ≤ customer, itself
    * ~1e-4 of lineitem at any SF). The co-nation predicate
    * `c_nationkey = s_nationkey` rides the broadcast joins as a residual
    * — no extra shuffle. One exchange total at 100 TB. Revenue is the
    * exact ×10 000-scaled BIGINT sum (class doc) — driver-proof across
    * oracle engine versions. */
  def sqlLocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val nat = table(spark, dir, "nation")
      .join(table(spark, dir, "region")
          .filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val o = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        netS4(col("l_extendedprice"), col("l_discount")).as("net_s4"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("net_s4")).as("revenue_s4"))
      .orderBy(col("revenue_s4").desc, col("n_name"))
  }

  /** TPC-H-Q6-shaped forecast-revenue delta: one filtered scan-agg, the
    * canonical pushdown probe — discount band, quantity cap, one ship
    * year, `sum(extendedprice * discount)`.
    *
    * Scale shape: zero shuffles (final single-row agg aside). All three
    * predicates and the 3-column projection reach the parquet scan
    * (`PushedFilters` / `ReadSchema` — asserted by the plan audit spec);
    * at 100 TB this is the query that proves scans don't read the other
    * 13 columns. */
  def sqlForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24.0)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("decimal(28,4)").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H-Q13-shaped customer order-count distribution: how many
    * customers placed k orders, for every k including 0 — the LEFT
    * OUTER join + double aggregation shape.
    *
    * Scale shape: AGGREGATE-THEN-JOIN — orders first reduces to one
    * (custkey, count) row per ordering customer (map-side combined, one
    * shuffle of |orders| rows collapsing to |custkey| rows); customer
    * then left-joins those counts with `coalesce(count, 0)` supplying
    * the zero-order customers. The join therefore moves |custkey| rows,
    * not |orders| — the join-before-aggregate alternative shuffles and
    * hash-probes every order row against customer before collapsing,
    * ~10× more exchange volume at TPC-H ratios. The second aggregation
    * keys on k — tiny domain, broadcast-sized result. Excluded-pattern
    * residual (`o_orderpriority <> '5-LOW'`) filters BEFORE the
    * aggregate at the scan. */
  def sqlCustOrderDist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = table(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("o_count"))
    table(spark, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("o_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H-Q14-shaped promo-revenue ratio: the share of one ship-month's
    * revenue coming from promotional parts — conditional aggregation
    * over a fact⨝dim join, reported as exact decimal parts plus an
    * IEEE-deterministic double ratio (decimal division scale rules
    * differ across engines; double division of identical exact inputs
    * does not).
    *
    * Scale shape: part BROADCASTS (bounded dimension); lineitem is
    * scanned once with the month filter pushed down; no shuffle before
    * the single-row agg. */
  def sqlPromoRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_partkey"),
        netDec(col("l_extendedprice"), col("l_discount")).as("net_dec"))
      .join(broadcast(table(spark, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("net_dec"))
          .otherwise(lit(0).cast("decimal(18,4)")))
          .cast("decimal(28,4)").as("promo_revenue"),
        sum(col("net_dec")).cast("decimal(28,4)").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (col("promo_revenue").cast("double") * lit(100.0) /
          col("total_revenue").cast("double")).as("promo_pct"))

  /** TPC-H-Q15-shaped top supplier: supplier(s) achieving the maximum
    * quarterly revenue — the argmax-over-an-aggregate shape, done
    * without re-running the aggregate (Q15's VIEW is computed once and
    * self-joined on its own max).
    *
    * Scale shape: one shuffle of the date-pruned lineitem on suppkey to
    * per-supplier revenue (a supplier-cardinality table); the global
    * max of that is a broadcast scalar; the equality filter against it
    * touches no big data again. Revenue is exact DECIMAL so `= max`
    * is a safe equality. */
  def sqlTopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(netDec(col("l_extendedprice"), col("l_discount")))
        .cast("decimal(28,4)").as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(top), col("total_revenue") === col("mx"))
      .join(broadcast(table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H-Q17-shaped small-quantity revenue: revenue lost to line items
    * ordering below 20% of their part's average quantity, for one brand
    * — the correlated-scalar-subquery shape, decorrelated into an
    * aggregate + join.
    *
    * Scale shape: the per-part average aggregates the brand-pruned
    * lineitem on partkey once; its result has part-dimension
    * cardinality and BROADCASTS back onto the same pruned scan — no
    * second big shuffle, no correlated re-scan per row. All-integer
    * numerics: quantities are exact integers, so the predicate
    * `qty < 0.2 · (sum_q / cnt)` is evaluated as the equivalent
    * cross-multiplied BIGINT comparison `5·qty·cnt < sum_q` — zero
    * floating-point anywhere — and the lost revenue sums exact integer
    * cents (class doc). */
  def sqlSmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")
          .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty_i"),
        cents(col("l_extendedprice")).as("price_c"))
    val avgQ = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty_i")).as("sum_q"), count(lit(1)).as("cnt"))
      .select(col("l_partkey").as("a_partkey"), col("sum_q"), col("cnt"))
    li.join(broadcast(avgQ), col("l_partkey") === col("a_partkey"))
      .filter(col("qty_i") * col("cnt") * lit(5L) < col("sum_q"))
      .agg(sum(col("price_c")).as("yearly_loss_c"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H-Q21-shaped sole-fault supplier report: suppliers whose
    * returned item is the ONLY return in a multi-supplier order — the
    * EXISTS + NOT-EXISTS double-correlation shape, decorrelated into
    * one per-order profile join (`count distinct suppliers` /
    * `count distinct returning suppliers`) instead of two correlated
    * re-scans.
    *
    * Scale shape: lineitem shuffles on orderkey ONCE to build the
    * order profile (two distinct-counts over a few-per-order set —
    * exact, map-side partial); returned items join that profile on the
    * same key — AQE reuses the exchange — then aggregate on suppkey
    * (supplier-cardinality). Contrast with the textbook formulation:
    * two additional correlated semi/anti joins over lineitem. */
  /** TPC-H-Q7-shaped nation-pair volume: revenue flowing between two
    * trading nations (supplier nation → customer nation, both
    * directions) per ship year — the two-dimension-lookup star with a
    * pair predicate.
    *
    * Scale shape: both nation lookups ride BROADCAST joins (supplier
    * and customer are bounded dimensions); the pair predicate
    * `(s,c) ∈ {(1,2),(2,1)}` is a residual on the broadcasts, pruning
    * before the one big lineitem⨝orders shuffle's output aggregates.
    * Group keys (two names + year) are a tiny domain — map-side
    * combined to nothing. Money is the exact ×10 000-scaled BIGINT
    * (class doc). */
  def sqlNationVolumeShipping(spark: SparkSession, dir: String,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val supp = table(spark, dir, "supplier")
      .join(broadcast(table(spark, dir, "nation")
          .filter(col("n_name").isin(nationA, nationB))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")
          .filter(col("n_name").isin(nationA, nationB))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
        netS4(col("l_extendedprice"), col("l_discount")).as("net_s4"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("net_s4")).as("revenue_s4"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H-Q12-shaped priority-by-linestatus check: for one ship year,
    * per line status, how many lines belong to urgent/high-priority
    * orders vs the rest — the conditional-count-over-join shape
    * (adapted: the reference schema carries no shipmode/receipt
    * columns; linestatus stands in for the grouping dimension).
    *
    * Scale shape: one lineitem⨝orders shuffle on orderkey (the date
    * filter prunes lineitem at the scan first); the conditional counts
    * are map-side combined over a 2-value group domain. All-integer
    * output. */
  def sqlPriorityLinestatus(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(table(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  /** TPC-H-Q18-shaped large-volume customers: orders whose total
    * quantity exceeds a threshold, with their customer — the
    * HAVING-over-aggregate + enrichment-join shape.
    *
    * Scale shape: lineitem aggregates per orderkey FIRST (map-side
    * combined, one shuffle collapsing to |orders| rows) and the HAVING
    * cut reduces that to a tiny survivor set, which then joins orders
    * and broadcast customer — the joins move only survivors, the
    * Q13 aggregate-then-join discipline again. Quantities are exact
    * integers. */
  def sqlLargeVolumeCustomer(spark: SparkSession, dir: String,
      minQty: Long = 300L): DataFrame = {
    val big = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), round(col("l_quantity")).cast("long").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("q")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big.join(table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H-Q19-shaped disjunctive-band revenue: revenue from three
    * (brand, quantity-band) alternatives OR-ed together — the
    * disjunctive-predicate pushdown probe (each disjunct alone is
    * selective; the union must not devolve into a full scan of the
    * JOIN output).
    *
    * Scale shape: part BROADCASTS; the disjunction is a residual on the
    * broadcast join evaluated inside codegen, and the quantity bounds
    * (the common `qty_i <= 30` envelope) push to the lineitem scan.
    * Single-row output; money is exact scaled BIGINT. */
  def sqlDisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_quantity")).cast("long").as("qty_i"),
        netS4(col("l_extendedprice"), col("l_discount")).as("net_s4"))
      .filter(col("qty_i") <= 30L)
    li.join(broadcast(table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("qty_i").between(1L, 11L)) ||
        (col("p_brand") === "Brand#2" && col("qty_i").between(10L, 20L)) ||
        (col("p_brand") === "Brand#3" && col("qty_i").between(20L, 30L)))
      .agg(sum(col("net_s4")).as("revenue_s4"), count(lit(1)).as("n_items"))
  }

  /** TPC-H-Q22-shaped sales opportunity: LAPSED customers — above-average
    * positive account balance, no order since the cutoff — counted per
    * nation. The scalar-subquery-filter + anti-join shape (the pure
    * never-ordered variant is degenerate on this schema: order volume
    * covers nearly every customer, so the anti-join is date-scoped,
    * which is also the more realistic churn query).
    *
    * Scale shape: the global (sum, count) of positive balances is a
    * 1-row broadcast scalar; the above-average cut is the
    * cross-multiplied integer comparison `bal_c · n > sum_c` (balances
    * are 2-decimal money → exact cents, see class doc) — no double
    * average, no division anywhere. The no-recent-orders check is a
    * LEFT ANTI join on custkey against the date-pruned orders scan
    * (filter pushed down; ids only cross the exchange). Both sides of
    * the compare stay all-BIGINT. */
  def sqlSalesOpportunity(spark: SparkSession, dir: String,
      cutoff: String = "2000-01-01"): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_c"))
    val avgPos = cust.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .join(table(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H-Q8-shaped market share: of all revenue flowing to customers
    * in one region, the fraction supplied by one nation, per order year
    * — the conditional-share-over-star shape.
    *
    * Scale shape: identical star to [[sqlLocalSupplierVolume]] (one
    * lineitem⨝orders shuffle, every dimension broadcast); numerator and
    * denominator accumulate in ONE aggregation pass as exact scaled
    * BIGINTs (a `when` inside the sum — no second scan, no self-join);
    * the share is a single long/long→double division per output row,
    * IEEE-identical across engines given identical exact inputs. */
  def sqlMarketShare(spark: SparkSession, dir: String,
      region: String = "ASIA", nation: String = "NATION_1"): DataFrame = {
    val custRegion = table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")
          .join(broadcast(table(spark, dir, "region")
              .filter(col("r_name") === region)),
            col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = table(spark, dir, "supplier")
      .join(broadcast(table(spark, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("sn_name"))
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        netS4(col("l_extendedprice"), col("l_discount")).as("net_s4"))
      .join(table(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("sn_name") === nation, col("net_s4")).otherwise(0L))
          .as("nation_s4"),
        sum(col("net_s4")).as("total_s4"))
      .select(col("o_year"), col("nation_s4"), col("total_s4"),
        (col("nation_s4").cast("double") / col("total_s4").cast("double"))
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H-Q10-shaped returned-item report: customers ranked by revenue
    * lost to returns in one quarter — the top-k-over-star shape every
    * churn dashboard runs.
    *
    * Scale shape: the returnflag filter prunes lineitem at the scan and
    * the quarter filter prunes orders; one orderkey shuffle joins them;
    * customer (with its nation name) BROADCASTS onto the per-custkey
    * aggregate. TakeOrdered replaces a global sort for the top 20.
    * Money is exact scaled BIGINT, so the ranking is on exact integers
    * with a custkey tiebreak. */
  def sqlReturnedTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        netS4(col("l_extendedprice"), col("l_discount")).as("net_s4"))
      .join(table(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("net_s4")).as("revenue_s4"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue_s4"))
      .orderBy(col("revenue_s4").desc, col("c_custkey"))
      .limit(20)
  }

  def sqlSoleFaultSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    // distinct-supplier profile WITHOUT multi-distinct expand: collapse
    // to the (order, supplier) grain once (carrying a has-return flag),
    // then the per-order counts are plain aggregates whose shuffle key
    // is a prefix of the first — no Expand multiplication of the fact
    val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
        .as("has_r"))
    // the order profile attaches as a window over the SAME (order,
    // supplier) grain rather than a groupBy+self-join — the join form
    // evaluated the perSupp aggregation on both branches (no
    // cross-branch CSE), doubling the fact pass
    val wOrder = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(wOrder))
      .withColumn("n_ret_supp", sum(col("has_r")).over(wOrder))
      .filter(col("has_r") === 1 && col("n_supp") > 1
        && col("n_ret_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      // Q21's output grain is s_name, NOT the supplier key: names are
      // unique in a real corpus, but the grain must be the declared one
      // anyway (the x10 synthesis shifts keys while reusing names, and
      // the key-grain answer diverged there). An order has at most one
      // sole-fault supplier, so summing the per-key counts equals the
      // oracle's count(DISTINCT l_orderkey) per name; the re-agg runs
      // on ≤|supplier| tiny rows
      .groupBy(col("s_name"))
      .agg(sum(col("numwait")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val WeekUs = 604800000000L

  /** Weekly cohort retention: users bucketed by first-seen week, and for
    * each (cohort, week-offset) the count of cohort members active that
    * week — the product-analytics retention matrix.
    *
    * Scale shape: two aggregations, both map-side combined — per-user
    * first-seen (one user_id shuffle), then the distinct (user, week)
    * activity set joined to its cohort (user_id again, so AQE reuses
    * the partitioning) and rolled up to the tiny matrix. Week ids are
    * exact integer micros DIV week — no date library, no timezone. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      // DIV, not /: Spark's fractional divide on longs goes through double
      .select(col("user_id"),
        expr(s"unix_micros(ts) DIV $WeekUs").as("week"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val active = ev.distinct()
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Cohort lifetime value: purchase revenue (exact micro-scaled cents)
    * per signup-week cohort by week offset, with the running cumulative
    * — the monetary companion to [[cohortRetention]]'s user counts
    * (retention says who came back; LTV says what coming back was
    * worth). Cumulative sums stay integer, so the curve is exact.
    *
    * Scale shape: the cohort assignment is the same per-user min-week
    * aggregate retention uses; revenue is one map-side-combined rollup;
    * the cumulative window partitions per cohort over the tiny
    * (cohort × offset) grid. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr(s"unix_micros(ts) DIV $WeekUs").as("week"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("revenue_micros"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_revenue_micros", sum(col("revenue_micros")).over(w))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** TPC-H-Q3-shaped shipping-priority report: the top 10 orders by
    * outstanding revenue — orders placed before the cutoff whose items
    * shipped after it, for a bounded customer segment.
    *
    * Scale shape: the segment filter cuts customers ~10× BEFORE the
    * join and the survivors broadcast (no shuffle of orders by
    * custkey); orders⨝lineitem is the one big shuffle, on the join key
    * both sides already group by afterwards (orderkey — AQE reuses the
    * exchange for the aggregation). Revenue accumulates as the exact
    * ×10 000-scaled BIGINT of [[netS4]] (integer cents ×
    * integer discount complement — no double sums, no double→DECIMAL
    * cast whose rounding can drift across oracle engine versions), so
    * the top-10 ORDER BY ranks on exact integers and TakeOrdered
    * replaces a global sort. Both date filters push down to the parquet
    * scans. */
  def sqlShippingPriority(spark: SparkSession, dir: String,
      cutoff: String = "1998-07-01"): DataFrame = {
    val cust = table(spark, dir, "customer")
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"))
    val orders = table(spark, dir, "orders")
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"),
        netS4(col("l_extendedprice"), col("l_discount"))
          .as("net_s4"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("net_s4")).as("revenue_s4"))
      .orderBy(col("revenue_s4").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Z-order (Morton) layout bucketing: interleave the bits of two
    * scan-predicate dimensions (user, value band) into one clustering
    * key and report each 4096-cell bucket's row count and per-dimension
    * extents — the multi-dimensional data-layout index behind
    * Delta/Iceberg OPTIMIZE ZORDER. Narrow extents on BOTH dimensions
    * per bucket are exactly what lets a 100 TB scan prune files on
    * either predicate; a single-column sort gives narrow extents on one
    * dimension only.
    *
    * The interleave is a static chain of 32 codegen'd shift/mask ops
    * (not a lambda/HOF — stays inside whole-stage codegen); exact
    * integer math both engines. One map-side-combined aggregation. */
  def zorderCluster(spark: SparkSession, dir: String): DataFrame = {
    def bit(c: Column, i: Int): Column =
      shiftright(c, i).bitwiseAND(lit(1L))
    val x = least(col("user_id"), lit(65535L))
    val y = least(greatest(floor(col("value")).cast("long"), lit(0L)),
      lit(65535L))
    val z = (0 until 16).map { i =>
      shiftleft(bit(x, i), 2 * i)
        .bitwiseOR(shiftleft(bit(y, i), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), col("value"))
      .withColumn("zbucket", shiftright(z, 12)) // z DIV 4096, exact
      .withColumn("yband", y)
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("user_id")).as("x_min"), max(col("user_id")).as("x_max"),
        min(col("yband")).as("y_min"), max(col("yband")).as("y_max"))
      .orderBy(col("zbucket"))
  }

  /** Last-touch marketing attribution: each `purchase` conversion's value
    * is credited to the user's most recent PRIOR non-purchase event type
    * (`direct` when none), then rolled up per touch type. The standard
    * first/last-touch family over an event stream, expressed as one
    * per-user ordered window (`last(..., ignoreNulls)` over the
    * preceding frame) — never a self-join of conversions against the
    * full event history.
    *
    * Scale shape: one shuffle on user_id for the window sort, then a
    * map-side-combined rollup on the tiny touch-type key. Ordering ties
    * at equal ts are broken by event_id, so the credit is deterministic
    * under any partitioning. */
  def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value")).cast("float").as("attributed_value"))
      .orderBy(col("touch_type"))
  }

  // ---- regression --------------------------------------------------------

  /** Linear (equal-split) multi-touch attribution: every click/view in
    * the hour before a purchase shares that purchase's value equally;
    * purchases with no in-window touch credit "direct". The multi-touch
    * companion of [[attributionLastTouch]] — conservation
    * (Σ credit = Σ purchase value) is the spec-pinned invariant.
    *
    * Scale shape: the touch↔purchase pairing is a user-key equi-join
    * with a bounded time-band predicate (the [[Relational]] range-join
    * discipline — fanout is bounded by touches-per-user-hour, never
    * |purchases|×|touches|); credit split is one count window per
    * purchase; the rollup is a tiny-key aggregate. */
  def attributionLinear(spark: SparkSession, dir: String,
      windowSec: Int = 3600): DataFrame = {
    val n = Window.partitionBy(col("p_id"))
    creditByType(touchPairs(spark, dir, windowSec)
        .withColumn("n_touch", count(col("t_tus")).over(n)),
      col("p_value") / col("n_touch").cast("double"))
  }

  /** Every purchase left-joined to its user's click/view touches in the
    * `windowSec` before it: (p_id, p_tus, p_value, touch_type, t_tus),
    * t_tus NULL for a purchase with no in-window touch. The band is a
    * user-key equi-join plus a time predicate, never a cartesian. */
  private def touchPairs(spark: SparkSession, dir: String,
      windowSec: Int): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("tus").as("p_tus"), col("value").as("p_value"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("tus").as("t_tus"))
    // the time band lives IN the join condition: a post-filter on a
    // plain left join would drop purchases whose user has touches but
    // none in-window, instead of crediting them "direct"
    purchases.as("p").join(touches.as("t"),
      col("p.user_id") === col("t.user_id") &&
        col("t.t_tus") <= col("p.p_tus") &&
        col("p.p_tus") - col("t.t_tus") < lit(windowSec * 1000000L),
      "left")
  }

  /** Credited value per touch type over [[touchPairs]]: a touch earns
    * `touchCredit`, a purchase with no touch credits its whole value to
    * "direct". */
  private def creditByType(paired: DataFrame,
      touchCredit: Column): DataFrame =
    paired.select(
        when(col("t_tus").isNull, lit("direct"))
          .otherwise(col("touch_type")).as("credit_type"),
        when(col("t_tus").isNull, col("p_value"))
          .otherwise(touchCredit).as("credit"))
      .groupBy(col("credit_type"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).cast("float").as("credited_value"))
      .orderBy(col("credit_type"))


  // ---- graph -------------------------------------------------------------

  /** Dormant high-balance customers (the TPC-H Q22 shape, adapted:
    * this corpus has no order-less customers): customers whose account
    * balance exceeds the positive-balance average yet have NO
    * high-value order (totalprice > 2× the average order), rolled up
    * per nation — the "idle capital" segment report.
    *
    * Scale shape: both thresholds are broadcast 1-row aggregates; the
    * exclusion is a left-anti join against the (pre-filtered,
    * pre-deduped) high-value buyer key set; the rollup is a tiny-key
    * aggregate. The fact table is scanned once, filtered before the
    * distinct. */
  def sqlInactiveCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    val balAvg = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("bal_avg"))
    val priceAvg = orders.agg((avg(col("o_totalprice")) * 2.0).as("hi_bar"))
    val bigBuyers = orders.crossJoin(broadcast(priceAvg))
      .filter(col("o_totalprice") > col("hi_bar"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(balAvg))
      .filter(col("c_acctbal") > col("bal_avg"))
      .join(bigBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal")).cast("float").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Orders with at least one returned line, counted per order priority
    * — the TPC-H Q4 shape (EXISTS-correlated subquery → left-semi
    * join) on this schema's columns.
    *
    * Scale shape: the fact side is filtered and key-projected BEFORE
    * the semi-join, so the join carries returned orderkeys only; the
    * rollup key is tiny. */
  def sqlPriorityReturns(spark: SparkSession, dir: String): DataFrame = {
    val returned = table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    table(spark, dir, "orders")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Monthly revenue rollup with running cumulative share — the
    * finance-calendar pacing report. Money is exact cents; the month
    * key is EXTRACT-based (year/month have no engine-origin ambiguity,
    * unlike week); only the final share division leaves integers.
    *
    * Scale shape: one map-side-combined aggregate onto the (tiny)
    * month grain, then a window over months — at any corpus size the
    * window input is #months rows. */
  def sqlMonthlyCumRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = table(spark, dir, "orders")
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("ym"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val tot = monthly.agg(sum(col("revenue_cents")).as("total_cents"))
    val w = Window.orderBy(col("ym"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .select(col("ym"), col("revenue_cents"),
        sum(col("revenue_cents")).over(w).as("cum_cents"))
      .crossJoin(broadcast(tot))
      .select(col("ym"), col("revenue_cents"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("total_cents").cast("double"))
          .as("cum_share"))
      .orderBy(col("ym"))
  }

  /** Time-decay multi-touch attribution: each purchase's value splits
    * across its in-window touches with weight 0.5^(age/half-life) —
    * recent touches earn more — completing the standard model trio
    * beside [[attributionLastTouch]] (winner-takes-all) and
    * [[attributionLinear]] (equal split). Purchases with no in-window
    * touch stay credited "direct", the same left-join contract.
    *
    * Numerics: ages are exact integer micros; the pow/normalize/sum
    * chain is identically associated in both engines and the REAL cast
    * absorbs libm pow's last-ulp spread (the ln()-oracle argument).
    *
    * Scale shape: identical to the linear model — banded user-key
    * equi-join (never a cartesian), per-purchase weight normalization
    * as one window over the purchase key, tiny-key final rollup. */
  def attributionTimeDecay(spark: SparkSession, dir: String,
      windowSec: Int = 3600, halfLifeSec: Int = 900): DataFrame = {
    val w = pow(lit(0.5),
      (col("p_tus") - col("t_tus")).cast("double") /
        lit(halfLifeSec * 1000000.0))
    val nW = Window.partitionBy(col("p_id"))
    creditByType(touchPairs(spark, dir, windowSec)
        .withColumn("w", when(col("t_tus").isNotNull, w))
        .withColumn("w_sum", sum(col("w")).over(nW)),
      col("p_value") * col("w") / col("w_sum"))
  }


  /** Association rules over the co-purchase index: for the top-k part
    * pairs by shared-order count, support, both conditional
    * confidences, and lift — the market-basket panel
    * (`sql_basket_affinity` surfaces the raw pair counts; this turns
    * them into the rule statistics a recommender thresholds on). All
    * inputs are exact BIGINTs from persisted indexes (pair weight,
    * per-part order degree, order total); each emitted ratio is one
    * division, REAL on emit.
    *
    * Scale shape: three index reads (weighted projection, part degree,
    * 1-row order count) joined by key with the degree sides broadcast;
    * top-k is TakeOrdered. */
  def sqlBasketRules(spark: SparkSession, dir: String,
      k: Int = 50): DataFrame = {
    val w = GraphIndex.copurchaseWeighted(spark, dir)
    val pdeg = GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "pdeg")) {
      table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .groupBy(col("pk")).agg(count(lit(1)).as("d"))
    }
    val nOrders = table(spark, dir, "orders")
      .agg(count(lit(1)).as("n_orders"))
    w.join(broadcast(pdeg.select(col("pk").as("u"), col("d").as("d_u"))),
        Seq("u"))
      .join(broadcast(pdeg.select(col("pk").as("v"), col("d").as("d_v"))),
        Seq("v"))
      .crossJoin(broadcast(nOrders))
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("weight").as("support_n"),
        (col("weight").cast("double") / col("d_u").cast("double"))
          .cast("float").as("conf_a_to_b"),
        (col("weight").cast("double") / col("d_v").cast("double"))
          .cast("float").as("conf_b_to_a"),
        (col("weight").cast("double") * col("n_orders").cast("double")
          / (col("d_u").cast("double") * col("d_v").cast("double")))
          .cast("float").as("lift"))
      .orderBy(col("support_n").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** The SQL entry point: a TPC-H-Q5-shaped multi-join aggregation
    * registered and run as pure SQL (temp views + spark.sql) — Catalyst
    * join reordering, broadcast selection, and partial aggregation all
    * apply to SQL text exactly as to the DataFrame API. */
  def sqlRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => table(spark, dir, t).createOrReplaceTempView(s"v_$t"))
    spark.sql(
      """SELECT n_name,
        |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS FLOAT) AS revenue,
        |  count(*) AS n_items
        |FROM v_customer
        |JOIN v_orders   ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |JOIN v_supplier ON l_suppkey = s_suppkey
        |JOIN v_nation   ON s_nationkey = n_nationkey
        |JOIN v_region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  // ---- §2.7 endpoint skeletons --------------------------------------------

  /** CTE + window through the SQL entry point; ranking on exact integer
    * counts (never on a float aggregate — cross-engine ulp differences in
    * a double sum could reorder ranks). The ranking key (n_orders DESC,
    * o_custkey) is unique per row, so dense_rank ≡ row_number, and the
    * global rank is spelled TWO-LEVEL in SQL (customer grain is
    * unbounded): a per-n_orders-bucket count histogram prefix-sums into
    * rank offsets — the only unpartitioned window runs over the
    * histogram CTE — and the within-bucket row_number windows run in
    * parallel. */
  def sqlCteRanking(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(o_totalprice) AS FLOAT) AS total
        |  FROM orders GROUP BY o_custkey
        |), hist AS (
        |  SELECT n_orders DIV 4 AS bkt, count(*) AS bn
        |  FROM per_cust GROUP BY n_orders DIV 4
        |), offs AS (
        |  SELECT bkt, coalesce(sum(bn) OVER (ORDER BY bkt DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM hist
        |)
        |SELECT o_custkey, n_orders, total,
        |  CAST(off + row_number() OVER (PARTITION BY bkt
        |    ORDER BY n_orders DESC, o_custkey) AS INT) AS rnk
        |FROM (SELECT *, n_orders DIV 4 AS bkt FROM per_cust) p
        |JOIN offs USING (bkt)
        |ORDER BY o_custkey""".stripMargin)
  }

  /** Partitioned sink + partition-pruned scan: write events partitioned by
    * event_type, read back with a partition predicate — the scan must
    * touch ONE directory (PartitionFilters, audited in Relational2Spec).
    * This is the layout/pruning contract a 100 TB table lives by. */
  def partPruning(spark: SparkSession, dir: String): DataFrame = {
    Layouts.partitionedEvents(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** MERGE-style SCD1 upsert, emulated relationally (no transactional
    * table format in scope): target = orders snapshot missing every 7th
    * key; source = re-priced updates for keys divisible by 3. Full outer
    * join on the key, source wins per column, and each row is tagged
    * with its merge action. The full-outer-join shuffle is the exact
    * cost MERGE INTO pays in Delta/Iceberg before file rewrite. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val target = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("t_key"),
        col("o_totalprice").as("t_price"),
        col("o_orderstatus").as("t_status"))
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("s_key"),
        (col("o_totalprice").cast("double") * 1.1).as("s_price"),
        lit("U").as("s_status"))
    target.join(source, col("t_key") === col("s_key"), "full_outer")
      .select(
        coalesce(col("s_key"), col("t_key")).as("o_orderkey"),
        coalesce(col("s_price"), col("t_price").cast("double"))
          .cast("float").as("o_totalprice"),
        coalesce(col("s_status"), col("t_status")).as("o_orderstatus"),
        when(col("s_key").isNotNull && col("t_key").isNotNull, lit("updated"))
          .when(col("s_key").isNotNull, lit("inserted"))
          .otherwise(lit("kept")).as("merge_action"))
      .orderBy(col("o_orderkey"))
  }

  /** SCD2 dimension build: compress each user's event-type stream into
    * slowly-changing-dimension type-2 version rows — consecutive equal
    * attribute values collapse, each change opens a version with
    * [valid_from, valid_to) effectivity and the open version flagged
    * current. The warehouse dimension-maintenance idiom as two window
    * passes per entity partition; at 100 TB both windows partition on the
    * entity key (one shuffle, bounded per-entity groups), nothing global.
    * user_id < 20 bounds the declared output; the operator itself takes
    * any entity/attribute pair. */
  def scd2Versions(spark: SparkSession, dir: String,
      maxUser: Long = 20L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("user_id") < maxUser)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .select(col("user_id"),
        row_number().over(w).as("version_n"),
        col("event_type").as("attr"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version_n"))
  }

  /** Temporal (as-of) dimension lookup: join each event to the SCD2
    * version effective at its timestamp — the point-in-time enrichment
    * every feature pipeline needs (training labels must see the dimension
    * AS OF the event, never the current row). Equi-join on the entity key
    * with the effectivity range as an in-join predicate: per-entity
    * version chains are short, so the range check multiplies bounded
    * work — never a cartesian. */
  def scd2AsofLookup(spark: SparkSession, dir: String,
      maxUser: Long = 20L): DataFrame = {
    val v = scd2Versions(spark, dir, maxUser)
      .select(col("user_id").as("v_user"), col("version_n"), col("attr"),
        col("valid_from"), col("valid_to"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .filter(col("user_id") < maxUser)
      .join(v, col("user_id") === col("v_user") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("version_n"), col("attr"))
      .orderBy(col("event_id"))
  }

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
    * Exactness: md5-derived [[TokenHash.hash60]]/[[TokenHash.hash60lo]]
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
    import TokenHash.{hash60, hash60lo}
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
    * shares. Scale: one fact rollup to |parts|, then the
    * [[graft.query.Relational.aggParetoConcentration]] [[TwoLevel]]
    * descending rank/cumsum (part cardinality is unbounded), parts
    * bucketed by revenue range. Equal revenues share a bucket, so ranks
    * match the single-window form exactly.
    */
  def sqlAbcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val rev = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("part_id"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("revenue_cents"))
    val tot = rev.agg(sum(col("revenue_cents")).as("total_cents"))
    TwoLevel.prefix(rev, floor(col("revenue_cents") / lit(4096L)),
        Seq(col("revenue_cents").desc, col("part_id")), bucketDesc = true,
        rowNumber = Some("rank"), sums = Seq("revenue_cents" -> "cum_cents"))
      .withColumn("rank", col("rank").cast("int"))
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
}
