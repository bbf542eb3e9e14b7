package graft.registry

import graft.query.Warehouse
import graft.ingest.Formats

/** The warehouse family, 51 queries: `sql_`, `scd2_`, `snapshot_`,
  * `merge_`, `mv_`, `layout_`, `zorder_`, `part_`, `stats_` (zone maps),
  * `source_`, `cohort_`, `attribution_`. */
object WarehouseDefs {

  /** [[graft.query.Warehouse.zorderCluster]]: the 16+16-bit Morton
    * interleave as one generated bitwise expression — the SAME static
    * shift/mask chain the Spark side builds, so the bucket assignment is
    * exact integer math on both engines. */
  private def zorderOracleSql: String = {
    val interleave = (0 until 16).map { i =>
      s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")
    s"""WITH b AS (
       |  SELECT user_id, value,
       |    least(user_id, 65535) AS x,
       |    least(greatest(CAST(floor(value) AS BIGINT), 0), 65535) AS y
       |  FROM events
       |), z AS (
       |  SELECT user_id, y AS yband, ($interleave) >> 12 AS zbucket
       |  FROM b
       |)
       |SELECT zbucket, count(*) AS n,
       |  min(user_id) AS x_min, max(user_id) AS x_max,
       |  min(yband) AS y_min, max(yband) AS y_max
       |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sql_revenue_by_nation", Warehouse.sqlRevenueByNation _, Some(
      """SELECT n_name,
        |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS REAL) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),
    QueryDef("sql_cte_ranking", Warehouse.sqlCteRanking _, Some(
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(o_totalprice) AS REAL) AS total
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT o_custkey, n_orders, total,
        |  CAST(dense_rank() OVER (ORDER BY n_orders DESC, o_custkey) AS INT)
        |    AS rnk
        |FROM per_cust ORDER BY o_custkey""".stripMargin)),
    QueryDef("part_pruning", Warehouse.partPruning _, Some(
      """SELECT user_id, count(*) AS n_clicks,
        |  CAST(sum(value) AS REAL) AS sum_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("snapshot_diff", Warehouse.snapshotDiff _, Some(
      """WITH snap_a AS (
        |  SELECT o_orderkey AS k, o_totalprice AS pa FROM orders
        |  WHERE o_orderkey % 7 <> 0
        |), snap_b AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS pb
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |), d AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.pa <> b.pb THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k)
        |SELECT status, count(*) AS n, min(k) AS min_key, max(k) AS max_key
        |FROM d GROUP BY status ORDER BY status""".stripMargin)),
    // (cum_bytes - 1) // target is next-fit packing quantized to the
    // capacity grid — deterministic on both engines (integer arithmetic)
    QueryDef("layout_compaction_plan", Warehouse.layoutCompactionPlan(_, _), Some(
      """WITH files AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
        |      AS part_month,
        |    CAST(o_orderdate AS DATE) AS file_day,
        |    count(*) AS n_rows, count(*) * 64 AS est_bytes
        |  FROM orders GROUP BY 1, 2
        |), planned AS (
        |  SELECT part_month, file_day, n_rows, est_bytes,
        |    CAST((sum(est_bytes) OVER (PARTITION BY part_month
        |      ORDER BY file_day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - 1) // 4096 AS INT) AS target_file
        |  FROM files)
        |SELECT part_month, target_file, count(*) AS n_input_files,
        |  CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |  CAST(sum(est_bytes) AS BIGINT) AS total_bytes
        |FROM planned GROUP BY 1, 2
        |ORDER BY part_month, target_file""".stripMargin)),
    // oracle recomputes the monthly rollup DIRECTLY from base — equality
    // proves the engine's daily-partial merge path
    QueryDef("mv_incremental_merge", Warehouse.mvIncrementalMerge _, Some(
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  l_returnflag AS returnflag, sum(l_quantity) AS qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY month, returnflag""".stripMargin)),
    // Δ-join view maintenance: (V ⊲ Δkeys) ∪ (Δ ⋈ dim) == full recompute
    // full recompute over the EFFECTIVE post-change table — the hash
    // match proves the Spark side's Δ-join maintenance algebra
    QueryDef("mv_join_delta", Warehouse.mvJoinDelta _, Some(
      """WITH eff AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 5
        |      THEN CAST(round((o_totalprice + 5.0) * 100) AS BIGINT)
        |      ELSE CAST(round(o_totalprice * 100) AS BIGINT)
        |    END AS price_cents
        |  FROM orders
        |)
        |SELECT e.o_orderkey, e.o_custkey, e.price_cents, c.c_nationkey
        |FROM eff e JOIN customer c ON e.o_custkey = c.c_custkey
        |ORDER BY e.o_orderkey""".stripMargin)),
    QueryDef("sql_product_type_profit", Warehouse.sqlProductTypeProfit _, Some(
      """SELECT n.n_name AS nation,
        |  CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
        |  CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS REAL) AS profit
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_name LIKE 'red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),
    // growth arithmetic in DOUBLE over float32 yearly totals (exactly
    // representable) so both engines emit identical rates
    QueryDef("sql_yearly_growth", Warehouse.sqlYearlyGrowth _, Some(
      """WITH y AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |    CAST(sum(o_totalprice) AS REAL) AS revenue,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1
        |)
        |SELECT yr, revenue, n_orders,
        |  lag(revenue) OVER (ORDER BY yr) AS prev_revenue,
        |  CAST(CASE WHEN lag(revenue) OVER (ORDER BY yr) IS NOT NULL
        |    THEN (CAST(revenue AS DOUBLE)
        |        - CAST(lag(revenue) OVER (ORDER BY yr) AS DOUBLE))
        |      / CAST(lag(revenue) OVER (ORDER BY yr) AS DOUBLE) END AS REAL)
        |    AS yoy_growth
        |FROM y ORDER BY yr""".stripMargin)),
    QueryDef("sql_basket_affinity", Warehouse.sqlBasketAffinity(_, _), Some(
      """WITH ob AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |), n AS (
        |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
        |), bc AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS nb FROM ob GROUP BY b
        |), pairs AS (
        |  SELECT a.b AS brand_a, c.b AS brand_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
        |  GROUP BY 1, 2
        |)
        |SELECT brand_a, brand_b, n_both,
        |  CAST(CAST(n_both AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS REAL)
        |    AS support,
        |  CAST(CAST(n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        |    / (CAST(ba.nb AS DOUBLE) * CAST(bb.nb AS DOUBLE)) AS REAL)
        |    AS lift
        |FROM pairs
        |JOIN bc ba ON ba.b = brand_a JOIN bc bb ON bb.b = brand_b
        |CROSS JOIN n
        |WHERE n_both >= 20
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 30""".stripMargin)),
    QueryDef("sql_supplier_cnt_by_parttype", Warehouse.sqlSupplierCntByParttype _, Some(
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    QueryDef("sql_min_cost_supplier", Warehouse.sqlMinCostSupplier _, Some(
      """WITH cost AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2
        |), best AS (
        |  SELECT pk, min(unit_cost) AS mc FROM cost GROUP BY pk
        |), pick AS (
        |  SELECT c.pk, min(c.sk) AS sk, min(c.unit_cost) AS unit_cost
        |  FROM cost c JOIN best b ON b.pk = c.pk AND c.unit_cost = b.mc
        |  GROUP BY c.pk)
        |SELECT p.p_partkey, s.s_name, n.n_name AS nation, k.unit_cost
        |FROM pick k
        |JOIN part p ON p.p_partkey = k.pk
        |JOIN supplier s ON s.s_suppkey = k.sk
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'EUROPE' AND p.p_size <= 10
        |ORDER BY p.p_partkey""".stripMargin)),
    QueryDef("merge_upsert", Warehouse.mergeUpsert _, Some(
      """WITH target AS (
        |  SELECT o_orderkey AS t_key, o_totalprice AS t_price,
        |    o_orderstatus AS t_status
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |), source AS (
        |  SELECT o_orderkey AS s_key,
        |    CAST(o_totalprice AS DOUBLE) * 1.1 AS s_price,
        |    'U' AS s_status
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT coalesce(s_key, t_key) AS o_orderkey,
        |  CAST(coalesce(s_price, CAST(t_price AS DOUBLE)) AS REAL)
        |    AS o_totalprice,
        |  coalesce(s_status, t_status) AS o_orderstatus,
        |  CASE WHEN s_key IS NOT NULL AND t_key IS NOT NULL THEN 'updated'
        |       WHEN s_key IS NOT NULL THEN 'inserted'
        |       ELSE 'kept' END AS merge_action
        |FROM target FULL OUTER JOIN source ON t_key = s_key
        |ORDER BY o_orderkey""".stripMargin)),
    // round 4: temporal dimension ops
    QueryDef("scd2_versions", Warehouse.scd2Versions(_, _), Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, ts FROM events
        |  WHERE user_id < 20
        |), marked AS (
        |  SELECT *, lag(event_type) OVER w AS prev_type
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |), versioned AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER w2 AS INT) AS version_n,
        |    event_type AS attr, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to
        |  FROM changes
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, version_n, attr, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM versioned ORDER BY user_id, version_n""".stripMargin)),
    QueryDef("scd2_asof_lookup", Warehouse.scd2AsofLookup(_, _), Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, ts FROM events
        |  WHERE user_id < 20
        |), marked AS (
        |  SELECT *, lag(event_type) OVER w AS prev_type
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |), versioned AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER w2 AS INT) AS version_n,
        |    event_type AS attr, ts AS valid_from,
        |    lead(ts) OVER w2 AS valid_to
        |  FROM changes
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT e.event_id, e.user_id, v.version_n, v.attr
        |FROM ev e JOIN versioned v
        |  ON v.user_id = e.user_id AND v.valid_from <= e.ts
        |  AND (v.valid_to IS NULL OR e.ts < v.valid_to)
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("cohort_retention", Warehouse.cohortRetention _, Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events
        |), coh AS (
        |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
        |), act AS (SELECT DISTINCT user_id, week FROM ev)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("sql_shipping_priority", Warehouse.sqlShippingPriority(_, _), Some(
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_s4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey < 5
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY 1, 2
        |ORDER BY revenue_s4 DESC, l_orderkey LIMIT 10""".stripMargin)),
    QueryDef("zorder_cluster", Warehouse.zorderCluster _, Some(zorderOracleSql)),
    // round-6 warehouse suite (TPC-H-derived decision-support shapes)
    // round-6 warehouse suite
    QueryDef("sql_order_priority", Warehouse.sqlOrderPriority _, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_local_supplier_volume", Warehouse.sqlLocalSupplierVolume _, Some(
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_s4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue_s4 DESC, n_name""".stripMargin)),
    QueryDef("sql_forecast_revenue", Warehouse.sqlForecastRevenue _, Some(
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(28,4)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin)),
    QueryDef("sql_cust_order_dist", Warehouse.sqlCustOrderDist _, Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey
        |) GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QueryDef("sql_promo_revenue", Warehouse.sqlPromoRevenue _, Some(
      """WITH m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(28,4))
        |      AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |)
        |SELECT promo_revenue, total_revenue,
        |  CAST(promo_revenue AS DOUBLE) * 100.0
        |    / CAST(total_revenue AS DOUBLE) AS promo_pct
        |FROM m""".stripMargin)),
    QueryDef("sql_top_supplier", Warehouse.sqlTopSupplier _, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    QueryDef("sql_small_qty_revenue", Warehouse.sqlSmallQtyRevenue _, Some(
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(round(l_quantity) AS BIGINT) AS qty_i,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'
        |), a AS (
        |  SELECT l_partkey AS a_partkey,
        |    CAST(sum(qty_i) AS BIGINT) AS sum_q, count(*) AS cnt
        |  FROM li GROUP BY 1
        |)
        |SELECT
        |  CAST(sum(price_c) AS BIGINT) AS yearly_loss_c,
        |  count(*) AS n_items
        |FROM li JOIN a ON l_partkey = a_partkey
        |WHERE qty_i * cnt * 5 < sum_q""".stripMargin)),
    QueryDef("sql_sole_fault_supplier", Warehouse.sqlSoleFaultSupplier _, Some(
      """WITH profile AS (
        |  SELECT l_orderkey
        |  FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1
        |    AND count(DISTINCT CASE WHEN l_returnflag = 'R'
        |      THEN l_suppkey END) = 1
        |)
        |SELECT s_name, count(DISTINCT l_orderkey) AS numwait
        |FROM lineitem
        |JOIN profile USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_returnflag = 'R'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    // round-7 warehouse widening (Q7/Q12/Q18/Q19/Q22 shapes)
    QueryDef("sql_nation_volume_shipping", Warehouse.sqlNationVolumeShipping(_, _), Some(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_s4
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    QueryDef("sql_priority_linestatus", Warehouse.sqlPriorityLinestatus _, Some(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_large_volume_customer", Warehouse.sqlLargeVolumeCustomer(_, _), Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    > 300
        |)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("sql_disjunctive_revenue", Warehouse.sqlDisjunctiveRevenue _, Some(
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_s4,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(round(l_quantity) AS BIGINT) <= 30
        |  AND ((p_brand = 'Brand#1'
        |      AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#2'
        |      AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3'
        |      AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30))""".stripMargin)),
    QueryDef("sql_sales_opportunity", Warehouse.sqlSalesOpportunity(_, _), Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer
        |), avg_pos AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
        |    count(*) AS n_pos
        |  FROM cust WHERE bal_c > 0
        |)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
        |FROM cust, avg_pos
        |WHERE bal_c * n_pos > sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_market_share", Warehouse.sqlMarketShare(_, _), Some(
      """WITH cr AS (
        |  SELECT c_custkey
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |), sn AS (
        |  SELECT s_suppkey, n_name AS sn_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |)
        |SELECT year(o_orderdate) AS o_year,
        |  CAST(sum(CASE WHEN sn_name = 'NATION_1'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS nation_s4,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS total_s4,
        |  CAST(CAST(sum(CASE WHEN sn_name = 'NATION_1'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cr ON o_custkey = c_custkey
        |JOIN sn ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_returned_top_customers", Warehouse.sqlReturnedTopCustomers _, Some(
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS revenue_s4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-07-01'
        |    AND o_orderdate < TIMESTAMP '1997-10-01'
        |  GROUP BY 1
        |)
        |SELECT c_custkey, c_name, n_name, revenue_s4
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue_s4 DESC, c_custkey LIMIT 20""".stripMargin)),
    // the format queries scan ORC/JSONL copies whose content is identical
    // to the parquet tables, so the oracle reads the originals
    QueryDef("source_orc_agg", Formats.orcSourceAgg _, Some(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS value_c
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("source_jsonl_agg", Formats.jsonlSourceAgg _, Some(
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS acctbal_c
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    // mergeSchema read over mixed-generation parquet (evolved column)
    QueryDef("source_schema_evolution", Formats.schemaEvolutionAgg _, Some(
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<legacy>'
        |    ELSE o_orderpriority END AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS value_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("attribution_last_touch", Warehouse.attributionLastTouch _, Some(
      """WITH t AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events
        |)
        |SELECT coalesce(touch, 'direct') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(value) AS REAL) AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch_type""".stripMargin)),
    QueryDef("stats_zone_map", Warehouse.statsZoneMap _, Some(
      """WITH z1 AS (
        |  SELECT l_orderkey % 16 AS zone_id, count(*) AS n_rows,
        |    min(l_shipdate) AS zmin, max(l_shipdate) AS zmax
        |  FROM lineitem GROUP BY 1
        |), z2 AS (
        |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS zone_id,
        |    count(*) AS n_rows,
        |    min(l_shipdate) AS zmin, max(l_shipdate) AS zmax
        |  FROM lineitem GROUP BY 1
        |), r1 AS (
        |  SELECT 'by_orderkey_hash' AS layout,
        |    CAST(count(*) AS BIGINT) AS n_zones,
        |    CAST(sum(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
        |      AND zmin <= TIMESTAMP '1996-06-30' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS zones_scanned,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |    CAST(sum(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
        |      AND zmin <= TIMESTAMP '1996-06-30' THEN n_rows ELSE 0 END)
        |      AS BIGINT) AS rows_scanned
        |  FROM z1
        |), r2 AS (
        |  SELECT 'by_shipdate_month' AS layout,
        |    CAST(count(*) AS BIGINT) AS n_zones,
        |    CAST(sum(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
        |      AND zmin <= TIMESTAMP '1996-06-30' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS zones_scanned,
        |    CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |    CAST(sum(CASE WHEN zmax >= TIMESTAMP '1996-01-01'
        |      AND zmin <= TIMESTAMP '1996-06-30' THEN n_rows ELSE 0 END)
        |      AS BIGINT) AS rows_scanned
        |  FROM z2
        |), u AS (
        |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |)
        |SELECT layout, n_zones, zones_scanned, rows_total, rows_scanned,
        |  CAST(rows_scanned AS DOUBLE) / CAST(rows_total AS DOUBLE)
        |    AS scan_frac
        |FROM u ORDER BY layout""".stripMargin)),
    QueryDef("attribution_linear", Warehouse.attributionLinear(_, _), Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus, value
        |  FROM events
        |), p AS (
        |  SELECT event_id AS p_id, user_id, tus AS p_tus, value AS p_value
        |  FROM e WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, event_type AS touch_type, tus AS t_tus
        |  FROM e WHERE event_type IN ('click', 'view')
        |), j AS (
        |  SELECT p.p_id, p.p_value, t.touch_type, t.t_tus
        |  FROM p LEFT JOIN t ON p.user_id = t.user_id
        |    AND t.t_tus <= p.p_tus AND p.p_tus - t.t_tus < 3600000000
        |), n AS (
        |  SELECT p_id, p_value, touch_type, t_tus,
        |    count(t_tus) OVER (PARTITION BY p_id) AS n_touch
        |  FROM j
        |)
        |SELECT CASE WHEN t_tus IS NULL THEN 'direct' ELSE touch_type END
        |    AS credit_type,
        |  CAST(count(*) AS BIGINT) AS n_credits,
        |  CAST(sum(CASE WHEN t_tus IS NULL THEN p_value
        |    ELSE p_value / n_touch END) AS REAL) AS credited_value
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("sql_inactive_customers", Warehouse.sqlInactiveCustomers _, Some(
      """WITH balavg AS (
        |  SELECT avg(c_acctbal) AS bal_avg FROM customer
        |  WHERE c_acctbal > 0.0
        |), hibar AS (
        |  SELECT avg(o_totalprice) * 2.0 AS hi_bar FROM orders
        |), big AS (
        |  SELECT DISTINCT o_custkey FROM orders, hibar
        |  WHERE o_totalprice > hi_bar
        |)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(c_acctbal) AS REAL) AS totacctbal
        |FROM customer, balavg
        |WHERE c_acctbal > bal_avg
        |  AND c_custkey NOT IN (SELECT o_custkey FROM big)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    QueryDef("sql_priority_returns", Warehouse.sqlPriorityReturns _, Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("sql_monthly_cum_revenue", Warehouse.sqlMonthlyCumRevenue _, Some(
      """WITH m AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) * 100
        |      + EXTRACT(month FROM o_orderdate) AS INT) AS ym,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM orders GROUP BY 1
        |), t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents
        |  FROM m)
        |SELECT ym, revenue_cents,
        |  CAST(sum(revenue_cents) OVER (ORDER BY ym
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents,
        |  CAST(sum(revenue_cents) OVER (ORDER BY ym
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(total_cents AS DOUBLE) AS cum_share
        |FROM m, t ORDER BY ym""".stripMargin)),
    // RFM quintile segmentation (the CRM derived-feature table)
    QueryDef("sql_customer_rfm", Warehouse.sqlCustomerRfm _, Some(
      """WITH ref AS (SELECT max(o_orderdate) AS ref FROM orders),
        |base AS (
        |  SELECT o_custkey AS c_custkey,
        |    CAST(datediff('day', CAST(max(o_orderdate) AS DATE),
        |      CAST((SELECT ref FROM ref) AS DATE)) AS BIGINT)
        |      AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY o_custkey
        |)
        |SELECT c_custkey, recency_days, frequency, monetary_cents,
        |  CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) AS INT)
        |    AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS INT)
        |    AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, c_custkey)
        |    AS INT) AS m_score,
        |  CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) * 100
        |    + ntile(5) OVER (ORDER BY frequency DESC, c_custkey) * 10
        |    + ntile(5) OVER (ORDER BY monetary_cents DESC, c_custkey)
        |    AS INT) AS rfm_cell
        |FROM base ORDER BY c_custkey""".stripMargin)),
    // TPC-H Q20 shape: suppliers with excess stock of a named part family
    QueryDef("sql_excess_stock", Warehouse.sqlExcessStock _, Some(
      """WITH survivors AS (
        |  SELECT l_suppkey
        |  FROM lineitem
        |  WHERE l_partkey IN (
        |    SELECT p_partkey FROM part WHERE p_name LIKE '%bolt')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) FILTER (
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01') > 0
        |    AND sum(CAST(l_quantity AS BIGINT)) >
        |      4 * sum(CAST(l_quantity AS BIGINT)) FILTER (
        |        WHERE l_shipdate >= TIMESTAMP '1996-01-01')
        |)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM survivors)
        |ORDER BY s_suppkey""".stripMargin)),
    // the third standard attribution model (exponential time decay)
    QueryDef("attribution_time_decay", Warehouse.attributionTimeDecay(_, _), Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus, value
        |  FROM events
        |), p AS (
        |  SELECT event_id AS p_id, user_id, tus AS p_tus, value AS p_value
        |  FROM e WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, event_type AS touch_type, tus AS t_tus
        |  FROM e WHERE event_type IN ('click', 'view')
        |), j AS (
        |  SELECT p.p_id, p.p_tus, p.p_value, t.touch_type, t.t_tus
        |  FROM p LEFT JOIN t ON p.user_id = t.user_id
        |    AND t.t_tus <= p.p_tus AND p.p_tus - t.t_tus < 3600000000
        |), n AS (
        |  SELECT p_id, p_value, touch_type, t_tus,
        |    CASE WHEN t_tus IS NOT NULL THEN pow(0.5,
        |      CAST(p_tus - t_tus AS DOUBLE) / 900000000.0) END AS w,
        |    sum(CASE WHEN t_tus IS NOT NULL THEN pow(0.5,
        |      CAST(p_tus - t_tus AS DOUBLE) / 900000000.0) END)
        |      OVER (PARTITION BY p_id) AS w_sum
        |  FROM j
        |)
        |SELECT CASE WHEN t_tus IS NULL THEN 'direct' ELSE touch_type END
        |    AS credit_type,
        |  CAST(count(*) AS BIGINT) AS n_credits,
        |  CAST(sum(CASE WHEN t_tus IS NULL THEN p_value
        |    ELSE p_value * w / w_sum END) AS REAL) AS credited_value
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),
    // monetary cohort analysis (exact integer cumulative LTV curve)
    QueryDef("cohort_ltv", Warehouse.cohortLtv _, Some(
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events
        |), cohorts AS (
        |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
        |), rev AS (
        |  SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
        |    CAST(sum(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT)
        |      AS revenue_micros
        |  FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |)
        |SELECT cohort_week, week_offset, revenue_micros,
        |  CAST(sum(revenue_micros) OVER (PARTITION BY cohort_week
        |    ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_revenue_micros
        |FROM rev ORDER BY cohort_week, week_offset""".stripMargin)),
    // Pareto stock-control classes over exact-cents revenue
    QueryDef("sql_abc_analysis", Warehouse.sqlAbcAnalysis _, Some(
      """WITH rev AS (
        |  SELECT l_partkey AS part_id,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY l_partkey
        |), tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents
        |  FROM rev),
        |ranked AS (
        |  SELECT part_id, revenue_cents,
        |    CAST(row_number() OVER (ORDER BY revenue_cents DESC, part_id)
        |      AS INT) AS rank,
        |    CAST(sum(revenue_cents) OVER (
        |      ORDER BY revenue_cents DESC, part_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM rev
        |)
        |SELECT part_id, rank, revenue_cents, cum_cents,
        |  CASE WHEN cum_cents * 100 < total_cents * 80 THEN 'A'
        |       WHEN cum_cents * 100 < total_cents * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM ranked CROSS JOIN tot ORDER BY rank""".stripMargin)),
    // fulfillment SLA panel (exact integer-day percentiles)
    QueryDef("sql_lead_time_percentiles", Warehouse.sqlLeadTimePercentiles _, Some(
      """WITH fs AS (
        |  SELECT l_orderkey, min(l_shipdate) AS first_ship
        |  FROM lineitem GROUP BY l_orderkey
        |), lt AS (
        |  SELECT o.o_orderpriority,
        |    datediff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(fs.first_ship AS DATE)) AS lead_days
        |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(quantile_cont(lead_days, 0.5) AS REAL) AS p50,
        |  CAST(quantile_cont(lead_days, 0.9) AS REAL) AS p90,
        |  CAST(quantile_cont(lead_days, 0.99) AS REAL) AS p99,
        |  CAST(max(lead_days) AS BIGINT) AS max_days
        |FROM lt GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // market-basket rule panel (confidence/lift over the pair index)
    // li MATERIALIZED: DuckDB inlines plain CTEs per reference, so the
    // DISTINCT projection re-ran inside both self-join sides and the
    // degree scan — >1800 s at x10; materialized it replays in 9 s
    QueryDef("sql_basket_rules", Warehouse.sqlBasketRules(_, _), Some(
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), w AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS weight
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk
        |), d AS MATERIALIZED (SELECT pk, CAST(count(*) AS BIGINT) AS d FROM li GROUP BY pk),
        |n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders)
        |SELECT w.u AS part_a, w.v AS part_b, w.weight AS support_n,
        |  CAST(CAST(w.weight AS DOUBLE) / CAST(du.d AS DOUBLE) AS REAL)
        |    AS conf_a_to_b,
        |  CAST(CAST(w.weight AS DOUBLE) / CAST(dv.d AS DOUBLE) AS REAL)
        |    AS conf_b_to_a,
        |  CAST(CAST(w.weight AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        |    / (CAST(du.d AS DOUBLE) * CAST(dv.d AS DOUBLE)) AS REAL)
        |    AS lift
        |FROM w JOIN d du ON du.pk = w.u JOIN d dv ON dv.pk = w.v
        |CROSS JOIN n
        |ORDER BY support_n DESC, part_a, part_b LIMIT 50""".stripMargin)),
    // per-zone Bloom signatures vs min/max maps for point-lookup skipping
    // 252-bit zone Bloom signatures as four 63-bit BIGINT words (every
    // shift positive on both engines), md5-derived double hashing,
    // bit_or aggregation — all-integer, bit-identical cross-engine
    QueryDef("layout_bloom_prune", Warehouse.layoutBloomPrune(_, _), Some(
      """WITH pairs AS MATERIALIZED (
        |  SELECT l_orderkey // 4096 AS zone_id, l_suppkey AS key
        |  FROM lineitem
        |), hp AS MATERIALIZED (
        |  SELECT zone_id, key,
        |    CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 17, 15)
        |      AS BIGINT) AS h2
        |  FROM pairs
        |), bits AS MATERIALIZED (
        |  SELECT zone_id, (h1 + i * h2) % 252 AS pos
        |  FROM hp, LATERAL (SELECT unnest([0, 1, 2]) AS i) s
        |), zsig AS MATERIALIZED (
        |  SELECT zone_id,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 0 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS w0,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 1 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS w1,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 2 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS w2,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 3 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS w3
        |  FROM bits GROUP BY zone_id
        |), zrange AS MATERIALIZED (
        |  SELECT zone_id, min(key) AS zmin, max(key) AS zmax
        |  FROM pairs GROUP BY zone_id
        |), probes AS (
        |  SELECT unnest([CAST(1 AS BIGINT), 3, 7,
        |    777000001, 777000002, 777000003]) AS pk
        |), php AS (
        |  SELECT pk,
        |    CAST('0x' || substr(md5(CAST(pk AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h1,
        |    CAST('0x' || substr(md5(CAST(pk AS VARCHAR)), 17, 15)
        |      AS BIGINT) AS h2
        |  FROM probes
        |), pbits AS (
        |  SELECT pk, (h1 + i * h2) % 252 AS pos
        |  FROM php, LATERAL (SELECT unnest([0, 1, 2]) AS i) s
        |), psig AS (
        |  SELECT pk,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 0 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS p0,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 1 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS p1,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 2 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS p2,
        |    coalesce(bit_or(CASE WHEN pos // 63 = 3 THEN CAST(1 AS BIGINT)
        |      << CAST(pos % 63 AS INT) END), 0) AS p3
        |  FROM pbits GROUP BY pk
        |), truth AS MATERIALIZED (
        |  SELECT DISTINCT zone_id, key AS pk, TRUE AS present FROM pairs
        |)
        |SELECT s.pk AS probe_key, CAST(count(*) AS BIGINT) AS n_zones,
        |  CAST(sum(CASE WHEN r.zmin <= s.pk AND s.pk <= r.zmax
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zones_minmax,
        |  CAST(sum(CASE WHEN (z.w0 & s.p0) = s.p0 AND (z.w1 & s.p1) = s.p1
        |      AND (z.w2 & s.p2) = s.p2 AND (z.w3 & s.p3) = s.p3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zones_bloom,
        |  CAST(sum(CASE WHEN coalesce(t.present, FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zones_true,
        |  CAST(sum(CASE WHEN (z.w0 & s.p0) = s.p0 AND (z.w1 & s.p1) = s.p1
        |      AND (z.w2 & s.p2) = s.p2 AND (z.w3 & s.p3) = s.p3
        |    THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN coalesce(t.present, FALSE) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bloom_false_pos
        |FROM zsig z JOIN zrange r USING (zone_id) CROSS JOIN psig s
        |LEFT JOIN truth t ON t.zone_id = z.zone_id AND t.pk = s.pk
        |GROUP BY s.pk ORDER BY probe_key""".stripMargin)),
    // bounded-state MV: top-k maintained from state + insert tranche
    // FULL recompute: the engine's state+delta maintenance must equal it
    QueryDef("mv_topk_delta", Warehouse.mvTopkDelta(_, _), Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), t AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY v3 DESC, event_id) AS rank
        |  FROM e
        |)
        |SELECT event_type, CAST(rank AS INT) AS rank, event_id, v3,
        |  event_id % 10 = 0 AS from_delta
        |FROM t WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin)),
  )
}
