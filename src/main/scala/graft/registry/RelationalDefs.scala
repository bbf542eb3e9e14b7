package graft.registry

import graft.functions.ScalarFunctions
import graft.query.Relational

/** The relational family, 127 queries: the SURVEY §2 operator ids
  * (`q1_agg`, `q2_sensitivity_skeleton`, `q3_optimal_time`, `s*`, `t*`,
  * `a*`, `o*`, `f_*`) and every name no other family's prefix claims:
  * `agg_`, `join_`, `window_`, `set_ops_`, `subq_`, `lateral_`,
  * `unpivot_`, `udaf_`, `typed_`. */
object RelationalDefs {

  val defs: Seq[QueryDef] = Seq(
    // §2.7 endpoint programs / skeletons
    QueryDef("q1_agg", Relational.q1Agg _, Some(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q3_optimal_time", Relational.q3OptimalTime _, Some(
      """SELECT hour,
        |  CAST(sv3 AS DOUBLE) / CAST(n_events AS DOUBLE) / 1000.0 AS score,
        |  n_events
        |FROM (SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
        |        SUM(CAST(round(value * 1000) AS HUGEINT)) AS sv3,
        |        count(*) AS n_events
        |      FROM events GROUP BY 1)
        |WHERE sv3 >= CAST(n_events AS HUGEINT) * 45000
        |  AND sv3 <= CAST(n_events AS HUGEINT) * 52000
        |ORDER BY score, hour""".stripMargin)),
    QueryDef("q2_sensitivity_skeleton", Relational.q2SensitivitySkeleton _, Some(
      """SELECT CAST(v AS REAL) AS varied_value,
        |  CAST(v AS DOUBLE) * 0.02 + CAST(CAST(17.0 AS REAL) AS DOUBLE) * 0.5
        |    + CAST(CAST(2.5 AS REAL) AS DOUBLE) * 1.5 AS score
        |FROM (VALUES (1.0), (2.0), (3.0), (4.0), (5.0)) t(v)
        |ORDER BY varied_value""".stripMargin)),
    // §2.1 sources / sinks / stream shapes
    QueryDef("s1_scan_project", Relational.s1ScanProject _, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("s2_limit_ordered", Relational.s2LimitOrdered _, Some(
      """SELECT event_id, user_id, value FROM events
        |ORDER BY event_id LIMIT 100""".stripMargin)),
    QueryDef("s3_coerce_to_float", Relational.s3CoerceToFloat _, Some(
      """SELECT event_id,
        |  coalesce(TRY_CAST(event_type AS REAL), CAST(0.0 AS REAL)) AS et_coerced,
        |  coalesce(TRY_CAST(value AS REAL), CAST(0.0 AS REAL)) AS value_f
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("s4_json_encode", Relational.s4JsonEncode _, Some(
      """SELECT event_id,
        |  '{"event_id":' || CAST(event_id AS VARCHAR) ||
        |  ',"user_id":' || CAST(user_id AS VARCHAR) ||
        |  ',"event_type":"' || event_type || '"}' AS payload
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("s6_json_decode", Relational.s6JsonDecode _, Some(
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("s7_malformed_filter", Relational.s7MalformedFilter _, Some(
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k
        |FROM events
        |WHERE CAST(props->>'$.k' AS INT) IS NOT NULL
        |  AND CAST(props->>'$.k' AS INT) > 50
        |ORDER BY event_id""".stripMargin)),
    QueryDef("s9_batch_assign", Relational.s9BatchAssign(_, _), Some(
      """SELECT CAST(floor((rn - 1) / 1000) AS INT) AS batch_id,
        |  count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (SELECT event_id, row_number() OVER (ORDER BY event_id) AS rn
        |      FROM events)
        |GROUP BY 1 ORDER BY batch_id""".stripMargin)),
    QueryDef("s11_multiscan_union", Relational.s11MultiScanUnion _, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber = 1
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber = 2
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("s12_inmem_source", Relational.s12InMemSource _, Some(
      """SELECT CAST(row_id AS INT) AS row_id, CAST(distance AS REAL) AS distance,
        |  CAST(temp AS REAL) AS temp,
        |  CAST(CAST(distance AS REAL) AS DOUBLE) * 0.01
        |    + CAST(CAST(temp AS REAL) AS DOUBLE) AS score
        |FROM (VALUES (1, 1200.5, 17.0), (2, 450.0, 21.5), (3, 80.25, 3.0))
        |  t(row_id, distance, temp)
        |ORDER BY row_id""".stripMargin)),
    // §2.2 transforms
    QueryDef("t1_bulk_cast", Relational.t1BulkCast _, Some(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS REAL) AS quantity_f,
        |  CAST(l_extendedprice AS REAL) AS extendedprice_f,
        |  CAST(l_discount AS REAL) AS discount_f,
        |  CAST(l_tax AS REAL) AS tax_f
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("t2_null_drop", Relational.t2NullDrop _, Some(
      """SELECT event_id,
        |  CASE WHEN value < 1.0 THEN NULL ELSE value END AS label
        |FROM events
        |WHERE CASE WHEN value < 1.0 THEN NULL ELSE value END IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    QueryDef("t3_projection", Relational.t3Projection _, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("t5_validate_row", Relational.t5ValidateRow _, Some(
      """SELECT CAST(row_id AS INT) AS row_id,
        |  coalesce(distance, CAST(0.0 AS REAL)) AS distance_v,
        |  coalesce(temp, CAST(0.0 AS REAL)) AS temp_v,
        |  coalesce(wind, CAST(0.0 AS REAL)) AS wind_v,
        |  distance IS NULL AS distance_missing,
        |  temp IS NULL AS temp_missing,
        |  wind IS NULL AS wind_missing
        |FROM (VALUES
        |  (1, CAST(1200.5 AS REAL), CAST(NULL AS REAL), CAST(3.2 AS REAL)),
        |  (2, CAST(NULL AS REAL), CAST(21.0 AS REAL), CAST(NULL AS REAL)))
        |  t(row_id, distance, temp, wind)
        |ORDER BY row_id""".stripMargin)),
    QueryDef("t6_between_filter", Relational.t6BetweenFilter _, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity BETWEEN 10.0 AND 20.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("t7_column_override", Relational.t7ColumnOverride _, Some(
      """SELECT event_id, value, CAST(42.5 AS DOUBLE) AS value_overridden
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("t8_grid_substitution", Relational.t8GridSubstitution _, Some(
      """SELECT CAST(h AS INT) AS hour, CAST(h AS REAL) AS phour,
        |  CAST(30.0 AS REAL) AS pmin, CAST(1200.5 AS REAL) AS distance,
        |  CAST(17.0 AS REAL) AS temp
        |FROM generate_series(0, 23) t(h)
        |ORDER BY hour""".stripMargin)),
    QueryDef("t9_domain_filter", Relational.t9DomainFilter _, Some(
      """SELECT CAST(h AS INT) AS hour
        |FROM (VALUES (-3), (0), (7), (12), (18), (23), (24), (99)) t(h)
        |WHERE h BETWEEN 0 AND 23
        |ORDER BY hour""".stripMargin)),
    // §2.3 aggregations
    // the impute mean rides the ×10³ grid: exact HUGEINT sum, two-
    // division double epilogue (a streaming avg(double) drifted at x10)
    QueryDef("a1_mean_impute", Relational.a1MeanImpute _, Some(
      """WITH n AS (SELECT event_id,
        |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS value_n
        |  FROM events),
        |m AS (SELECT CAST(sum(CAST(round(value_n * 1000.0) AS BIGINT))
        |      AS DOUBLE)
        |    / CAST(count(value_n) AS DOUBLE) / 1000.0 AS mean_value
        |  FROM n)
        |SELECT event_id,
        |  coalesce(value_n, (SELECT mean_value FROM m)) AS value_imputed
        |FROM n ORDER BY event_id""".stripMargin)),
    QueryDef("a2_scalar_agg", Relational.a2ScalarAgg _, Some(
      """SELECT CAST(avg(value) AS REAL) AS mean_value, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users
        |FROM events""".stripMargin)),
    QueryDef("agg_group_stats", Relational.aggGroupStats _, Some(
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(sum(value) AS REAL) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("agg_rollup", Relational.aggRollup _, Some(
      """SELECT event_type, CAST(user_bucket AS INT) AS user_bucket,
        |  count(*) AS n, CAST(sum(value) AS REAL) AS sum_value
        |FROM (SELECT event_type, user_id % 3 AS user_bucket, value FROM events)
        |GROUP BY ROLLUP (event_type, user_bucket)
        |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin)),
    QueryDef("agg_salted_skew", Relational.aggSaltedSkew(_, _), Some(
      """SELECT user_id, count(*) AS n, CAST(sum(value) AS REAL) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // skew-hardened JOIN (salt fact, replicate dim) — oracle-exact vs
    // the plain unsalted join
    QueryDef("join_salted_skew", Relational.joinSaltedSkew(_, _), Some(
      """SELECT n_name, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_c4
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    // bloom runtime-filter join (might_contain prune before the shuffle)
    QueryDef("join_bloom_prefilter", Relational.joinBloomPrefilter(_, _), Some(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_c4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("agg_pivot", Relational.aggPivot _, Some(
      """SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin)),
    QueryDef("udaf_weighted_avg", Relational.udafWeightedAvg _, Some(
      """SELECT event_type,
        |  CAST(sum(value * k) / sum(k) AS REAL) AS weighted_avg_value
        |FROM (SELECT event_type, value,
        |        CAST(props->>'$.k' AS DOUBLE) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // joins
    QueryDef("join_broadcast_dim", Relational.joinBroadcastDim _, Some(
      """SELECT p_brand,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS DOUBLE) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    QueryDef("join_shuffle_fact", Relational.joinShuffleFact _, Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("join_star_3way", Relational.joinStar3Way _, Some(
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS HUGEINT)) AS DOUBLE)
        |    / 100.0 AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QueryDef("join_anti_unordered", Relational.joinAntiUnordered _, Some(
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin)),
    QueryDef("join_semi_active", Relational.joinSemiActive _, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("join_asof", Relational.joinAsof _, Some(
      """WITH p AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase'),
        |  e AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id,
        |  make_timestamp(epoch_ms(p.ts) * 1000) AS purchase_ts,
        |  p.value AS purchase_value
        |FROM e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("join_range_bands", Relational.joinRangeBands _, Some(
      """SELECT band, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events
        |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
        |      ('high', 150.0, 1000000000.0)) b(band, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin)),
    QueryDef("join_left_outer", Relational.joinLeftOuter _, Some(
      """SELECT p_partkey, count(l_orderkey) AS n_2001_items
        |FROM part LEFT JOIN (SELECT * FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '2001-01-01') li
        |  ON p_partkey = li.l_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin)),
    QueryDef("join_full_outer", Relational.joinFullOuter _, Some(
      """WITH early AS (SELECT o_custkey AS ck, count(*) AS n_early FROM orders
        |    WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey),
        |  late AS (SELECT o_custkey AS ck, count(*) AS n_late FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '2001-01-01' GROUP BY o_custkey)
        |SELECT coalesce(early.ck, late.ck) AS custkey,
        |  coalesce(n_early, 0) AS n_early, coalesce(n_late, 0) AS n_late
        |FROM early FULL JOIN late ON early.ck = late.ck
        |ORDER BY custkey""".stripMargin)),
    QueryDef("set_ops_multiset", Relational.setOpsMultiset _, Some(
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |  e AS (SELECT user_id FROM events WHERE event_type = 'error'),
        |  both_tags AS (
        |    SELECT user_id, 'intersect_all' AS tag
        |    FROM (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM e)
        |    UNION ALL
        |    SELECT user_id, 'except_all' AS tag
        |    FROM (SELECT user_id FROM p EXCEPT ALL SELECT user_id FROM e))
        |SELECT tag, user_id, count(*) AS multiplicity
        |FROM both_tags GROUP BY tag, user_id
        |ORDER BY tag, user_id""".stripMargin)),
    QueryDef("agg_percentiles", Relational.aggPercentiles _, Some(
      """SELECT event_type,
        |  CAST(quantile_cont(value, 0.25) AS REAL) AS p25,
        |  CAST(quantile_cont(value, 0.5) AS REAL) AS p50,
        |  CAST(quantile_cont(value, 0.75) AS REAL) AS p75,
        |  CAST(quantile_cont(value, 0.9) AS REAL) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // window functions
    QueryDef("window_topk_per_key", Relational.windowTopkPerKey _, Some(
      """SELECT event_type, CAST(rk AS INT) AS rk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin)),
    QueryDef("window_running_sum", Relational.windowRunningSum _, Some(
      """SELECT user_id, event_id, value,
        |  CAST(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("window_lag_lead", Relational.windowLagLead _, Some(
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  CAST(value - lag(value, 1) OVER w AS REAL) AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("window_hopping_agg", Relational.windowHoppingAgg _, Some(
      """WITH e AS (SELECT event_type,
        |    (epoch_ms(ts) // 10800000) * 10800 AS s3 FROM events)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' + ws * INTERVAL 1 SECOND
        |    AS window_start,
        |  event_type, count(*) AS n
        |FROM (SELECT event_type, unnest([s3 - 10800, s3]) AS ws FROM e)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    QueryDef("window_session_agg", Relational.windowSessionAgg _, Some(
      """WITH o AS (SELECT user_id, ts, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev >= 1800000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS island FROM o)
        |SELECT user_id,
        |  make_timestamp(min(ms) * 1000) AS session_start,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id, island
        |ORDER BY user_id, session_start""".stripMargin)),
    // exact HUGEINT moments on the ×10³ value grid (the builtin
    // streaming covar/corr accumulators are engine-order-dependent and
    // diverged at x10); median is selection-based and stays raw
    QueryDef("agg_stats_advanced", Relational.aggStatsAdvanced _, Some(
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 1000.0) AS HUGEINT) AS v3,
        |    CAST(user_id AS HUGEINT) AS u, value
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(v3) AS sv, sum(v3 * v3) AS svv,
        |    sum(u) AS su, sum(u * u) AS suu, sum(u * v3) AS suv,
        |    CAST(median(value) AS REAL) AS median_value
        |  FROM e GROUP BY event_type
        |)
        |SELECT event_type,
        |  CAST(sqrt(CAST(n * svv - sv * sv AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e6)
        |    AS REAL) AS sd_value,
        |  CAST(CAST(n * svv - sv * sv AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e6
        |    AS REAL) AS var_value,
        |  median_value,
        |  CAST(CAST(n * suv - su * sv AS DOUBLE)
        |    / (sqrt(CAST(n * svv - sv * sv AS DOUBLE))
        |      * sqrt(CAST(n * suu - su * su AS DOUBLE))) AS REAL)
        |    AS corr_value_user,
        |  CAST(CAST(n * suv - su * sv AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e3
        |    AS REAL) AS covar_value_user
        |FROM m ORDER BY event_type""".stripMargin)),
    // §2.4 sorts / limits
    QueryDef("o1_sort_importance_desc", Relational.o1SortImportanceDesc _, Some(
      """SELECT event_type, avg(value) AS importance
        |FROM events GROUP BY event_type
        |ORDER BY importance DESC, event_type""".stripMargin)),
    QueryDef("o2_topk_asc", Relational.o2TopkAsc _, Some(
      """SELECT event_id, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY value, event_id LIMIT 20""".stripMargin)),
    // set ops
    QueryDef("set_ops_users", Relational.setOpsUsers _, Some(
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT user_id FROM events WHERE event_type = 'error')
        |SELECT user_id, 'both' AS tag FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
        |UNION ALL
        |SELECT user_id, 'purchase_only' AS tag FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
        |ORDER BY tag, user_id""".stripMargin)),
    // §2.5 scalar functions
    QueryDef("f_string_fns", ScalarFunctions.fStringFns _, Some(
      """SELECT doc_id,
        |  upper(lang) AS lang_upper,
        |  substring(text, 1, 20) AS text_head,
        |  CAST(length(text) AS INT) AS text_len,
        |  source || ':' || lang AS source_lang,
        |  regexp_replace(text, '\s+', ' ', 'g') AS text_norm_head,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_space
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("f_string_advanced", ScalarFunctions.fStringAdvanced _, Some(
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS brand_lpad,
        |  rpad(p_brand, 12, '-') AS brand_rpad,
        |  reverse(p_name) AS name_rev,
        |  CAST(strpos(p_type, 'a') AS INT) AS type_a_pos,
        |  translate(p_brand, 'B#', 'b_') AS brand_translated,
        |  split_part(p_type, ' ', 1) AS type_first_word,
        |  repeat(p_brand, 2) AS brand_twice
        |FROM part ORDER BY p_partkey""".stripMargin)),
    QueryDef("f_regex_fns", ScalarFunctions.fRegexFns _, Some(
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_extracted,
        |  CAST(len(regexp_extract_all(event_type, '[aeiou]')) AS INT) AS n_vowels,
        |  regexp_matches(event_type, '^(error|view)$') AS is_err_or_view
        |FROM events
        |WHERE regexp_matches(props, '"k": \d+')
        |ORDER BY event_id""".stripMargin)),
    QueryDef("f_null_semantics", ScalarFunctions.fNullSemantics _, Some(
      """SELECT event_id,
        |  nullif(event_type, 'error') AS type_or_null,
        |  coalesce(CASE WHEN value < 1.0 THEN NULL ELSE value END, -1.0)
        |    AS value_defaulted,
        |  (CASE WHEN value < 1.0 THEN NULL ELSE value END)
        |    IS NOT DISTINCT FROM NULL AS value_is_null,
        |  (CASE WHEN value < 1.0 THEN NULL ELSE value END) IS NOT NULL
        |    AS value_present
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("f_date_fns", ScalarFunctions.fDateFns _, Some(
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS order_day,
        |  CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS order_dow,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
        |    AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("f_date_arith", ScalarFunctions.fDateArith _, Some(
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1m,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("f_math_fns", ScalarFunctions.fMathFns _, Some(
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS qty_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  pow(l_discount, 2) AS disc_sq,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("f_array_fns", ScalarFunctions.fArrayFns _, Some(
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  embedding[1] AS first_component,
        |  sqrt(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS l2_norm,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
        |  len(list_filter(embedding, x -> x > CAST(0.3 AS REAL))) > 0 AS has_large,
        |  list_sort(embedding)[1] AS min_component,
        |  list_sort(embedding)[-1] AS max_component
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // second-wave relational coverage (all oracle-backed)
    QueryDef("agg_cube", Relational.aggCube _, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n_rows, CAST(sum(l_quantity) AS REAL) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("agg_count_distinct", Relational.aggCountDistinct _, Some(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT CAST(l_partkey AS VARCHAR) || ':'
        |    || CAST(l_suppkey AS VARCHAR)) AS n_part_supp,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("agg_min_max_by", Relational.aggMinMaxBy _, Some(
      """SELECT event_type,
        |  arg_max(user_id, event_id) AS latest_user,
        |  arg_min(user_id, event_id) AS first_user,
        |  arg_max(value, event_id) AS latest_value,
        |  max(event_id) AS max_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("agg_string_concat", Relational.aggStringConcat _, Some(
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS statuses,
        |  count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("agg_conditional", Relational.aggConditional _, Some(
      """SELECT event_type,
        |  CAST(count_if(value > 50) AS BIGINT) AS n_gt50,
        |  bool_and(value >= 0) AS all_nonneg,
        |  bool_or(value > 99) AS any_gt99,
        |  CAST(sum(CASE WHEN value > 50 THEN value ELSE 0.0 END) AS REAL)
        |    AS sum_gt50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("window_ranking", Relational.windowRanking _, Some(
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS tile4,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("window_frames", Relational.windowFrames _, Some(
      """SELECT event_id, user_id,
        |  CAST(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS REAL) AS sum_3,
        |  CAST(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS REAL) AS avg_next3,
        |  first_value(value) OVER wa AS first_value,
        |  last_value(value) OVER wa AS last_value,
        |  nth_value(value, 2) OVER wa AS second_value
        |FROM events
        |WINDOW wa AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin)),
    QueryDef("join_null_safe", Relational.joinNullSafe _, Some(
      """WITH n AS (SELECT nullif(n_regionkey, 2) AS k, count(*) AS n_nations
        |  FROM nation GROUP BY nullif(n_regionkey, 2)),
        |r AS (SELECT nullif(r_regionkey, 2) AS rk, r_name FROM region)
        |SELECT n.k, r.r_name, n.n_nations
        |FROM n LEFT JOIN r ON n.k IS NOT DISTINCT FROM r.rk
        |ORDER BY n.k, r.r_name""".stripMargin)),
    QueryDef("join_cross_small", Relational.joinCrossSmall _, Some(
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin)),
    QueryDef("subq_correlated", Relational.subqCorrelated _, Some(
      """SELECT c_custkey, c_name,
        |  (SELECT max(o_totalprice) FROM orders o
        |    WHERE o.o_custkey = c.c_custkey) AS max_total,
        |  EXISTS(SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderstatus = 'F') AS has_f
        |FROM customer c
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("f_map_struct", Relational.fMapStruct _, Some(
      """SELECT o_orderkey,
        |  CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
        |    WHEN 'P' THEN 3 END AS status_code,
        |  o_orderpriority AS prio_via_struct,
        |  o_orderstatus AS status_key
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("f_json_nested", Relational.fJsonNested _, Some(
      """SELECT o_orderkey, o_orderstatus AS status_rt,
        |  o_orderpriority AS prio_rt, o_custkey AS custkey_rt,
        |  CAST(1 AS INT) AS n_ks
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("unpivot_metrics", Relational.unpivotMetrics _, Some(
      """SELECT l_returnflag, 'sum_qty' AS metric,
        |  CAST(sum(l_quantity) AS REAL) AS value
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', CAST(sum(l_discount) AS REAL)
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'n_rows', CAST(count(*) AS REAL)
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag, metric""".stripMargin)),
    QueryDef("o3_limit_offset", Relational.o3LimitOffset _, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 10""".stripMargin)),
    QueryDef("lateral_explode", Relational.lateralExplode _, Some(
      """SELECT doc_id, CAST(ii.i - 1 AS INT) AS pos, d.toks[ii.i] AS tok
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 50) d,
        |  LATERAL (SELECT unnest(generate_series(1, len(d.toks))) AS i) ii
        |ORDER BY doc_id, pos""".stripMargin)),
    QueryDef("agg_bitwise", Relational.aggBitwise _, Some(
      """SELECT event_type,
        |  bit_and(user_id) AS uid_and,
        |  bit_or(user_id) AS uid_or,
        |  bit_xor(user_id) AS uid_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("f_try_arith", ScalarFunctions.fTryArith _, Some(
      """SELECT event_id,
        |  value / nullif(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT),
        |    0) AS value_per_k,
        |  1.0 / nullif(value - value, 0.0) AS div_zero_null,
        |  event_id + 1 AS id_plus_1,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)
        |    * CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_sq
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("f_array_advanced", ScalarFunctions.fArrayAdvanced _, Some(
      """SELECT vec_id,
        |  CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS INT)
        |    AS n_except,
        |  CAST(list_position(a, 3) AS INT) AS pos_of_3,
        |  CAST(len(list_filter(a, x -> x != 2)) AS INT) AS n_removed,
        |  len(list_intersect(a, b)) > 0 AS overlaps,
        |  CAST(len(a) + len(b) AS INT) AS n_flat,
        |  CAST(3 AS INT) AS n_repeat,
        |  CAST(len(list_distinct(list_concat(a, b))) AS INT)
        |    AS n_union_distinct
        |FROM (SELECT vec_id,
        |    generate_series(1, CAST(vec_id % 5 + 3 AS INT)) AS a,
        |    generate_series(2, CAST(vec_id % 7 + 2 AS INT)) AS b
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin)),
    QueryDef("f_ts_fns", ScalarFunctions.fTsFns _, Some(
      """SELECT o_orderkey,
        |  CAST(quarter(o_orderdate) AS INT) AS order_quarter,
        |  CAST(dayofyear(o_orderdate) AS INT) AS order_doy,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
        |  CAST(o_orderdate AS DATE) - 7 AS minus_7d,
        |  epoch_ms(o_orderdate) // 1000 AS epoch_s,
        |  make_date(CAST(year(o_orderdate) AS INT),
        |    CAST(month(o_orderdate) AS INT), 1) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("f_bit_fns", ScalarFunctions.fBitFns _, Some(
      """SELECT event_id,
        |  user_id << 3 AS uid_shl3,
        |  event_id >> 2 AS eid_shr2,
        |  user_id & 255 AS uid_low8,
        |  user_id | 256 AS uid_or,
        |  xor(user_id, event_id) AS uid_xor_eid,
        |  CAST(bit_count(user_id) AS INT) AS uid_bits
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("typed_pipeline", Relational.typedPipeline _, Some(
      """SELECT event_type, count(*) AS n_high, max(event_id) AS max_event_id,
        |  CAST(count(DISTINCT user_id) AS INT) AS n_users
        |FROM events WHERE value > 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("window_range_frame", Relational.windowRangeFrame _, Some(
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_trailing_10m,
        |  CAST(sum(value) OVER w AS REAL) AS sum_trailing_10m
        |FROM (SELECT *, epoch_ms(ts) // 1000 AS sec FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),
    QueryDef("join_skew_salted", Relational.joinSkewSalted(_, _), Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(value) AS REAL) AS sum_value
        |FROM (SELECT CASE WHEN event_id % 10 < 7 THEN 1
        |        ELSE user_id END AS k, value
        |      FROM events) f
        |JOIN customer ON f.k = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // approximate sketches, reshaped for the oracle: exact values plus
    // boolean within-5% contract columns (Relational.aggApproxSketch)
    // — hash-exact in CORRECTNESS, not part of the rows-only allowlist
    QueryDef("agg_approx_sketch", Relational.aggApproxSketch _, Some(
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_users_ok,
        |  CAST(quantile_cont(value, 0.5) AS REAL) AS exact_p50,
        |  TRUE AS approx_p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("agg_grouping_sets", Relational.aggGroupingSets _, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(l_extendedprice) AS REAL) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("o4_sort_nulls", Relational.o4SortNulls _, Some(
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio_n,
        |  o_orderstatus
        |FROM orders
        |ORDER BY prio_n ASC NULLS FIRST, o_orderstatus DESC NULLS LAST,
        |  o_orderkey
        |LIMIT 200""".stripMargin)),
    QueryDef("t10_distinct", Relational.t10Distinct _, Some(
      """SELECT DISTINCT lang, source FROM documents
        |ORDER BY lang, source""".stripMargin)),
    QueryDef("agg_having", Relational.aggHaving _, Some(
      """SELECT o_custkey, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 3 ORDER BY o_custkey""".stripMargin)),
    QueryDef("join_self_nextline", Relational.joinSelfNextline _, Some(
      """SELECT a.l_orderkey, a.l_linenumber, a.l_quantity,
        |  b.l_quantity AS next_quantity
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        |  AND b.l_linenumber = a.l_linenumber + 1
        |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin)),
    QueryDef("f_url_fns", ScalarFunctions.fUrlFns _, Some(
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://ex' || CAST(doc_id AS VARCHAR) || '.org/p/' || lang
        |      || '?q=' || source AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query
        |FROM u ORDER BY doc_id""".stripMargin)),
    QueryDef("window_ratio_to_report", Relational.windowRatioToReport _, Some(
      """SELECT event_id, event_type,
        |  CAST(value / CAST(CAST(sum(value) OVER
        |    (PARTITION BY event_type) AS REAL) AS DOUBLE) AS REAL) AS share
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("set_ops_union_by_name", Relational.setOpsUnionByName _, Some(
      """SELECT r_name AS name, 'region' AS kind,
        |  r_regionkey AS region_key, CAST(NULL AS INT) AS nation_key
        |FROM region
        |UNION ALL
        |SELECT n_name, 'nation', CAST(NULL AS INT), n_nationkey
        |FROM nation
        |ORDER BY kind, name""".stripMargin)),
    QueryDef("window_gaps_islands", Relational.windowGapsIslands _, Some(
      """WITH g AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      - row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY event_id) AS grp
        |  FROM events
        |), runs AS (
        |  SELECT user_id, event_type, grp, count(*) AS run_len
        |  FROM g GROUP BY user_id, event_type, grp
        |)
        |SELECT user_id, event_type, count(*) AS n_islands,
        |  max(run_len) AS longest_run
        |FROM runs GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),
    // round 3: layout-aware joins, merge, windows, sampling, fuzzy match
    // round 3 additions
    QueryDef("join_bucketed", Relational.joinBucketed _, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(o_totalprice) AS REAL) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QueryDef("window_distribution", Relational.windowDistribution _, Some(
      """SELECT l_orderkey, l_linenumber,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(3) OVER w AS INT) AS tile,
        |  nth_value(l_quantity, 2) OVER wf AS second_qty,
        |  last_value(l_quantity) OVER wf AS last_qty,
        |  l_partkey, l_suppkey
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity),
        |  wf AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),
    QueryDef("f_fuzzy_match", Relational.fuzzyNameMatch(_, _), Some(
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_size, p_name,
        |    CAST(floor(strlen(p_name) / 8) AS BIGINT) AS band
        |  FROM part
        |), l AS (
        |  SELECT p.*, unnest([band, band + 1]) AS probe FROM p
        |), cand AS (
        |  SELECT DISTINCT
        |    least(l.p_partkey, r.p_partkey) AS part_a,
        |    greatest(l.p_partkey, r.p_partkey) AS part_b
        |  FROM l JOIN p r
        |    ON l.p_brand = r.p_brand AND l.p_size = r.p_size
        |    AND l.probe = r.band AND l.p_partkey <> r.p_partkey
        |)
        |SELECT c.part_a, c.part_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM cand c
        |JOIN p a ON a.p_partkey = c.part_a
        |JOIN p b ON b.p_partkey = c.part_b
        |WHERE levenshtein(a.p_name, b.p_name) <= 18
        |ORDER BY part_a, part_b""".stripMargin)),
    QueryDef("window_funnel", Relational.windowFunnel(_, _), Some(
      """WITH ev AS (SELECT user_id, event_type, ts FROM events),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT ev.user_id, min(ts) AS t2 FROM ev JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t1
        |         AND ts <= t1 + INTERVAL 30 MINUTE GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id, min(ts) AS t3 FROM ev JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t2
        |         AND ts <= t2 + INTERVAL 30 MINUTE GROUP BY ev.user_id)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS funnel_stage,
        |  count(*) AS n_users
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |LEFT JOIN t1 USING (user_id)
        |LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)
        |GROUP BY 1 ORDER BY funnel_stage""".stripMargin)),
    QueryDef("window_fill_forward", Relational.windowFillForward _, Some(
      """SELECT event_id, user_id,
        |  CASE WHEN value > 50 THEN value END AS good,
        |  last_value(CASE WHEN value > 50 THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("window_cumulative_distinct", Relational.windowCumulativeDistinct(_, _), Some(
      """WITH marked AS (
        |  SELECT event_id, event_type, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS ff
        |  FROM events
        |), cum AS (
        |  SELECT event_id, event_type,
        |    CAST(sum(ff) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_distinct_users
        |  FROM marked
        |)
        |SELECT event_id, event_type, cum_distinct_users FROM cum
        |WHERE event_id < 3000 ORDER BY event_id""".stripMargin)),
    QueryDef("window_rolling_median", Relational.rollingMedian(_, _), Some(
      """SELECT event_id, user_id, value,
        |  CAST(quantile_cont(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS REAL)
        |    AS rolling_median
        |FROM events WHERE user_id < 40 ORDER BY event_id""".stripMargin)),
    QueryDef("window_ewma", Relational.windowEwma(_, _), Some(
      """WITH f AS (
        |  SELECT event_id, user_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame
        |  FROM events WHERE user_id < 40
        |)
        |SELECT event_id, user_id, value,
        |  CAST((SELECT sum(frame[i] * pow(0.5, len(frame) - i))
        |      FROM (SELECT unnest(generate_series(1, len(frame))) AS i))
        |    / (2.0 - pow(0.5, len(frame) - 1)) AS REAL) AS ewma
        |FROM f ORDER BY event_id""".stripMargin)),
    QueryDef("agg_sketch_merge", Relational.aggSketchMerge _, Some(
      """WITH pn AS (
        |  SELECT n.n_regionkey, c.c_nationkey,
        |    count(DISTINCT c.c_custkey) AS n_exact
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2
        |)
        |SELECT r.r_name, count(*) AS n_nations,
        |  CAST(sum(n_exact) AS BIGINT) AS n_customers,
        |  TRUE AS est_within_8pct
        |FROM pn JOIN region r ON r.r_regionkey = pn.n_regionkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)),
    QueryDef("agg_mode_per_key", Relational.aggModePerKey(_, _), Some(
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events
        |  WHERE user_id < 200 GROUP BY 1, 2
        |), r AS (
        |  SELECT user_id, event_type, n,
        |    count(*) OVER (PARTITION BY user_id) AS n_types,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS rn
        |  FROM c
        |)
        |SELECT user_id, n_types, event_type AS mode_type, n AS mode_n
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    QueryDef("agg_decimal_exact", Relational.aggDecimalExact _, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DECIMAL(28,2)) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_net
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("agg_countmin_freq", Relational.aggCountminFreq(_, _), Some(
      """WITH ev AS (SELECT user_id FROM events),
        |cells AS (
        |  SELECT r, CAST('0x' || substr(md5('cm' || r || ':'
        |      || user_id), 1, 15) AS BIGINT) % 256 AS b,
        |    count(*) AS cnt
        |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS r) rr
        |  GROUP BY 1, 2
        |), exact AS (
        |  SELECT user_id, count(*) AS n FROM ev GROUP BY 1
        |  ORDER BY n DESC, user_id LIMIT 10
        |), probes AS (
        |  SELECT user_id, n, r, CAST('0x' || substr(md5('cm' || r || ':'
        |      || user_id), 1, 15) AS BIGINT) % 256 AS b
        |  FROM exact, (SELECT unnest(generate_series(0, 3)) AS r) rr
        |)
        |SELECT user_id, n, min(cnt) AS cm_est,
        |  CAST(min(cnt) - n AS BIGINT) AS overestimate,
        |  min(cnt) >= n AS est_ge_exact
        |FROM probes JOIN cells USING (r, b)
        |GROUP BY user_id, n
        |ORDER BY n DESC, user_id""".stripMargin)),
    QueryDef("agg_linreg_by_group", Relational.aggLinregByGroup _, Some(
      """WITH a AS (
        |  SELECT l_returnflag AS rf, CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(l_quantity AS DOUBLE)) AS sx,
        |    sum(CAST(l_extendedprice AS DOUBLE)) AS sy,
        |    sum(CAST(l_quantity AS DOUBLE)
        |      * CAST(l_extendedprice AS DOUBLE)) AS sxy,
        |    sum(CAST(l_quantity AS DOUBLE)
        |      * CAST(l_quantity AS DOUBLE)) AS sxx,
        |    sum(CAST(l_extendedprice AS DOUBLE)
        |      * CAST(l_extendedprice AS DOUBLE)) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT rf, CAST(n AS BIGINT) AS n,
        |  CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS REAL) AS slope,
        |  CAST((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    AS REAL) AS intercept,
        |  CAST(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS REAL) AS r2
        |FROM a ORDER BY rf""".stripMargin)),
    QueryDef("join_asof_nearest", Relational.joinAsofNearest _, Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('purchase', 'error')
        |), n AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'error' THEN ts END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_err,
        |    first_value(CASE WHEN event_type = 'error' THEN ts END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_err
        |  FROM e
        |), p AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_err IS NULL AND next_err IS NULL
        |        THEN NULL
        |      WHEN next_err IS NULL THEN prev_err
        |      WHEN prev_err IS NULL THEN next_err
        |      WHEN epoch_us(ts) - epoch_us(prev_err)
        |          <= epoch_us(next_err) - epoch_us(ts) THEN prev_err
        |      ELSE next_err END AS nearest_err_ts
        |  FROM n WHERE event_type = 'purchase'
        |)
        |SELECT user_id, event_id, ts, nearest_err_ts,
        |  CAST(epoch_us(nearest_err_ts) - epoch_us(ts) AS BIGINT)
        |    AS delta_us
        |FROM p ORDER BY user_id, event_id""".stripMargin)),
    // frame lists + explicit sequential folds on BOTH sides (the ewma
    // discipline): the closed-form slope cancels catastrophically at
    // epoch-hour magnitudes, so only bit-identical op order agrees
    QueryDef("window_rolling_slope", Relational.windowRollingSlope(_, _), Some(
      """WITH f AS (
        |  SELECT event_id, user_id,
        |    list(CAST(epoch_us(ts) AS DOUBLE) / 3600000000.0)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fx,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fy
        |  FROM events WHERE user_id < 40
        |), s AS (
        |  SELECT event_id, user_id, CAST(len(fx) AS DOUBLE) AS n,
        |    (SELECT sum(fx[i]) FROM (SELECT unnest(
        |      generate_series(1, len(fx))) AS i)) AS sx,
        |    (SELECT sum(fy[i]) FROM (SELECT unnest(
        |      generate_series(1, len(fy))) AS i)) AS sy,
        |    (SELECT sum(fx[i] * fy[i]) FROM (SELECT unnest(
        |      generate_series(1, len(fx))) AS i)) AS sxy,
        |    (SELECT sum(fx[i] * fx[i]) FROM (SELECT unnest(
        |      generate_series(1, len(fx))) AS i)) AS sxx
        |  FROM f
        |)
        |SELECT event_id, user_id, CAST(n AS BIGINT) AS n_frame,
        |  CAST(CASE WHEN n * sxx - sx * sx <> 0.0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
        |    ELSE NULL END AS REAL) AS slope_per_hour
        |FROM s ORDER BY event_id""".stripMargin)),
    QueryDef("window_drawdown", Relational.windowDrawdown(_, _), Some(
      """SELECT event_id, user_id, CAST(value AS REAL) AS value,
        |  CAST(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS REAL) AS peak,
        |  CAST(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) - value AS REAL) AS drawdown
        |FROM events WHERE user_id < 100 ORDER BY event_id""".stripMargin)),
    QueryDef("agg_pareto_concentration", Relational.aggParetoConcentration _, Some(
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY l_partkey
        |), r AS (
        |  SELECT l_partkey, cents,
        |    row_number() OVER (ORDER BY cents DESC, l_partkey) AS rk,
        |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM pp
        |), t AS (
        |  SELECT CAST(sum(cents) AS BIGINT) AS t, count(*) AS p FROM pp
        |)
        |SELECT CAST(t.p AS BIGINT) AS n_parts,
        |  CAST(sum(CASE WHEN (cum - cents) * 10 < t.t * 8
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_80pct,
        |  CAST(sum(CASE WHEN rk <= ceil(CAST(t.p AS DOUBLE) / 10.0)
        |      THEN cents ELSE 0 END) AS DOUBLE) / CAST(t.t AS DOUBLE)
        |    AS top_decile_share
        |FROM r CROSS JOIN t GROUP BY t.t, t.p""".stripMargin)),
    QueryDef("join_asof_tolerance", Relational.joinAsofTolerance(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('purchase', 'error')
        |), n AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'error' THEN ts END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_err
        |  FROM e
        |)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(prev_err) <= 3600000000
        |    THEN prev_err END AS matched_err_ts,
        |  CASE WHEN epoch_us(ts) - epoch_us(prev_err) <= 3600000000
        |    THEN CAST(epoch_us(ts) - epoch_us(prev_err) AS BIGINT) END
        |    AS gap_us
        |FROM n WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("agg_gini_cents", Relational.aggGiniCents _, Some(
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY l_partkey
        |), r AS (
        |  SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents, l_partkey) AS BIGINT)
        |      AS i
        |  FROM pp
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |  (2.0 * CAST(sum(i * cents) AS DOUBLE))
        |    / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
        |  - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE)
        |    AS gini
        |FROM r""".stripMargin)),
    QueryDef("join_dpp_pruned", Relational.joinDppPruned _, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(value) AS REAL) AS sum_value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("agg_entropy_by_key", Relational.aggEntropyByKey _, Some(
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, CAST(sum(n) AS BIGINT) AS ntot,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM c GROUP BY user_id
        |)
        |SELECT c.user_id, t.n_types,
        |  CAST(sum(-((CAST(c.n AS DOUBLE) / CAST(t.ntot AS DOUBLE))
        |    * ln(CAST(c.n AS DOUBLE) / CAST(t.ntot AS DOUBLE)))) AS REAL)
        |    AS entropy_nats
        |FROM c JOIN t USING (user_id)
        |GROUP BY c.user_id, t.n_types ORDER BY user_id""".stripMargin)),
    QueryDef("agg_bitmap_distinct", Relational.aggBitmapDistinct _, Some(
      """SELECT n_regionkey,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers_exact,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers_bitmap,
        |  TRUE AS bitmap_is_exact
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),
    QueryDef("agg_weighted_median", Relational.aggWeightedMedian _, Some(
      """WITH li AS (
        |  SELECT l_returnflag AS rf, l_quantity AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS w_cents,
        |    l_orderkey, l_linenumber
        |  FROM lineitem
        |), c AS (
        |  SELECT rf, q, w_cents,
        |    sum(w_cents) OVER (PARTITION BY rf
        |      ORDER BY q, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w_cents) OVER (PARTITION BY rf) AS tot_cents
        |  FROM li
        |)
        |SELECT rf AS l_returnflag, min(q) AS weighted_median,
        |  CAST(min(tot_cents) AS BIGINT) AS total_cents
        |FROM c WHERE cum * 2 >= tot_cents
        |GROUP BY rf ORDER BY rf""".stripMargin)),
    // the oracle is the brute-force all-pairs truth over the DISTINCT
    // name vocabulary; matching it proves the FastSS deletion-
    // neighborhood candidate generation is complete
    QueryDef("join_edit_distance", Relational.joinEditDistance(_, _), Some(
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin)),
    QueryDef("f_variant_json", Relational.fVariantJson _, Some(
      """SELECT event_type,
        |  CAST(count(CAST(props->>'$.k' AS INT)) AS BIGINT) AS n_with_k,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(props->>'$.k' AS INT)) AS min_k,
        |  max(CAST(props->>'$.k' AS INT)) AS max_k,
        |  CAST(sum(CAST(props->>'$.k' AS INT)) AS DOUBLE)
        |    / CAST(count(CAST(props->>'$.k' AS INT)) AS DOUBLE) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("agg_histogram_quantiles", Relational.aggHistogramQuantiles(_, _), Some(
      """WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
        |ext AS (SELECT min(x) AS lo, max(x) AS hi FROM x),
        |c AS (
        |  SELECT least(greatest(
        |      CAST(floor((x - lo) * 32 / (hi - lo)) AS INT), 0), 31) AS bin,
        |    min(lo) AS lo, min(hi) AS hi, count(*) AS n
        |  FROM x, ext GROUP BY 1
        |), cum AS (
        |  SELECT bin, lo, hi, n,
        |    coalesce(sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM c
        |), tot AS (SELECT sum(n) AS total FROM c),
        |t AS (
        |  SELECT q, total,
        |    CASE q WHEN 'p50' THEN (total + 1) // 2
        |           WHEN 'p90' THEN (total * 9 + 9) // 10
        |           ELSE (total * 99 + 99) // 100 END AS k
        |  FROM (SELECT unnest(['p50', 'p90', 'p99']) AS q), tot
        |)
        |SELECT q, CAST(k AS BIGINT) AS k,
        |  CAST(lo + (hi - lo) / 32 * (CAST(bin AS DOUBLE)
        |    + CAST(k - cum_before AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS REAL) AS estimate
        |FROM t JOIN cum ON k > cum_before AND k <= cum_before + n
        |ORDER BY q""".stripMargin)),
    QueryDef("agg_dow_hour_grid", Relational.aggDowHourGrid _, Some(
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, user_id FROM events
        |)
        |SELECT CAST((us // 86400000000 + 4) % 7 AS INT) AS dow,
        |  CAST((us % 86400000000) // 3600000000 AS INT) AS hour,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin)),
    QueryDef("join_asof_forward", Relational.joinAsofForward(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('purchase', 'error')
        |), n AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(CASE WHEN event_type = 'purchase' THEN ts END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_buy
        |  FROM e
        |)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN epoch_us(next_buy) - epoch_us(ts) <= 3600000000
        |    THEN next_buy END AS matched_buy_ts,
        |  CASE WHEN epoch_us(next_buy) - epoch_us(ts) <= 3600000000
        |    THEN CAST(epoch_us(next_buy) - epoch_us(ts) AS BIGINT) END
        |    AS gap_us
        |FROM n WHERE event_type = 'error'
        |ORDER BY user_id, event_id""".stripMargin)),
    // Welch's two-sample t-test from exact scaled-integer moments
    QueryDef("agg_ttest_welch", Relational.aggTtestWelch _, Some(
      """WITH g AS (
        |  SELECT
        |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 1000.0) AS BIGINT) END) AS BIGINT)
        |      AS s1a,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 1000.0) AS BIGINT)
        |         * CAST(round(value * 1000.0) AS BIGINT) END) AS BIGINT)
        |      AS s2a,
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 1000.0) AS BIGINT) END) AS BIGINT)
        |      AS s1b,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 1000.0) AS BIGINT)
        |         * CAST(round(value * 1000.0) AS BIGINT) END) AS BIGINT)
        |      AS s2b
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), m AS (
        |  SELECT *, CAST(s1a AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s1b AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2
        |  FROM g
        |), v AS (
        |  SELECT *,
        |    ((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * m1)
        |      / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS se1,
        |    ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * m2)
        |      / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE) AS se2
        |  FROM m
        |)
        |SELECT n1, n2,
        |  CAST(m1 / 1000.0 AS REAL) AS mean1,
        |  CAST(m2 / 1000.0 AS REAL) AS mean2,
        |  CAST((m1 - m2) / sqrt(se1 + se2) AS REAL) AS t_stat,
        |  CAST((se1 + se2) * (se1 + se2)
        |    / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
        |     + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) AS REAL) AS df
        |FROM v""".stripMargin)),
    // exact distribution-shape moments via DECIMAL(38) power sums
    QueryDef("agg_skew_kurtosis", Relational.aggSkewKurtosis _, Some(
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(CAST(round(value * 1000.0) AS BIGINT) AS HUGEINT) AS x
        |  FROM events
        |), g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS s1, sum(x * x) AS s2,
        |    sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
        |  FROM x GROUP BY event_type
        |), d AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS p2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS p3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS p4
        |  FROM g
        |), c AS (
        |  SELECT event_type, n, m,
        |    p2 - m * m AS m2,
        |    p3 - 3.0 * m * p2 + 2.0 * m * m * m AS m3,
        |    p4 - 4.0 * m * p3 + 6.0 * m * m * p2
        |      - 3.0 * m * m * m * m AS m4
        |  FROM d
        |)
        |SELECT event_type, n,
        |  CAST(m / 1000.0 AS REAL) AS mean,
        |  CAST(m3 / sqrt(m2 * m2 * m2) AS REAL) AS skewness,
        |  CAST(m4 / (m2 * m2) - 3.0 AS REAL) AS kurtosis_excess
        |FROM c ORDER BY event_type""".stripMargin)),
    // Kadane best-streak per user (sorted-group sequential recurrence)
    // Kadane's recurrence as a recursive CTE on ×n-scaled integers
    QueryDef("window_max_subarray", Relational.windowMaxSubarray _, Some(
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v6
        |  FROM events
        |), st AS (
        |  SELECT user_id, CAST(sum(v6) AS BIGINT) AS s6,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY user_id
        |), x AS (
        |  SELECT e.user_id, e.event_id, e.us,
        |    st.n * e.v6 - st.s6 AS x, st.n,
        |    row_number() OVER (PARTITION BY e.user_id
        |      ORDER BY e.us, e.event_id) AS rn
        |  FROM ev e JOIN st ON e.user_id = st.user_id
        |), walk AS (
        |  SELECT user_id, rn, n,
        |    greatest(x, x) AS cur, x AS best
        |  FROM x WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.n,
        |    greatest(e.x, w.cur + e.x),
        |    greatest(w.best, greatest(e.x, w.cur + e.x))
        |  FROM x e JOIN walk w
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |)
        |SELECT user_id, n AS n_events,
        |  CAST(best AS BIGINT) AS best_scaled,
        |  CAST(CAST(best AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |    AS REAL) AS best_value
        |FROM walk WHERE rn = n ORDER BY user_id""".stripMargin)),
    // AMS F2 frequency-moment sketch beside its exact companion
    // 16 ±1-hashed counters over per-user counts; all-integer until the
    // final relative-error division
    QueryDef("agg_ams_f2", Relational.aggAmsF2(_, _), Some(
      """WITH f AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY user_id
        |), ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM f),
        |t AS (
        |  SELECT c.counter,
        |    CASE WHEN CAST('0x' || substr(md5(
        |      CAST(user_id AS VARCHAR) || ':ams:' ||
        |      CAST(c.counter AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
        |      THEN f ELSE -f END AS term
        |  FROM f, (SELECT unnest(generate_series(0, 15)) AS counter) c
        |), s AS (
        |  SELECT CAST(counter AS INT) AS counter,
        |    CAST(sum(term) AS BIGINT) AS s
        |  FROM t GROUP BY counter
        |)
        |SELECT counter, s, s * s AS s2, f2_exact,
        |  CAST(s * s - f2_exact AS DOUBLE) / CAST(f2_exact AS DOUBLE)
        |    AS rel_err
        |FROM s, ex ORDER BY counter""".stripMargin)),
    // rolling mean ± 2σ envelope with integer-exact breakout verdicts
    // BIGINT rolling sums (order-independent under segment-tree sliding
    // windows); breakout verdicts cross-multiplied onto exact integers
    QueryDef("window_bollinger_bands", Relational.windowBollingerBands(_, _), Some(
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, value,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events WHERE user_id < 50
        |), m AS (
        |  SELECT user_id, event_id, value, v3,
        |    CAST(count(*) OVER w AS BIGINT) AS n_win,
        |    CAST(sum(v3) OVER w AS BIGINT) AS s,
        |    CAST(sum(v3 * v3) OVER w AS BIGINT) AS q
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, event_id, value, n_win,
        |  CAST(s AS DOUBLE) / (CAST(n_win AS DOUBLE) * 1000.0) AS mean,
        |  sqrt(CAST(n_win * q - s * s AS DOUBLE)) / CAST(n_win AS DOUBLE)
        |    / 1000.0 AS sd,
        |  CASE WHEN n_win < 20 THEN FALSE
        |    ELSE v3 * n_win - s > 0 AND (v3 * n_win - s) * (v3 * n_win - s)
        |      > 4 * (n_win * q - s * s) END AS above_upper,
        |  CASE WHEN n_win < 20 THEN FALSE
        |    ELSE v3 * n_win - s < 0 AND (v3 * n_win - s) * (v3 * n_win - s)
        |      > 4 * (n_win * q - s * s) END AS below_lower
        |FROM m ORDER BY user_id, event_id""".stripMargin)),
    // rolling-median/MAD despiker — all picks, nothing to drift
    // median/MAD are picks from sorted ×10³ integers; DuckDB's vals[4]
    // is NULL when the frame has < 4 rows (user with ≤ 3 events), and
    // the Spark side when-guards its element_at to the same NULL
    QueryDef("window_hampel_filter", Relational.windowHampelFilter(_, _), Some(
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, value,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events WHERE user_id < 50
        |), m AS (
        |  SELECT user_id, event_id, value, v3,
        |    CAST(count(*) OVER w AS BIGINT) AS n_win,
        |    list_sort(list(v3) OVER w) AS vals
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), m2 AS (
        |  SELECT user_id, event_id, value, v3, n_win,
        |    vals[4] AS med3,
        |    (list_sort(list_transform(vals, x -> abs(x - vals[4]))))[4]
        |      AS mad3
        |  FROM m
        |), m3 AS (
        |  SELECT user_id, event_id, value,
        |    CAST(med3 AS DOUBLE) / 1000.0 AS median,
        |    CAST(mad3 AS DOUBLE) / 1000.0 AS mad,
        |    CASE WHEN n_win < 7 THEN FALSE
        |      ELSE CAST(abs(v3 - med3) AS DOUBLE)
        |        > 3.0 * 1.4826 * CAST(mad3 AS DOUBLE) END AS is_outlier
        |  FROM m2
        |)
        |SELECT user_id, event_id, value, median, mad, is_outlier,
        |  CASE WHEN is_outlier THEN median ELSE value END AS cleaned
        |FROM m3 ORDER BY user_id, event_id""".stripMargin)),
    // heavy-tail-robust mean (median of 16 hash-bucket means)
    // 16 hash-bucket means (exact-rational divisions), median of the
    // sorted 16 (average of the two middle picks)
    QueryDef("agg_median_of_means", Relational.aggMedianOfMeans(_, _), Some(
      """WITH ev AS (
        |  SELECT CAST(round(value * 1000.0) AS BIGINT) AS v3,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':mom'),
        |      1, 15) AS BIGINT) % 16 AS b
        |  FROM events
        |), means AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(v3) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * 1000.0) AS mean_b
        |  FROM ev GROUP BY b
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v3) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * 1000.0) AS plain_mean
        |  FROM ev
        |), ms AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |    list_sort(list(mean_b)) AS l
        |  FROM means
        |)
        |SELECT tot.n, ms.n_buckets,
        |  CASE WHEN len(l) % 2 = 0
        |    THEN (l[len(l) // 2] + l[len(l) // 2 + 1]) / 2.0
        |    ELSE l[(len(l) + 1) // 2] END AS median_of_means,
        |  tot.plain_mean
        |FROM ms, tot""".stripMargin)),
    // round 16: rolling autocorrelation regime monitor
    // the Bollinger integer-moment discipline on (x, lag(x)) pairs
    QueryDef("window_rolling_autocorr", Relational.windowRollingCorr(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 1000.0) AS BIGINT) AS x
        |  FROM events WHERE user_id < 50
        |), l AS (
        |  SELECT *, lag(x) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS y
        |  FROM e
        |), m AS (
        |  SELECT user_id, event_id,
        |    CAST(count(y) OVER w AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x END) OVER w
        |      AS BIGINT) AS sx,
        |    CAST(sum(y) OVER w AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x * x END) OVER w
        |      AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
        |  FROM l
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, event_id, np AS n_pairs,
        |  CASE WHEN np = 20 AND np * sxx - sx * sx > 0
        |      AND np * syy - sy * sy > 0
        |    THEN CAST(CAST(np * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(np * syy - sy * sy AS DOUBLE))) AS REAL)
        |    END AS rolling_autocorr
        |FROM m ORDER BY user_id, event_id""".stripMargin)),
    // round 16: decomposable inequality beside the Lorenz pair
    // cross-multiplied integer-fed x·ln(x) terms; REAL absorbs fold order
    QueryDef("agg_theil_index", Relational.aggTheilIndex _, Some(
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), t AS (
        |  SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s
        |  FROM o GROUP BY priority
        |), r AS (
        |  SELECT o.priority, t.n,
        |    CASE WHEN cents > 0 THEN
        |      (CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)
        |        / CAST(s AS DOUBLE))
        |      * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)
        |        / CAST(s AS DOUBLE))
        |      ELSE CAST(0.0 AS DOUBLE) END AS term
        |  FROM o JOIN t USING (priority)
        |)
        |SELECT priority, CAST(max(n) AS BIGINT) AS n_orders,
        |  CAST(sum(term) / CAST(max(n) AS DOUBLE) AS REAL) AS theil
        |FROM r GROUP BY priority ORDER BY priority""".stripMargin)),
  )
}
