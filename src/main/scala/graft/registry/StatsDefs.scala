package graft.registry

import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
  TimeSeries}

/** The stats family, 62 queries: `anomaly_`, `drift_`, `ts_`,
  * `privacy_`, `sample_`, `heavy_`, `histogram_`, `winsorized_`,
  * `skew_`, `profile_`, `dq_`. */
object StatsDefs {

  /** drift_psi_value oracle — shared with the streaming twin. */
  private[registry] lazy val psiTermsOracleSql: String =
    """WITH s AS (
        |  SELECT value,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS isa
        |  FROM events
        |), st AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax,
        |    CAST(sum(isa) AS BIGINT) AS na,
        |    CAST(sum(1 - isa) AS BIGINT) AS nb
        |  FROM s
        |), b AS (
        |  SELECT least(CAST(floor((value - st.vmin)
        |      / ((st.vmax - st.vmin) / 10.0)) AS BIGINT), 9) AS bin, isa
        |  FROM s CROSS JOIN st
        |), g AS (
        |  SELECT bin, CAST(sum(isa) AS BIGINT) AS ca,
        |    CAST(sum(1 - isa) AS BIGINT) AS cb
        |  FROM b GROUP BY bin
        |)
        |SELECT bin, ca, cb,
        |  CAST((greatest(CAST(ca AS DOUBLE) / CAST(st.na AS DOUBLE), 0.0001)
        |      - greatest(CAST(cb AS DOUBLE) / CAST(st.nb AS DOUBLE), 0.0001))
        |    * ln(greatest(CAST(ca AS DOUBLE) / CAST(st.na AS DOUBLE), 0.0001)
        |       / greatest(CAST(cb AS DOUBLE) / CAST(st.nb AS DOUBLE), 0.0001))
        |    AS REAL) AS psi_term
        |FROM g CROSS JOIN st ORDER BY bin""".stripMargin

  /** dq_benford_law oracle — shared with the streaming twin. */
  private[registry] lazy val benfordOracleSql: String =
    """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100.0)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100.0) AS BIGINT) > 0
        |), g AS (
        |  SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM c GROUP BY digit
        |), t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM g)
        |SELECT digit, n_orders,
        |  CAST(CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS REAL)
        |    AS observed_p,
        |  CAST(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)
        |    / CAST(digit AS DOUBLE)) AS REAL) AS expected_p,
        |  CAST((CAST(n_orders AS DOUBLE) - CAST(n_total AS DOUBLE)
        |      * log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)
        |        / CAST(digit AS DOUBLE)))
        |    * (CAST(n_orders AS DOUBLE) - CAST(n_total AS DOUBLE)
        |      * log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)
        |        / CAST(digit AS DOUBLE)))
        |    / (CAST(n_total AS DOUBLE) * log10(CAST(1.0 AS DOUBLE)
        |      + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))) AS REAL)
        |    AS chi2_term
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin

  /** Oracle for `privacy_budget_ledger`: the VALUES panel and the two
    * composition epilogues are rendered from the SAME Scala inventory
    * ([[Privacy.defaultDpReleases]]) and constants the engine uses,
    * so no libm exp/ln runs in either engine and every sum is an exact
    * BIGINT — only fixed-paren double epilogues remain. */
  private lazy val privacyLedgerOracleSql: String = {
    val rows = Privacy.defaultDpReleases
      .map(r => s"('${r.release}', '${r.mechanism}', " +
        s"'${r.privacy_model}', ${r.n_draws}, ${r.eps_u}, ${r.lin_n})")
      .mkString(",\n      |    ")
    s"""WITH p(release, mechanism, privacy_model, n_draws, eps_u, lin_n)
      |  AS (VALUES
      |    $rows),
      |t AS (
      |  SELECT CAST(coalesce(sum(n_draws), 0) AS BIGINT) AS n,
      |    CAST(coalesce(sum(eps_u), 0) AS BIGINT) AS s,
      |    CAST(coalesce(sum(CAST(eps_u AS BIGINT) * eps_u), 0)
      |      AS BIGINT) AS ssq,
      |    CAST(coalesce(sum(lin_n), 0) AS BIGINT) AS sl
      |  FROM p
      |)
      |SELECT release, mechanism, privacy_model,
      |  CAST(n_draws AS BIGINT) AS n_draws,
      |  CAST(eps_u AS BIGINT) AS eps_micro,
      |  CAST(CAST(eps_u AS DOUBLE) / 1000000.0 AS REAL) AS eps
      |FROM p
      |UNION ALL
      |SELECT 'zz_composition_basic', 'sequential', 'central+local',
      |  n, s, CAST(CAST(s AS DOUBLE) / 1000000.0 AS REAL)
      |FROM t
      |UNION ALL
      |SELECT 'zz_composition_advanced', 'advanced_composition',
      |  'central+local', n, CAST(NULL AS BIGINT),
      |  CAST(sqrt(2.0 * ${Privacy.lnInvDelta}
      |      * (CAST(ssq AS DOUBLE) / 1000000000000.0))
      |    + CAST(sl AS DOUBLE) / 1000000000.0 AS REAL)
      |FROM t
      |ORDER BY release""".stripMargin
  }

  /** Hourly OHLC candles — shared by the batch operator and the
    * streaming Complete-mode drain (which equals it row for row). */
  private[registry] val ohlcHourlySql: String =
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS hour_ts, value,
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |      || lpad(CAST(event_id AS VARCHAR), 10, '0') AS skey
        |  FROM events
        |)
        |SELECT hour_ts, CAST(count(*) AS BIGINT) AS n_events,
        |  arg_min(value, skey) AS open,
        |  max(value) AS high, min(value) AS low,
        |  arg_max(value, skey) AS close,
        |  CAST(sum(value) / count(*) AS REAL) AS mean_value
        |FROM ev GROUP BY hour_ts ORDER BY hour_ts""".stripMargin

  /** The greedy debounce recurrence as a recursive CTE — shared by the
    * batch operator and its streaming twin (whose full drain equals the
    * batch query row for row by the batch-equivalence contract). */
  private[registry] val debounceRecurrenceSql: String =
      """WITH RECURSIVE errs AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE event_type = 'error'
        |), walk AS (
        |  SELECT user_id, event_id, ts, us, rn, us AS anchor,
        |    TRUE AS emitted
        |  FROM errs WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.ts, e.us, e.rn,
        |    CASE WHEN e.us - w.anchor >= 1800000000
        |      THEN e.us ELSE w.anchor END,
        |    e.us - w.anchor >= 1800000000
        |  FROM errs e JOIN walk w
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |)
        |SELECT user_id, event_id, ts FROM walk WHERE emitted
        |ORDER BY user_id, event_id""".stripMargin

  /** The Kalman recurrence as a recursive CTE — shared by the batch
    * operator and its streaming twin (whose full drain equals the batch
    * filter bit for bit by the batch-equivalence contract). */
  private[registry] val kalmanRecurrenceSql: String =
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, value AS z,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events WHERE user_id < 50
        |), st AS (
        |  -- DOUBLE-cast base literals: bare 1.0 is DECIMAL(2,1) in
        |  -- DuckDB and would round every downstream k/p to one decimal
        |  SELECT user_id, event_id, z, rn,
        |    CAST(1.0 AS DOUBLE) AS k, z AS x, CAST(1.0 AS DOUBLE) AS p
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.z, e.rn,
        |    (s.p + 1.0) / (s.p + 1.0 + 4.0) AS k,
        |    s.x + ((s.p + 1.0) / (s.p + 1.0 + 4.0)) * (e.z - s.x) AS x,
        |    (1.0 - (s.p + 1.0) / (s.p + 1.0 + 4.0)) * (s.p + 1.0) AS p
        |  FROM st s JOIN ev e
        |    ON e.user_id = s.user_id AND e.rn = s.rn + 1
        |)
        |SELECT user_id, event_id, rn, z, k AS k_gain, x AS x_filt
        |FROM st ORDER BY user_id, rn""".stripMargin

  /** [[graft.query.stats.TimeSeries.tsCroston]] and its streaming twin: the
    * two-EWMA intermittent-demand recurrence replayed per purchase in
    * (ts, event_id) order; the gap precomputes via lag so only the
    * smoothers live in the recursion. */
  private[registry] val crostonRecurrenceSql: String =
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, value AS z,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) = 1 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)
        |        / 3600000000.0 END AS q,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events WHERE user_id < 50 AND event_type = 'purchase'
        |), st AS (
        |  SELECT user_id, event_id, z, q, rn, z AS zh, q AS qh
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.z, e.q, e.rn,
        |    s.zh + 0.1 * (e.z - s.zh) AS zh,
        |    s.qh + 0.1 * (e.q - s.qh) AS qh
        |  FROM st s JOIN ev e
        |    ON e.user_id = s.user_id AND e.rn = s.rn + 1
        |)
        |SELECT user_id, event_id, rn, z AS demand, q AS gap_h,
        |  zh AS z_hat, qh AS q_hat, zh / qh AS forecast
        |FROM st ORDER BY user_id, rn""".stripMargin

  /** [[graft.query.stats.TimeSeries.tsCusumTarget]] and its streaming twin:
    * the clamped Page recurrence S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (v − 50 − 5))
    * replayed per user in (ts, event_id) order — the
    * [[kalmanRecurrenceSql]] recursive-CTE discipline, identical
    * parenthesization (including the base case's + 0.0). */
  private[registry] val cusumTargetRecurrenceSql: String =
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, value AS v,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events WHERE user_id < 50
        |), st AS (
        |  SELECT user_id, event_id, v, rn,
        |    greatest(CAST(0.0 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE) + (v - 50.0 - 5.0)) AS s
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.v, e.rn,
        |    greatest(CAST(0.0 AS DOUBLE), s.s + (e.v - 50.0 - 5.0)) AS s
        |  FROM st s JOIN ev e
        |    ON e.user_id = s.user_id AND e.rn = s.rn + 1
        |)
        |SELECT user_id, event_id, rn, v AS value, s AS s_plus,
        |  s > 200.0 AS alarm
        |FROM st ORDER BY user_id, rn""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sample_hash_det", Sampling.sampleHashDet _, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |  AS BIGINT) % 10 = 0
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("ts_gapfill", TimeSeries.tsGapfill _, Some(
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
        |), hourly AS (
        |  SELECT h, event_type, count(*) AS n,
        |    CAST(sum(value) AS REAL) AS sum_value
        |  FROM ev GROUP BY h, event_type
        |), grid AS (
        |  SELECT g.h, t.event_type
        |  FROM (SELECT unnest(generate_series(
        |      (SELECT min(h) FROM ev), (SELECT max(h) FROM ev),
        |      INTERVAL 1 HOUR)) AS h) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
        |)
        |SELECT grid.h, grid.event_type,
        |  coalesce(hourly.n, 0) AS n,
        |  coalesce(hourly.sum_value, CAST(0 AS REAL)) AS sum_value
        |FROM grid LEFT JOIN hourly
        |  ON grid.h = hourly.h AND grid.event_type = hourly.event_type
        |ORDER BY grid.h, grid.event_type""".stripMargin)),
    QueryDef("ts_mann_kendall", TimeSeries.tsMannKendall(_, _), Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v6
        |  FROM events
        |), pairs AS (
        |  SELECT a.user_id, a.v6 AS v_a, b.v6 AS v_b,
        |    a.us AS us_a, b.us AS us_b, a.event_id AS id_a, b.event_id AS id_b
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |), s AS (
        |  SELECT user_id, CAST(sum(sign(v_b - v_a)) AS BIGINT) AS s_stat
        |  FROM pairs GROUP BY user_id
        |), ties AS (
        |  SELECT user_id,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18,
        |    CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT user_id, v6, count(*) AS t FROM ev GROUP BY 1, 2)
        |  GROUP BY user_id
        |), slopes AS (
        |  SELECT user_id,
        |    CAST(v_b - v_a AS DOUBLE) / CAST(us_b - us_a AS DOUBLE) AS slope,
        |    id_a, id_b
        |  FROM pairs WHERE us_a <> us_b
        |), ranked AS (
        |  SELECT user_id, slope, row_number() OVER (PARTITION BY user_id
        |    ORDER BY slope, id_a, id_b) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS m
        |  FROM slopes
        |), sen AS (
        |  SELECT user_id, sum(slope) / count(*) AS sen_slope
        |  FROM ranked
        |  WHERE (m % 2 = 1 AND rn = (m + 1) // 2)
        |     OR (m % 2 = 0 AND (rn = m // 2 OR rn = m // 2 + 1))
        |  GROUP BY user_id
        |)
        |SELECT s.user_id, t.n, s.s_stat,
        |  t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 AS var18,
        |  CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
        |      / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18) / 18.0)
        |    WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
        |      / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18) / 18.0)
        |    ELSE 0.0 END AS z,
        |  sen.sen_slope
        |FROM s JOIN ties t USING (user_id) JOIN sen USING (user_id)
        |ORDER BY user_id""".stripMargin)),
    QueryDef("dq_benford_test", Quality.dqBenfordTest _, Some(
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders
        |), c AS (
        |  SELECT digit, count(*) AS obs FROM d GROUP BY digit
        |), t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
        |SELECT digit, obs, n,
        |  CAST(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS REAL)
        |    AS p_benford,
        |  CAST((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
        |    * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
        |    / (CAST(n AS DOUBLE)
        |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))) AS REAL)
        |    AS chi2_term
        |FROM c, t ORDER BY digit""".stripMargin)),
    // greedy farthest-point selection: k map-only scans, no libm
    // the greedy farthest-point unroll, one CTE pair per pick — the
    // same generated-unroll discipline as retrieval_mmr_topk
    QueryDef("sample_kcenter_coreset", Sampling.sampleKcenterCoreset(_, _), Some(
      {
      val ctes = (2 to 8).map { i =>
        val prevUnion = (1 until i)
          .map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
        s"""chosen$i AS ($prevUnion),
           |cand$i AS (
           |  SELECT b.vec_id,
           |    min(b.nrm + c.nrm - 2 * list_dot_product(b.e, c.e)) AS md2
           |  FROM base b, base c
           |  WHERE c.vec_id IN (SELECT vec_id FROM chosen$i)
           |    AND b.vec_id NOT IN (SELECT vec_id FROM chosen$i)
           |  GROUP BY b.vec_id
           |),
           |s$i AS (
           |  SELECT vec_id, CAST($i AS INT) AS pick_order, md2 AS dist2
           |  FROM cand$i ORDER BY md2 DESC, vec_id LIMIT 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |    list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST(embedding AS DOUBLE[])) AS nrm
         |  FROM embeddings
         |), s1 AS (
         |  SELECT vec_id, CAST(1 AS INT) AS pick_order,
         |    CAST(0.0 AS DOUBLE) AS dist2
         |  FROM base WHERE vec_id = 0
         |),
         |$ctes
         |${(1 to 8).map(i => s"SELECT vec_id, pick_order, dist2 FROM s$i")
        .mkString("\nUNION ALL ")}
         |ORDER BY pick_order""".stripMargin
    })),
    // per-column UNION ALL is the oracle spelling; the engine computes
    // the same numbers in ONE multi-distinct scan
    QueryDef("profile_table_stats", Quality.profileTableStats _, Some(
      """SELECT 'l_discount' AS col, count(*) AS n_rows,
        |  count(l_discount) AS n_nonnull, count(DISTINCT l_discount) AS ndv,
        |  CAST(min(l_discount) AS DOUBLE) AS min_v,
        |  CAST(max(l_discount) AS DOUBLE) AS max_v FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', count(*), count(l_partkey),
        |  count(DISTINCT l_partkey), CAST(min(l_partkey) AS DOUBLE),
        |  CAST(max(l_partkey) AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(l_quantity),
        |  count(DISTINCT l_quantity), CAST(min(l_quantity) AS DOUBLE),
        |  CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), count(l_suppkey),
        |  count(DISTINCT l_suppkey), CAST(min(l_suppkey) AS DOUBLE),
        |  CAST(max(l_suppkey) AS DOUBLE) FROM lineitem
        |ORDER BY col""".stripMargin)),
    // categorical drift: per-category chi-square terms (the PSI-terms
    // precedent — emit terms, sum is the statistic); identical double
    // expression tree on both sides, REAL cast
    QueryDef("drift_chi2_terms", Drift.driftChi2Terms _, Some(
      """WITH s AS (
        |  SELECT event_type AS cat,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS isa
        |  FROM events
        |), tot AS (
        |  SELECT CAST(sum(isa) AS BIGINT) AS na,
        |    CAST(sum(1 - isa) AS BIGINT) AS nb FROM s
        |), g AS (
        |  SELECT cat, CAST(sum(isa) AS BIGINT) AS ca,
        |    CAST(sum(1 - isa) AS BIGINT) AS cb
        |  FROM s GROUP BY cat
        |)
        |SELECT cat, ca, cb,
        |  CAST((CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE)
        |      * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |    * (CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE)
        |      * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |    / (CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE)
        |      / CAST(na + nb AS DOUBLE))
        |  + (CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE)
        |      * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |    * (CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE)
        |      * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |    / (CAST(ca + cb AS DOUBLE) * CAST(nb AS DOUBLE)
        |      / CAST(na + nb AS DOUBLE))
        |  AS REAL) AS chi2_term
        |FROM g CROSS JOIN tot ORDER BY cat""".stripMargin)),
    // ordered-frame folds on both sides → identical doubles; REAL casts
    // as the documented float-noise backstop
    QueryDef("ts_cusum_changepoint", TimeSeries.tsCusumChangepoint(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events
        |  WHERE user_id < 50
        |), m AS (
        |  SELECT user_id, t, event_id, value,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS tot,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM e
        |), s AS (
        |  SELECT user_id, t, event_id, n,
        |    sum(value - tot / n) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM m
        |)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(max(cusum) - min(cusum) AS REAL) AS cusum_range,
        |  CAST(min(CASE WHEN rnk = 1 THEN event_id END) AS BIGINT)
        |    AS peak_event
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(cusum) DESC, t, event_id) AS rnk
        |  FROM s)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("anomaly_spc_runs", Anomaly.anomalySpcRuns(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events
        |  WHERE user_id < 50
        |), med AS (
        |  SELECT user_id, quantile_cont(value, 0.5) AS med FROM e
        |  GROUP BY user_id
        |), sgn AS (
        |  SELECT e.user_id, t, event_id,
        |    CASE WHEN value > m.med THEN 1 WHEN value < m.med THEN -1
        |         ELSE 0 END AS sgn
        |  FROM e JOIN med m ON m.user_id = e.user_id
        |), chg AS (
        |  SELECT user_id, t, event_id, sgn,
        |    CASE WHEN sgn = lag(sgn) OVER w THEN 0 ELSE 1 END AS brk
        |  FROM sgn WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), grp AS (
        |  SELECT user_id, sgn, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS g
        |  FROM chg
        |), runs AS (
        |  SELECT user_id, g, sgn, count(*) AS run_len FROM grp
        |  GROUP BY user_id, g, sgn
        |)
        |SELECT user_id,
        |  CAST(max(CASE WHEN sgn = 1 THEN run_len ELSE 0 END) AS BIGINT)
        |    AS longest_above,
        |  CAST(max(CASE WHEN sgn = -1 THEN run_len ELSE 0 END) AS BIGINT)
        |    AS longest_below,
        |  CAST(count(CASE WHEN sgn <> 0 AND run_len >= 8 THEN 1 END)
        |    AS BIGINT) AS n_alert_runs
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("dq_constraint_report", Quality.dqConstraintReport _, Some(
      """SELECT 'lineitem_orderkey_fk' AS constraint_name,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
        |    AS n_violations
        |FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        |UNION ALL
        |SELECT 'lineitem_qty_positive', CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |UNION ALL
        |SELECT 'orders_price_nonnull', CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'part_partkey_unique', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT) FROM part
        |ORDER BY constraint_name""".stripMargin)),
    QueryDef("sample_stratified", Sampling.sampleStratified _, Some(
      """SELECT event_id, event_type, value FROM events
        |WHERE CASE
        |  WHEN event_type = 'click' THEN
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 8 = 0
        |  WHEN event_type = 'view' THEN
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 4 = 0
        |  ELSE TRUE END
        |ORDER BY event_id""".stripMargin)),
    QueryDef("skew_profile", Quality.skewProfile _, Some(
      """WITH kc AS (SELECT user_id, count(*) AS n FROM events
        |  GROUP BY user_id)
        |SELECT CAST(length(bin(n)) - 1 AS INT) AS band,
        |  count(*) AS n_keys, min(n) AS min_count, max(n) AS max_count,
        |  CAST(sum(n) AS BIGINT) AS n_rows
        |FROM kc GROUP BY 1 ORDER BY band""".stripMargin)),
    QueryDef("sample_topk_per_group", Sampling.sampleTopkPerGroup(_, _), Some(
      """WITH h AS (
        |  SELECT event_type, event_id,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':smp'),
        |      1, 15) AS BIGINT) AS hv
        |  FROM events
        |), ranked AS (
        |  SELECT event_type, event_id, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY hv, event_id) AS INT) AS rn
        |  FROM h
        |)
        |SELECT event_type, rn, event_id FROM ranked
        |WHERE rn <= 20 ORDER BY event_type, rn""".stripMargin)),
    QueryDef("anomaly_zscore", Anomaly.anomalyZscore(_, _), Some(
      """WITH s AS (
        |  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_id, e.event_type, e.value,
        |  CAST((e.value - s.mean) / s.sd AS REAL) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE abs(CAST((e.value - s.mean) / s.sd AS REAL)) > 3.0
        |ORDER BY event_id""".stripMargin)),
    // corpus drift monitoring: exact two-sample KS statistic
    // exact-integer KS: D's numerator max|cumA*nB - cumB*nA| is a BIGINT,
    // divided once — identical doubles either engine. The oracle uses the
    // plain global-window ECDF; the Spark side's bucketed two-level
    // prefix sum is an execution-shape choice with the same result.
    QueryDef("drift_ks_value", Drift.driftKsValue(_, _), Some(
      """WITH s AS (
        |  SELECT value,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS isa
        |  FROM events
        |), pv AS (
        |  SELECT value, sum(isa) AS ca, sum(1 - isa) AS cb
        |  FROM s GROUP BY value
        |), c AS (
        |  SELECT value,
        |    sum(ca) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM pv
        |), nn AS (
        |  SELECT CAST(sum(isa) AS BIGINT) AS na,
        |    CAST(sum(1 - isa) AS BIGINT) AS nb FROM s
        |)
        |SELECT nn.na AS n_a, nn.nb AS n_b,
        |  CAST(max(abs(cuma * nn.nb - cumb * nn.na)) AS BIGINT) AS ks_num,
        |  CAST(CAST(max(abs(cuma * nn.nb - cumb * nn.na)) AS BIGINT)
        |      AS DOUBLE)
        |    / CAST(nn.na * nn.nb AS DOUBLE) AS ks_d
        |FROM c CROSS JOIN nn GROUP BY nn.na, nn.nb""".stripMargin)),
    // per-bin PSI terms (binned drift, direction-sensitive)
    // per-bin PSI: bin edges replay from SQL min/max — (vmax-vmin)/10.0
    // rounds to the same double the Spark side precomputes; proportions
    // are exact-integer divisions; ln is libm on identical doubles with
    // the REAL cast absorbing the last ulp
    QueryDef("drift_psi_value", Drift.driftPsiValue(_, _), Some(psiTermsOracleSql)),
    // value-proportional Bernoulli sample (P[keep] = value/max) — distinct
    // from the Efraimidis–Spirakis weighted RESERVOIR in `sample_weighted`
    QueryDef("sample_prop_value", Sampling.samplePropValue _, Some(
      """WITH mx AS (SELECT max(value) AS vmax FROM events)
        |SELECT event_id, value FROM events, mx
        |WHERE CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |    || ':w'), 1, 15) AS BIGINT) AS DOUBLE) / 1152921504606846976.0
        |  < value / vmax
        |ORDER BY event_id""".stripMargin)),
    QueryDef("ts_resample_interp", TimeSeries.tsResampleInterp(_, _), Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events
        |  WHERE user_id < 5
        |), spans AS (
        |  SELECT user_id, min(t) AS lo, max(t) AS hi FROM ev GROUP BY user_id
        |), g AS (
        |  SELECT user_id, unnest(generate_series(
        |    ((lo + 3599999999) // 3600000000) * 3600000000,
        |    (hi // 3600000000) * 3600000000, 3600000000)) AS t
        |  FROM spans
        |), u AS (
        |  SELECT user_id, t, value, 0 AS is_grid, event_id FROM ev
        |  UNION ALL
        |  SELECT user_id, t, NULL AS value, 1 AS is_grid,
        |    NULL AS event_id FROM g
        |), w AS (
        |  SELECT user_id, t, is_grid,
        |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wp AS pt,
        |    last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
        |      OVER wp AS pv,
        |    first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
        |      OVER wn AS nt,
        |    first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
        |      OVER wn AS nv
        |  FROM u
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, t AS grid_us,
        |  CAST(CASE WHEN nt = pt THEN pv
        |    ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / (nt - pt)) END
        |    AS REAL) AS value_interp
        |FROM w WHERE is_grid = 1 ORDER BY user_id, grid_us""".stripMargin)),
    QueryDef("heavy_hitters", Quality.heavyHitters(_, _), Some(
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n FROM documents
        |  GROUP BY 1, 2
        |), t AS (SELECT count(*) AS total FROM documents)
        |SELECT lang, source, n,
        |  CAST(CAST(n AS DOUBLE) / total AS REAL) AS share
        |FROM c, t WHERE n > total * 0.02
        |ORDER BY n DESC, lang, source""".stripMargin)),
    QueryDef("anomaly_mad", Anomaly.anomalyMad(_, _), Some(
      """WITH ev AS (
        |  SELECT event_id, event_type, value FROM events
        |), med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM ev GROUP BY 1
        |), mad AS (
        |  SELECT e.event_type, med,
        |    quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM ev e JOIN med USING (event_type) GROUP BY e.event_type, med
        |)
        |SELECT event_id, e.event_type, value,
        |  CAST((value - med) / (1.4826 * mad) AS REAL) AS robust_z
        |FROM ev e JOIN mad USING (event_type)
        |WHERE abs(CAST((value - med) / (1.4826 * mad) AS REAL)) > 3.5
        |ORDER BY event_id""".stripMargin)),
    QueryDef("ts_interval_overlap", TimeSeries.tsIntervalOverlap _, Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
        |), l AS (
        |  SELECT user_id, t, event_id,
        |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
        |  FROM ev
        |), f AS (
        |  SELECT user_id, t, event_id,
        |    CASE WHEN pt IS NULL OR t - pt > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), sid AS (
        |  SELECT user_id, t,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f
        |), sess AS (
        |  SELECT user_id, sid, min(t) AS s, max(t) AS e
        |  FROM sid GROUP BY user_id, sid
        |), spans AS (SELECT min(t) AS lo, max(t) AS hi FROM ev),
        |w AS (
        |  SELECT unnest(generate_series(lo // 21600000000,
        |    hi // 21600000000)) AS wb
        |  FROM spans
        |), sb AS (
        |  SELECT user_id, s, e,
        |    unnest(generate_series(s // 21600000000,
        |      e // 21600000000)) AS wb
        |  FROM sess
        |)
        |SELECT wb * 21600000000 AS w_start, count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users
        |FROM sb JOIN w USING (wb)
        |WHERE s < (wb + 1) * 21600000000 AND e >= wb * 21600000000
        |GROUP BY wb ORDER BY w_start""".stripMargin)),
    QueryDef("ts_seasonal_baseline", TimeSeries.tsSeasonalBaseline(_, _), Some(
      """WITH ev AS (
        |  SELECT event_id, value,
        |    (epoch_us(ts) // 3600000000) % 168 AS how
        |  FROM events
        |), b AS (
        |  SELECT how, avg(value) AS mean, stddev_samp(value) AS sd
        |  FROM ev GROUP BY how
        |)
        |SELECT event_id, how, value,
        |  CAST((value - mean) / sd AS REAL) AS z
        |FROM ev JOIN b USING (how)
        |WHERE abs(CAST((value - mean) / sd AS REAL)) > 3.0
        |ORDER BY event_id""".stripMargin)),
    QueryDef("winsorized_stats", Quality.winsorizedStats _, Some(
      """WITH li AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS p FROM lineitem
        |), k AS (
        |  SELECT f, greatest(CAST(ceil(0.05 * count(*)) AS BIGINT), 1)
        |    AS klo, CAST(ceil(0.95 * count(*)) AS BIGINT) AS khi
        |  FROM li GROUP BY f
        |), r AS (
        |  SELECT f, p,
        |    row_number() OVER (PARTITION BY f ORDER BY p) AS rn
        |  FROM li
        |), thr AS (
        |  SELECT r.f,
        |    max(CASE WHEN rn = klo THEN p END) AS lo,
        |    max(CASE WHEN rn = khi THEN p END) AS hi
        |  FROM r JOIN k ON r.f = k.f GROUP BY r.f
        |)
        |SELECT li.f AS l_returnflag,
        |  CAST(sum(CAST(round(least(greatest(p, lo), hi) * 100)
        |    AS BIGINT)) AS BIGINT) AS wsum_c,
        |  CAST(sum(CASE WHEN p < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo_clip,
        |  CAST(sum(CASE WHEN p > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi_clip,
        |  count(*) AS n
        |FROM li JOIN thr ON li.f = thr.f
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("histogram_equiwidth", Quality.histogramEquiWidth(_, _), Some(
      """SELECT
        |  CAST(least(greatest(floor((o_totalprice - 0.0) / 25000.0), 0),
        |    19) AS BIGINT) AS bin,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS value_total_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    // NOTE: duckdb 1.0's list_reduce mutates the struct accumulator
    // field-by-field (the 'b' expression would see the UPDATED 'l'), so
    // the oracle replays the fold as a recursive CTE, where the
    // recursive term reads the previous ROW's columns — standard SQL
    // semantics, bit-identical to Spark's aggregate() fold
    QueryDef("ts_holt_forecast", TimeSeries.tsHoltForecast _, Some(
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), r AS (
        |  SELECT user_id, vals, 1 AS i, CAST(vals[1] AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM o
        |  UNION ALL
        |  SELECT user_id, vals, i + 1,
        |    0.5 * vals[i + 1] + 0.5 * (l + b),
        |    0.3 * ((0.5 * vals[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b
        |  FROM r WHERE i < len(vals)
        |)
        |SELECT user_id, CAST(i AS BIGINT) AS n_events,
        |  CAST(l AS REAL) AS level, CAST(b AS REAL) AS trend,
        |  CAST(l + 3.0 * b AS REAL) AS forecast_3
        |FROM r WHERE i = len(vals) ORDER BY user_id""".stripMargin)),
    QueryDef("privacy_k_anonymity", Privacy.privacyKAnonymity(_, _), Some(
      """SELECT c_nationkey AS nation,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  count(*) AS class_size, count(*) < 10 AS at_risk
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY nation, order_year""".stripMargin)),
    QueryDef("ts_autocorr_lag1", TimeSeries.tsAutocorrLag1(_, _), Some(
      """WITH l AS (
        |  SELECT user_id, value AS y,
        |    lag(value, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS x
        |  FROM events WHERE user_id < 100
        |), p AS (
        |  SELECT user_id, x, y FROM l WHERE x IS NOT NULL
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY user_id
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  CAST((n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS REAL)
        |    AS autocorr_lag1
        |FROM a ORDER BY user_id""".stripMargin)),
    // same recursive-CTE replay as ts_holt_forecast, with the error
    // accumulators carried beside the Holt state
    QueryDef("ts_holt_backtest", TimeSeries.tsHoltBacktest _, Some(
      """WITH RECURSIVE o AS (
        |  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), f AS (
        |  SELECT user_id, vals FROM o WHERE len(vals) >= 2
        |), r AS (
        |  SELECT user_id, vals, 1 AS i, CAST(vals[1] AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b, CAST(vals[1] AS DOUBLE) AS prev,
        |    CAST(0.0 AS DOUBLE) AS errsum, CAST(0.0 AS DOUBLE) AS naivesum
        |  FROM f
        |  UNION ALL
        |  SELECT user_id, vals, i + 1,
        |    0.5 * vals[i + 1] + 0.5 * (l + b),
        |    0.3 * ((0.5 * vals[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b,
        |    vals[i + 1],
        |    errsum + abs(vals[i + 1] - (l + b)),
        |    naivesum + abs(vals[i + 1] - prev)
        |  FROM r WHERE i < len(vals)
        |)
        |SELECT user_id, CAST(len(vals) - 1 AS BIGINT) AS n_forecasts,
        |  CAST(errsum / CAST(len(vals) - 1 AS DOUBLE) AS REAL)
        |    AS mae_holt,
        |  CAST(naivesum / CAST(len(vals) - 1 AS DOUBLE) AS REAL)
        |    AS mae_naive
        |FROM r WHERE i = len(vals) ORDER BY user_id""".stripMargin)),
    QueryDef("privacy_l_diversity", Privacy.privacyLDiversity(_, _), Some(
      """SELECT c_nationkey AS nation,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  count(*) AS class_size,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT o_orderpriority) < 3 AS below_l
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY nation, order_year""".stripMargin)),
    QueryDef("dq_freshness_lag", Quality.dqFreshnessLag _, Some(
      """WITH g AS (SELECT max(ts) AS gmax FROM events)
        |SELECT event_type, count(*) AS n_events, max(ts) AS newest,
        |  CAST((epoch_us((SELECT gmax FROM g)) - epoch_us(max(ts)))
        |    // 60000000 AS BIGINT) AS lag_minutes
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // Efraimidis–Spirakis keys from the md5-derived uniform: DuckDB
    // replays the same hash60 bits, so the sample is bit-identical
    QueryDef("sample_weighted", Sampling.sampleWeighted(_, _), Some(
      """WITH k AS (
        |  SELECT o_orderkey, o_totalprice,
        |    -ln((CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |          AS BIGINT) + 1) / 1152921504606846976.0)
        |      / o_totalprice AS es_key
        |  FROM orders
        |)
        |SELECT o_orderkey, o_totalprice, CAST(es_key AS REAL) AS es_key
        |FROM k ORDER BY k.es_key, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("ts_interval_union", TimeSeries.tsIntervalUnion(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS en, event_id
        |  FROM events
        |), m AS (
        |  SELECT *, max(en) OVER (PARTITION BY user_id
        |    ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e
        |), f AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR s > prev_end
        |    THEN 1 ELSE 0 END AS ni
        |  FROM m
        |), g AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY user_id
        |    ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f
        |), isl AS (
        |  SELECT user_id, island, min(s) AS is_start, max(en) AS is_end
        |  FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(is_end - is_start) AS BIGINT) AS covered_micros
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("drift_psi", Drift.driftPsi(_, _), Some(
      """WITH e AS (
        |  SELECT epoch_us(ts) AS tus, value FROM events
        |), ext AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
        |b AS (
        |  SELECT CASE WHEN tus * 2 < lo + hi THEN 'early' ELSE 'late' END
        |      AS half,
        |    least(greatest(CAST(floor(value / 10) AS INT), 0), 9) AS bin
        |  FROM e, ext
        |), c AS (
        |  SELECT bin,
        |    sum(CASE WHEN half = 'early' THEN 1 ELSE 0 END) AS n_early,
        |    sum(CASE WHEN half = 'late' THEN 1 ELSE 0 END) AS n_late
        |  FROM b GROUP BY bin
        |), t AS (SELECT sum(n_early) AS te, sum(n_late) AS tl FROM c)
        |SELECT bin, CAST(n_early AS BIGINT) AS n_early,
        |  CAST(n_late AS BIGINT) AS n_late,
        |  CAST(((n_early + 1.0) / (te + 10.0) - (n_late + 1.0) / (tl + 10.0))
        |    * ln(((n_early + 1.0) / (te + 10.0))
        |        / ((n_late + 1.0) / (tl + 10.0))) AS REAL) AS psi_term
        |FROM c, t ORDER BY bin""".stripMargin)),
    QueryDef("dq_join_profile", Quality.dqJoinProfile _, Some(
      """WITH ck AS (SELECT DISTINCT c_custkey AS pk FROM customer),
        |pk AS (SELECT DISTINCT p_partkey AS pk FROM part),
        |r1 AS (
        |  SELECT 'orders->customer' AS relationship,
        |    CAST(count(*) AS BIGINT) AS child_rows,
        |    CAST(count(ck.pk) AS BIGINT) AS matched_rows,
        |    CAST(count(*) - count(ck.pk) AS BIGINT) AS orphan_rows,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT)
        |      AS distinct_child_keys,
        |    CAST(count(ck.pk) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      AS match_rate
        |  FROM orders LEFT JOIN ck ON o_custkey = ck.pk
        |), r2 AS (
        |  SELECT 'lineitem->part' AS relationship,
        |    CAST(count(*) AS BIGINT) AS child_rows,
        |    CAST(count(pk.pk) AS BIGINT) AS matched_rows,
        |    CAST(count(*) - count(pk.pk) AS BIGINT) AS orphan_rows,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT)
        |      AS distinct_child_keys,
        |    CAST(count(pk.pk) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      AS match_rate
        |  FROM lineitem LEFT JOIN pk ON l_partkey = pk.pk
        |)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY relationship""".stripMargin)),
    QueryDef("anomaly_rolling_z", Anomaly.anomalyRollingZ(_, _), Some(
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER f AS n,
        |    sum(value) OVER f AS s1,
        |    sum(value * value) OVER f AS s2
        |  FROM events
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        |), v AS (
        |  SELECT event_id, user_id, value, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) AS variance
        |  FROM w WHERE n >= 10
        |)
        |SELECT event_id, user_id, value,
        |  CAST((value - mean) / sqrt(variance) AS REAL) AS z
        |FROM v WHERE variance > 0
        |  AND abs((value - mean) / sqrt(variance)) > 3.0
        |ORDER BY event_id""".stripMargin)),
    QueryDef("privacy_dp_counts", Privacy.privacyDpCounts(_, _), Some(
      """WITH c AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS exact_count
        |  FROM customer GROUP BY c_nationkey
        |), n AS (
        |  SELECT *,
        |    (CAST('0x' || substr(md5('dp:' || CAST(c_nationkey AS VARCHAR)),
        |       1, 15) AS BIGINT) + 0.5) / 1152921504606846976.0 - 0.5 AS p
        |  FROM c
        |)
        |SELECT c_nationkey, exact_count,
        |  CAST(-sign(p) * ln(1.0 - abs(p) * 2.0) AS REAL) AS noise,
        |  CAST(exact_count + (-sign(p) * ln(1.0 - abs(p) * 2.0)) AS REAL)
        |    AS noisy_count
        |FROM n ORDER BY c_nationkey""".stripMargin)),
    QueryDef("privacy_t_closeness_tv", Privacy.privacyTClosenessTv _, Some(
      """WITH c AS (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg FROM customer
        |), cs AS (SELECT nk, seg, count(*) AS ns FROM c GROUP BY 1, 2),
        |ct AS (SELECT nk, count(*) AS nc FROM c GROUP BY nk),
        |gs AS (SELECT seg, count(*) AS gs FROM c GROUP BY seg),
        |gt AS (SELECT count(*) AS gt FROM c),
        |f AS (
        |  SELECT ct.nk, ct.nc,
        |    abs(CAST(coalesce(cs.ns, 0) AS DOUBLE) / CAST(ct.nc AS DOUBLE)
        |      - CAST(gs.gs AS DOUBLE) / CAST(gt.gt AS DOUBLE)) AS term
        |  FROM ct CROSS JOIN gs CROSS JOIN gt
        |  LEFT JOIN cs ON cs.nk = ct.nk AND cs.seg = gs.seg
        |)
        |SELECT nk AS c_nationkey, CAST(min(nc) AS BIGINT) AS class_size,
        |  CAST(sum(term) / 2.0 AS REAL) AS tv_distance
        |FROM f GROUP BY nk ORDER BY c_nationkey""".stripMargin)),
    QueryDef("dq_volume_anomaly", Quality.dqVolumeAnomaly _, Some(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day_index,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT day_index, n_events,
        |    count(n_events) OVER f AS trail_days,
        |    sum(n_events) OVER f AS trail_sum
        |  FROM d
        |  WINDOW f AS (ORDER BY day_index
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT CAST(day_index AS BIGINT) AS day_index, n_events,
        |  CAST(trail_days AS BIGINT) AS trail_days,
        |  CAST(n_events * trail_days AS DOUBLE)
        |    / CAST(trail_sum AS DOUBLE) AS volume_ratio,
        |  (CAST(n_events * trail_days AS DOUBLE)
        |    / CAST(trail_sum AS DOUBLE) >= 1.5
        |   OR CAST(n_events * trail_days AS DOUBLE)
        |    / CAST(trail_sum AS DOUBLE) <= 0.5) AS flagged
        |FROM t WHERE trail_days >= 3 ORDER BY day_index""".stripMargin)),
    QueryDef("ts_stl_decompose", TimeSeries.tsStlDecompose _, Some(
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS v6
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT h, v6,
        |    CAST(sum(v6) OVER w AS BIGINT) AS t25_sum,
        |    count(*) OVER w AS t25_n
        |  FROM hourly
        |  WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), d AS (
        |  SELECT *,
        |    CASE WHEN t25_n = 25 THEN 25 * v6 - t25_sum END AS detr25,
        |    CAST(h % 24 AS INT) AS hod
        |  FROM t
        |), s AS (
        |  SELECT hod, CAST(sum(detr25) AS BIGINT) AS s_sum,
        |    count(*) AS s_n
        |  FROM d WHERE detr25 IS NOT NULL GROUP BY hod
        |)
        |SELECT make_timestamp(h * 3600000000) AS hour_ts,
        |  CAST(CAST(v6 AS DOUBLE) / 1000000.0 AS REAL) AS value,
        |  CAST(CASE WHEN t25_n = 25
        |    THEN CAST(t25_sum AS DOUBLE) / 25000000.0 END AS REAL) AS trend,
        |  CAST(CASE WHEN d.detr25 IS NOT NULL
        |    THEN CAST(s_sum AS DOUBLE) / CAST(s_n * 25 AS DOUBLE)
        |      / 1000000.0 END AS REAL) AS seasonal,
        |  CAST(CASE WHEN d.detr25 IS NOT NULL
        |    THEN CAST(d.detr25 AS DOUBLE) / 25000000.0
        |      - CAST(s_sum AS DOUBLE) / CAST(s_n * 25 AS DOUBLE)
        |        / 1000000.0 END AS REAL) AS residual
        |FROM d LEFT JOIN s USING (hod)
        |ORDER BY hour_ts""".stripMargin)),
    // per-key sequential recurrence via flatMapSortedGroups (sorted-group
    // streaming iteration — the typed-API shape windows can't express)
    // the greedy debounce recurrence replayed as a recursive CTE: row n
    // joins row n−1's anchor — the sequential dependency made explicit;
    // shared with the streaming twin (drain == batch contract)
    QueryDef("anomaly_alert_debounce", Anomaly.anomalyAlertDebounce(_, _),
      Some(debounceRecurrenceSql)),
    // spectral power at candidate periods over the hourly rollup
    QueryDef("ts_periodogram", TimeSeries.tsPeriodogram(_, _), Some(
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS v6
        |  FROM events GROUP BY 1
        |), hv AS (
        |  SELECT h, CAST(v6 AS DOUBLE) / 1000000.0 AS v FROM hourly
        |), p AS (
        |  SELECT h, v, unnest([6, 12, 24, 168]) AS period_h FROM hv
        |), g AS (
        |  SELECT period_h,
        |    sum(v * cos(2.0 * pi() * CAST(h AS DOUBLE)
        |      / CAST(period_h AS DOUBLE))) AS c,
        |    sum(v * sin(2.0 * pi() * CAST(h AS DOUBLE)
        |      / CAST(period_h AS DOUBLE))) AS s,
        |    CAST(count(*) AS BIGINT) AS n_hours
        |  FROM p GROUP BY period_h
        |)
        |SELECT period_h, n_hours,
        |  CAST((c * c + s * s) / CAST(n_hours AS DOUBLE) AS REAL) AS power
        |FROM g ORDER BY period_h""".stripMargin)),
    // Warner randomized response (local DP) with debiased estimate
    // randomized response: flip iff hash60(id:rr) % 4 = 3; debias by
    // (p_obs - 0.25) / 0.5 — truth ships beside for auditability
    QueryDef("privacy_rand_response", Privacy.privacyRandResponse _, Some(
      """WITH b AS (
        |  SELECT event_type,
        |    event_id % 2 = 1 AS t,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':rr'), 1, 15) AS BIGINT) % 4 < 3
        |      THEN event_id % 2 = 1 ELSE NOT (event_id % 2 = 1) END AS r
        |  FROM events
        |), g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_true_1,
        |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_reported_1
        |  FROM b GROUP BY event_type
        |)
        |SELECT event_type, n, n_true_1, n_reported_1,
        |  CAST(CAST(n_reported_1 AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
        |    AS p_reported,
        |  CAST((CAST(n_reported_1 AS DOUBLE) / CAST(n AS DOUBLE) - 0.25)
        |    / 0.5 AS REAL) AS pi_hat
        |FROM g ORDER BY event_type""".stripMargin)),
    // PK half of the constraint audit (FK half: dq_constraint_report)
    QueryDef("dq_pk_uniqueness", Quality.dqPkUniqueness _, Some(
      """SELECT * FROM (
        |  SELECT 'lineitem(l_orderkey,l_linenumber)' AS table_key,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey,
        |      l_linenumber FROM lineitem)) AS BIGINT) AS n_distinct_keys,
        |    CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT
        |      l_orderkey, l_linenumber FROM lineitem)) AS BIGINT)
        |      AS n_duplicates
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders(o_orderkey)', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'customer(c_custkey)', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT c_custkey) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'part(p_partkey)', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT p_partkey) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT 'supplier(s_suppkey)', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s_suppkey) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT s_suppkey) AS BIGINT)
        |  FROM supplier
        |) ORDER BY table_key""".stripMargin)),
    // white-noise portmanteau terms per (user, lag)
    // the ts_autocorr_lag1 Pearson-over-pairs form at lags 1..5, plus
    // the Ljung-Box Q term n(n+2)·ρ²/(n−k) per row
    QueryDef("ts_ljung_box_terms", TimeSeries.tsLjungBoxTerms(_, _), Some(
      """WITH l AS (
        |  SELECT user_id, value AS y,
        |    lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2,
        |    lag(value, 3) OVER w AS x3, lag(value, 4) OVER w AS x4,
        |    lag(value, 5) OVER w AS x5
        |  FROM events WHERE user_id < 100
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), st AS (
        |  SELECT user_id, 1 AS lag, x1 AS x, y FROM l WHERE x1 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 2, x2, y FROM l WHERE x2 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 3, x3, y FROM l WHERE x3 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 4, x4, y FROM l WHERE x4 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 5, x5, y FROM l WHERE x5 IS NOT NULL
        |), a AS (
        |  SELECT user_id, lag, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM st GROUP BY user_id, lag
        |), r AS (
        |  SELECT user_id, CAST(lag AS INT) AS lag,
        |    CAST(n AS BIGINT) AS n_pairs,
        |    CAST((n * sxy - sx * sy)
        |      / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |      AS REAL) AS rho,
        |    n + lag AS nser
        |  FROM a
        |)
        |SELECT user_id, lag, n_pairs, rho,
        |  CAST((nser * (nser + 2.0))
        |    * (CAST(rho AS DOUBLE) * CAST(rho AS DOUBLE))
        |    / (nser - CAST(lag AS DOUBLE)) AS REAL) AS q_term
        |FROM r ORDER BY user_id, lag""".stripMargin)),
    // hourly OHLC candles via keyed min_by/max_by (no window)
    // open/close by fixed-width (micros, event_id) lexicographic argmin;
    // the streaming candle drain equals the batch table, sharing the text
    QueryDef("ts_ohlc_hourly", TimeSeries.tsOhlcHourly(_, _), Some(ohlcHourlySql)),
    // Laplace-mechanism DP counts with a replayable PRF noise draw
    // inverse-CDF Laplace draw from the 60-bit hash of the category
    QueryDef("dq_dp_laplace_counts", Quality.dqDpLaplaceCounts(_, _), Some(
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1
        |), u AS (
        |  SELECT event_type, n_exact,
        |    CAST(CAST('0x' || substr(md5(event_type || ':dp'), 1, 15)
        |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM g
        |), nz AS (
        |  SELECT event_type, n_exact, u,
        |    CAST(-2.0 * sign(u - 0.5)
        |      * ln(1.0 - 2.0 * abs(u - 0.5)) AS REAL) AS noise
        |  FROM u
        |)
        |SELECT event_type, n_exact, u, noise,
        |  CAST(CAST(n_exact AS DOUBLE) + CAST(noise AS DOUBLE) AS REAL)
        |    AS n_noisy
        |FROM nz ORDER BY event_type""".stripMargin)),
    // Neyman-optimal stratified allocation, largest-remainder exact
    // sd = √(N·Σv²−(Σv)²)/N/10³ on exact BIGINT moments; tmass folds in
    // sorted stratum order; largest-remainder rounding is integer-exact
    QueryDef("sample_neyman_allocation", Sampling.sampleNeymanAllocation(_, _), Some(
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(v3) AS BIGINT) AS s1,
        |    CAST(sum(v3 * v3) AS BIGINT) AS s2
        |  FROM ev GROUP BY 1
        |), sdd AS (
        |  SELECT event_type, n_h,
        |    sqrt(CAST(n_h * CAST(s2 AS HUGEINT)
        |      - CAST(s1 AS HUGEINT) * s1 AS DOUBLE))
        |      / CAST(n_h AS DOUBLE) / 1000.0 AS sd
        |  FROM m
        |), tot AS (
        |  SELECT list_aggregate(
        |    list(CAST(n_h AS DOUBLE) * sd ORDER BY event_type), 'sum')
        |    AS tmass
        |  FROM sdd
        |), ideal AS (
        |  SELECT event_type, n_h, sd,
        |    1000.0 * ((CAST(n_h AS DOUBLE) * sd) / tmass) AS ideal
        |  FROM sdd, tot
        |), fl AS (
        |  SELECT event_type, n_h, sd, ideal,
        |    CAST(floor(ideal) AS BIGINT) AS n_floor,
        |    ideal - CAST(floor(ideal) AS BIGINT) AS rem
        |  FROM ideal
        |), lo AS (SELECT 1000 - CAST(sum(n_floor) AS BIGINT) AS lo FROM fl)
        |SELECT event_type, n_h, CAST(sd AS REAL) AS sd,
        |  CAST(ideal AS REAL) AS ideal,
        |  n_floor + CASE WHEN row_number() OVER (
        |    ORDER BY rem DESC, event_type) <= lo THEN 1 ELSE 0 END
        |    AS n_alloc
        |FROM fl, lo ORDER BY event_type""".stripMargin)),
    // DoReMi-style uniform-target domain mixture plan (rates/epochs/deficit)
    // all allocation quantities BIGINT (floor div), rate/epochs are one
    // IEEE division each — the only doubles in the plan
    QueryDef("sample_domain_mixture", Sampling.sampleDomainMixture(_, _), Some(
      """WITH supply AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS supply_chars
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(supply_chars) AS BIGINT) AS total_chars,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM supply
        |)
        |SELECT source, n_docs, supply_chars,
        |  CAST(total_chars // k AS BIGINT) AS target_chars,
        |  least(1.0, CAST(total_chars // k AS DOUBLE)
        |    / CAST(supply_chars AS DOUBLE)) AS sample_rate,
        |  CAST(total_chars // k AS DOUBLE)
        |    / CAST(supply_chars AS DOUBLE) AS epochs,
        |  least(supply_chars, CAST(total_chars // k AS BIGINT))
        |    AS achieved_chars,
        |  greatest(0, CAST(total_chars // k AS BIGINT) - supply_chars)
        |    AS deficit_chars
        |FROM supply, tot ORDER BY source""".stripMargin)),
    // per-user local-level Kalman filter (sorted-group recurrence)
    // the filter recurrence replayed as a recursive CTE — identical
    // parenthesization and (ts, event_id) order ⇒ bit-identical doubles;
    // the STREAMING twin drains to the same rows, so it shares the text
    QueryDef("ts_kalman_1d", TimeSeries.tsKalman1d(_, _), Some(kalmanRecurrenceSql)),
    // PACF via unrolled Durbin–Levinson layers over the shared lag-ρ
    // the ljung-box ρ front end, pivoted, then the Durbin–Levinson
    // layers with the SAME parenthesization as the Column expressions
    QueryDef("ts_pacf_durbin_levinson", TimeSeries.tsPacfDurbinLevinson(_, _), Some(
      """WITH l AS (
        |  SELECT user_id, value AS y,
        |    lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2,
        |    lag(value, 3) OVER w AS x3, lag(value, 4) OVER w AS x4,
        |    lag(value, 5) OVER w AS x5
        |  FROM events WHERE user_id < 100
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), st AS (
        |  SELECT user_id, 1 AS lag, x1 AS x, y FROM l WHERE x1 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 2, x2, y FROM l WHERE x2 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 3, x3, y FROM l WHERE x3 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 4, x4, y FROM l WHERE x4 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, 5, x5, y FROM l WHERE x5 IS NOT NULL
        |), a AS (
        |  SELECT user_id, lag, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM st GROUP BY user_id, lag
        |), r AS (
        |  SELECT user_id, lag,
        |    CAST((n * sxy - sx * sy)
        |      / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |      AS REAL) AS rho
        |  FROM a
        |), piv AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN lag = 1 THEN rho END) AS DOUBLE) AS r1,
        |    CAST(max(CASE WHEN lag = 2 THEN rho END) AS DOUBLE) AS r2,
        |    CAST(max(CASE WHEN lag = 3 THEN rho END) AS DOUBLE) AS r3,
        |    CAST(max(CASE WHEN lag = 4 THEN rho END) AS DOUBLE) AS r4,
        |    CAST(max(CASE WHEN lag = 5 THEN rho END) AS DOUBLE) AS r5
        |  FROM r GROUP BY user_id
        |), l1 AS (SELECT *, r1 AS p11 FROM piv),
        |l2 AS (SELECT *,
        |  (r2 - p11 * r1) / (1.0 - p11 * r1) AS p22 FROM l1),
        |l2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM l2),
        |l3 AS (SELECT *,
        |  (r3 - (p21 * r2 + p22 * r1))
        |    / (1.0 - (p21 * r1 + p22 * r2)) AS p33 FROM l2b),
        |l3b AS (SELECT *, p21 - p33 * p22 AS p31,
        |  p22 - p33 * p21 AS p32 FROM l3),
        |l4 AS (SELECT *,
        |  (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
        |    / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44 FROM l3b),
        |l4b AS (SELECT *, p31 - p44 * p33 AS p41,
        |  p32 - p44 * p32 AS p42, p33 - p44 * p31 AS p43 FROM l4),
        |l5 AS (SELECT *,
        |  (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1))
        |    / (1.0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4))
        |    AS p55 FROM l4b)
        |SELECT user_id, lag, CAST(p AS REAL) AS pacf FROM (
        |  SELECT user_id, 1 AS lag, p11 AS p FROM l5
        |  UNION ALL SELECT user_id, 2, p22 FROM l5
        |  UNION ALL SELECT user_id, 3, p33 FROM l5
        |  UNION ALL SELECT user_id, 4, p44 FROM l5
        |  UNION ALL SELECT user_id, 5, p55 FROM l5)
        |ORDER BY user_id, lag""".stripMargin)),
    // systematic PPS sampling: integer anchor+step on cumulative cents
    // systematic PPS: points a + k*W in x20-scaled cumulative space;
    // multiplicity = ceil-count difference, all BIGINT floor division
    QueryDef("sample_pps_systematic", Sampling.samplePpsSystematic(_, _), Some(
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) AS w
        |  FROM orders
        |), c AS (
        |  SELECT o_orderkey, w,
        |    CAST(sum(w) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c_hi
        |  FROM o
        |), t AS (
        |  SELECT max(c_hi) AS big_w,
        |    CAST('0x' || substr(md5('pps:anchor'), 1, 15) AS BIGINT)
        |      % max(c_hi) AS a
        |  FROM c
        |), m AS (
        |  SELECT o_orderkey, w, c_hi - w AS c_lo, c_hi,
        |    (CASE WHEN c_hi * 20 <= a THEN 0
        |      ELSE 1 + (c_hi * 20 - a - 1) // big_w END)
        |    - (CASE WHEN (c_hi - w) * 20 <= a THEN 0
        |      ELSE 1 + ((c_hi - w) * 20 - a - 1) // big_w END)
        |      AS multiplicity
        |  FROM c, t
        |)
        |SELECT o_orderkey, w, CAST(c_lo AS BIGINT) AS c_lo, c_hi,
        |  CAST(multiplicity AS BIGINT) AS multiplicity
        |FROM m WHERE multiplicity >= 1 ORDER BY o_orderkey""".stripMargin)),
    // round 15: robust trend slope (median of pairwise hourly slopes)
    QueryDef("ts_theil_sen", TimeSeries.tsTheilSen(_, _), Some(
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS v6
        |  FROM events GROUP BY 1
        |), pairs AS (
        |  SELECT a.h AS hi, b.h AS hj,
        |    CAST(b.v6 - a.v6 AS DOUBLE)
        |      / CAST((b.h - a.h) * 1000000 AS DOUBLE) AS slope
        |  FROM hourly a JOIN hourly b ON a.h < b.h
        |), ranked AS (
        |  SELECT slope,
        |    row_number() OVER (ORDER BY slope, hi, hj) AS rk,
        |    count(*) OVER () AS n_pairs
        |  FROM pairs
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM hourly) AS n_points,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(slope AS REAL) AS theil_sen_slope
        |FROM ranked WHERE rk = (n_pairs + 1) // 2""".stripMargin)),
    // round 15: Benford first-digit audit over exact cents
    // MCC: exact BIGINT cells; denominator in double (Long margins
    // product would overflow at corpus scale); degenerate margins NULL
    QueryDef("dq_benford_law", Quality.dqBenfordLaw _, Some(benfordOracleSql)),
    // exponential-mechanism (Gumbel-max) DP top-k selection
    // Gumbel-max = exponential mechanism; u from the md5 60-bit draw
    QueryDef("privacy_dp_topk", Privacy.privacyDpTopk(_, _), Some(
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count
        |  FROM events GROUP BY event_type
        |), n AS (
        |  SELECT event_type, exact_count,
        |    CAST(exact_count AS DOUBLE) + 2.0 * (-ln(-ln(
        |      (CAST(CAST('0x' || substr(md5('dptopk:' || event_type),
        |        1, 15) AS BIGINT) AS DOUBLE) + 0.5)
        |      / 1152921504606846976.0))) AS noised_utility
        |  FROM c
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY noised_utility DESC, event_type) AS rank
        |  FROM n
        |)
        |SELECT CAST(rank AS INT) AS rank, event_type,
        |  CAST(noised_utility AS REAL) AS noised_utility, exact_count
        |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin)),
    // round 16: Page's one-sided CUSUM vs a fixed target (live detector)
    QueryDef("ts_cusum_target", TimeSeries.tsCusumTarget(_, _), Some(cusumTargetRecurrenceSql)),
    // round 16: intermittent-demand smoother (demand and gap separately)
    // Croston recurrence replayed per purchase in (ts, event_id) order
    QueryDef("ts_croston", TimeSeries.tsCroston(_, _), Some(crostonRecurrenceSql)),
    // round 16: exponential-mechanism DP median over a candidate grid
    // step-width bucket histogram → exact strictly-below rank per
    // candidate; Gumbel-max with the hash60 uniforms
    QueryDef("privacy_dp_quantile", Privacy.privacyDpQuantile(_, _), Some(
      """WITH hist AS (
        |  SELECT CAST(floor(value / 5.0) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1
        |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        |cand AS (
        |  SELECT CAST(i * 5 AS INT) AS c FROM range(1, 98) t(i)
        |), lt AS (
        |  SELECT c, CAST(coalesce(sum(cnt), 0) AS BIGINT) AS cnt_lt
        |  FROM cand LEFT JOIN hist ON b < CAST(c AS BIGINT) / 5
        |  GROUP BY c
        |), scored AS (
        |  SELECT c, cnt_lt,
        |    (-CAST(abs(2 * cnt_lt - n) AS DOUBLE)) / 2.0 AS utility,
        |    (-CAST(abs(2 * cnt_lt - n) AS DOUBLE)) / 2.0
        |      + 2.0 * (-ln(-ln((CAST(CAST('0x' || substr(md5('dpq:'
        |        || CAST(c AS VARCHAR)), 1, 15) AS BIGINT)
        |        AS DOUBLE) + 0.5) / 1152921504606846976.0)))
        |      AS noised_utility
        |  FROM lt, tot
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    ORDER BY noised_utility DESC, c) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT rank, c AS candidate,
        |  CAST(noised_utility AS REAL) AS noised_utility,
        |  cnt_lt, CAST(utility AS REAL) AS utility
        |FROM ranked WHERE rank <= 3 ORDER BY rank""".stripMargin)),
    // round 16: R/S long-memory diagnostic on the hourly series
    // ordered full-frame folds block-by-block, then the 4-point fit
    QueryDef("ts_hurst_exponent", TimeSeries.tsHurstExponent(_, _), Some(
      """WITH hourly AS (
        |  SELECT CAST(sum(CAST(round(value * 1000000.0) AS BIGINT))
        |      AS DOUBLE) / 1000000.0 AS v,
        |    epoch_us(ts) // 3600000000 AS h
        |  FROM events GROUP BY h
        |), idxd AS (
        |  SELECT v, CAST(row_number() OVER (ORDER BY h) AS INT) AS idx
        |  FROM hourly
        |), sized AS (
        |  SELECT v, idx, w, CAST((idx - 1) // w AS BIGINT) AS blk
        |  FROM idxd, (VALUES (8), (16), (32), (64)) s(w)
        |), perrow AS (
        |  SELECT w, blk, v, idx,
        |    count(*) OVER g AS bn,
        |    sum(v) OVER f / w AS mean
        |  FROM sized
        |  WINDOW g AS (PARTITION BY w, blk),
        |    f AS (PARTITION BY w, blk ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), devrow AS (
        |  SELECT w, blk, idx,
        |    sum(v - mean) OVER p AS dev,
        |    sum((v - mean) * (v - mean)) OVER f AS ssq
        |  FROM perrow WHERE bn = w
        |  WINDOW p AS (PARTITION BY w, blk ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    f AS (PARTITION BY w, blk ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), blocks AS (
        |  SELECT w, blk,
        |    max(dev) - min(dev) AS r,
        |    sqrt(max(ssq) / w) AS s
        |  FROM devrow GROUP BY w, blk
        |), rsrows AS (
        |  SELECT w, blk, r / s AS rs FROM blocks WHERE s > 0.0
        |), panel0 AS (
        |  SELECT w, blk,
        |    count(*) OVER q AS nb,
        |    sum(rs) OVER q / CAST(count(*) OVER q AS DOUBLE) AS avg_rs,
        |    row_number() OVER (PARTITION BY w ORDER BY blk) AS prn
        |  FROM rsrows
        |  WINDOW q AS (PARTITION BY w ORDER BY blk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), panel AS (
        |  SELECT w, CAST(nb AS BIGINT) AS n_blocks, avg_rs
        |  FROM panel0 WHERE prn = 1
        |), fit AS (
        |  SELECT w, n_blocks, avg_rs,
        |    (CAST(count(*) OVER q AS DOUBLE)
        |        * sum(ln(CAST(w AS DOUBLE)) * ln(avg_rs)) OVER q
        |      - sum(ln(CAST(w AS DOUBLE))) OVER q * sum(ln(avg_rs)) OVER q)
        |    / (CAST(count(*) OVER q AS DOUBLE)
        |        * sum(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE))) OVER q
        |      - sum(ln(CAST(w AS DOUBLE))) OVER q
        |        * sum(ln(CAST(w AS DOUBLE))) OVER q) AS hurst
        |  FROM panel
        |  WINDOW q AS (ORDER BY w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |)
        |SELECT max(CASE WHEN w = 8 THEN n_blocks END) AS blocks_w8,
        |  CAST(max(CASE WHEN w = 8 THEN avg_rs END) AS REAL) AS rs_w8,
        |  CAST(max(CASE WHEN w = 16 THEN avg_rs END) AS REAL) AS rs_w16,
        |  CAST(max(CASE WHEN w = 32 THEN avg_rs END) AS REAL) AS rs_w32,
        |  CAST(max(CASE WHEN w = 64 THEN avg_rs END) AS REAL) AS rs_w64,
        |  CAST(max(hurst) AS REAL) AS hurst
        |FROM fit""".stripMargin)),
    // round 16: SAX symbol strings (z-norm → PAA → quartile alphabet)
    // z-norm → PAA → quartile alphabet, every fold ordered
    QueryDef("ts_sax_symbolic", TimeSeries.tsSaxSymbolic(_, _), Some(
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE user_id < 50
        |), r AS (
        |  SELECT user_id, value,
        |    CAST(count(*) OVER u AS BIGINT) AS n,
        |    sum(value) OVER uf / count(*) OVER u AS mean,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM e
        |  WINDOW u AS (PARTITION BY user_id),
        |    uf AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), s AS (
        |  SELECT user_id, value, n, mean, rn,
        |    sum((value - mean) * (value - mean)) OVER uf AS ssq
        |  FROM r
        |  WINDOW uf AS (PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), z AS (
        |  SELECT user_id, rn,
        |    (value - mean) / sqrt(ssq / n) AS z,
        |    CAST((rn - 1) // 8 AS BIGINT) AS blk
        |  FROM s WHERE ssq > 0.0
        |), b AS (
        |  SELECT user_id, blk,
        |    count(*) OVER g AS bn,
        |    sum(z) OVER f / count(*) OVER g AS paa,
        |    row_number() OVER (PARTITION BY user_id, blk ORDER BY rn)
        |      AS brn
        |  FROM z
        |  WINDOW g AS (PARTITION BY user_id, blk),
        |    f AS (PARTITION BY user_id, blk ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), sym AS (
        |  SELECT user_id, blk,
        |    CASE WHEN paa < -0.6744897501960817 THEN 'a'
        |      WHEN paa < 0.0 THEN 'b'
        |      WHEN paa < 0.6744897501960817 THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM b WHERE brn = 1 AND bn = 8
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |  string_agg(sym, '' ORDER BY blk) AS sax
        |FROM sym GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // round 16: lead-lag cross-correlation on the hourly grid
    // exact HUGEINT moments per lag (Spark side holds DECIMAL(38,0) —
    // both are exact integers, so the double epilogues agree bitwise)
    QueryDef("ts_ccf_lags", TimeSeries.tsCcfLags(_, _), Some(
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 1000.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS cx,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 1000.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS py
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY h
        |), lags AS (
        |  SELECT lag_h FROM (VALUES (0), (1), (2), (4), (8)) t(lag_h)
        |), j AS (
        |  SELECT l.lag_h, a.cx, b.py
        |  FROM hourly a CROSS JOIN lags l
        |  JOIN hourly b ON b.h = a.h + l.lag_h
        |), m AS (
        |  SELECT lag_h, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(cx AS HUGEINT)) AS sx,
        |    sum(CAST(py AS HUGEINT)) AS sy,
        |    sum(CAST(cx AS HUGEINT) * CAST(py AS HUGEINT)) AS sxy,
        |    sum(CAST(cx AS HUGEINT) * CAST(cx AS HUGEINT)) AS sxx,
        |    sum(CAST(py AS HUGEINT) * CAST(py AS HUGEINT)) AS syy
        |  FROM j GROUP BY lag_h
        |)
        |SELECT lag_h, n AS n_hours,
        |  CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS REAL)
        |    AS ccf
        |FROM m ORDER BY lag_h""".stripMargin)),
    // round 17: DP clipped-sum mean (the Laplace release for means)
    // round 17: clipped-sum DP mean — exact scaled-BIGINT clip, the
    // dqDpLaplaceCounts REAL-cast-first noise contract at b=C/ε and 1/ε
    QueryDef("privacy_dp_clipped_mean", Privacy.privacyDpClippedMean(_, _), Some(
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
        |    CAST(coalesce(sum(least(greatest(
        |      CAST(floor(value * 100.0) AS BIGINT), 0), 5000)), 0)
        |      AS BIGINT) AS clipped_sum_scaled
        |  FROM events GROUP BY 1
        |), u AS (
        |  SELECT g.*,
        |    CAST(CAST('0x' || substr(md5(event_type || ':dpsum'), 1, 15)
        |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS us,
        |    CAST(CAST('0x' || substr(md5(event_type || ':dpcnt'), 1, 15)
        |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS uc
        |  FROM g
        |), nz AS (
        |  SELECT event_type, n_exact, clipped_sum_scaled,
        |    CAST(-100.0 * sign(us - 0.5)
        |      * ln(1.0 - 2.0 * abs(us - 0.5)) AS REAL) AS noise_sum,
        |    CAST(-2.0 * sign(uc - 0.5)
        |      * ln(1.0 - 2.0 * abs(uc - 0.5)) AS REAL) AS noise_cnt
        |  FROM u
        |), rel AS (
        |  SELECT *,
        |    CAST(CAST(clipped_sum_scaled AS DOUBLE) / 100.0
        |      + CAST(noise_sum AS DOUBLE) AS REAL) AS dp_sum,
        |    CAST(greatest(CAST(n_exact AS DOUBLE)
        |      + CAST(noise_cnt AS DOUBLE), 1.0) AS REAL) AS dp_count
        |  FROM nz
        |)
        |SELECT event_type, n_exact, clipped_sum_scaled, noise_sum,
        |  noise_cnt, dp_sum, dp_count,
        |  CAST(CAST(dp_sum AS DOUBLE) / CAST(dp_count AS DOUBLE) AS REAL)
        |    AS dp_mean
        |FROM rel ORDER BY event_type""".stripMargin)),
    // round 18: ε-ledger with basic + advanced composition bounds over
    // the standing release inventory (exact µε grid)
    QueryDef("privacy_budget_ledger", Privacy.privacyBudgetLedger(_, _),
      Some(privacyLedgerOracleSql)),
  )
}
