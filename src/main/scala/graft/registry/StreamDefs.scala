package graft.registry

import graft.streaming.StreamQueries

/** The stream family, 29 queries: `stream_`. Each drain's oracle is
  * its batch twin's (drain == batch by contract); a twin shared with
  * another family is that family's `private[registry]` helper. */
object StreamDefs {

  val defs: Seq[QueryDef] = Seq(
    // integer-exact online z-score gate (transformWithState ValueState)
    // the streaming state's verdicts replayed as cumulative
    // 1-PRECEDING window sums — integer-exact on both sides
    QueryDef("stream_anomaly_zscore", StreamQueries.streamAnomalyZscore(_, _), Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), cum AS (
        |  SELECT user_id, event_id, v3,
        |    count(*) OVER w AS n,
        |    COALESCE(sum(v3) OVER w, 0) AS s,
        |    COALESCE(sum(v3 * v3) OVER w, 0) AS q
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, event_id, CAST(n AS BIGINT) AS n_prior
        |FROM cum
        |WHERE n >= 10
        |  AND (v3 * n - s) * (v3 * n - s) > 9 * (n * q - s * s)
        |ORDER BY user_id, event_id""".stripMargin)),
    // Structured Streaming (real streaming queries, AvailableNow drain —
    // full drain == batch answer, which is the oracle)
    QueryDef("stream_window_agg", StreamQueries.streamWindowAgg _, Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(sum(value) AS REAL) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    QueryDef("stream_session_counts", StreamQueries.streamSessionCounts(_, _), Some(
      """SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ms IS NULL
        |      OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END) AS INT)
        |    AS n_sessions
        |FROM (SELECT user_id, ts,
        |        lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("stream_dedup_keys", StreamQueries.streamDedupKeys _, Some(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),
    QueryDef("stream_static_join", StreamQueries.streamStaticJoin _, Some(
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(sum(value) AS REAL) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QueryDef("stream_stream_join", StreamQueries.streamStreamJoin(_, _), Some(
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin)),
    QueryDef("stream_foreachbatch_upsert", StreamQueries.streamForeachbatchUpsert _, Some(
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, t AS last_ts_us, event_id AS last_event_id,
        |  value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // the watermark finalization + late-drop rule as plain SQL: on-time
    // rows only, windows whose end precedes max(ts) - 1h (the watermark
    // after the first arrival batch, which holds the newest events)
    QueryDef("stream_late_data", StreamQueries.streamLateData(_, _), Some(
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |ontime AS (
        |  SELECT * FROM events
        |  WHERE NOT (event_id % 7 = 0 AND ts < TIMESTAMP '2024-01-15')
        |)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(sum(value) AS REAL) AS sum_value
        |FROM ontime, mx
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |  <= m - INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    QueryDef("stream_hopping_agg", StreamQueries.streamHoppingAgg _, Some(
      """WITH e AS (SELECT event_type, value,
        |    (epoch_ms(ts) // 10800000) * 10800 AS s3 FROM events)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' + ws * INTERVAL 1 SECOND
        |    AS window_start,
        |  event_type, count(*) AS n, CAST(sum(value) AS REAL) AS sum_value
        |FROM (SELECT event_type, value, unnest([s3 - 10800, s3]) AS ws
        |  FROM e)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    // native session_window in append mode: the oracle is the batch
    // gap-rule sessionization filtered to sessions the final watermark
    // (max ts - 1h) finalized — session end = last event + 30min gap
    QueryDef("stream_session_window", StreamQueries.streamSessionWindowNative _, Some(
      """WITH o AS (SELECT user_id, ts, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS prev
        |  FROM events),
        |m AS (SELECT *,
        |    sum(CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS island FROM o),
        |s AS (SELECT user_id, min(us) AS s_us, max(us) AS e_us,
        |    count(*) AS n_events
        |  FROM m GROUP BY user_id, island),
        |wm AS (SELECT max(us) - 3600000000 AS w FROM o)
        |SELECT user_id, make_timestamp(s_us) AS session_start, n_events
        |FROM s, wm WHERE e_us + 1800000000 <= w
        |ORDER BY user_id, session_start""".stripMargin)),
    // LEFT OUTER stream-stream join: the inner matches plus one
    // (click, NULL) row per click the FINAL watermark proved
    // unmatchable. Watermark = min of the two streams' (ms-floored)
    // max event times − 1h (multiple-watermark min policy); a click's
    // null emits when its 10-minute window closes strictly before it
    QueryDef("stream_stream_left_join", StreamQueries.streamStreamLeftJoin(_, _), Some(
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT date_trunc('milliseconds',
        |    least(max(CASE WHEN event_type = 'click' THEN ts END),
        |      max(CASE WHEN event_type = 'purchase' THEN ts END)))
        |    - INTERVAL 1 HOUR AS wm
        |  FROM events
        |), m AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
        |), u AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |    c.user_id
        |  FROM c, w
        |  WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = c.user_id
        |      AND p.purchase_ts >= c.click_ts
        |      AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE)
        |    AND c.click_ts + INTERVAL 10 MINUTE < w.wm
        |)
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY click_id, purchase_id""".stripMargin)),
    // chained stateful aggs: only hours the FINAL watermark finalized
    // flow through level 2 and emit
    QueryDef("stream_two_level_agg", StreamQueries.streamTwoLevelAgg(_, _), Some(
      """WITH w AS (
        |  SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events
        |), l1 AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT h AS window_start, CAST(count(*) AS BIGINT) AS n_types,
        |  max(n) AS max_n, CAST(sum(n) AS BIGINT) AS n_total
        |FROM l1, w WHERE h + INTERVAL 1 HOUR < wm
        |GROUP BY h ORDER BY window_start""".stripMargin)),
    // full AvailableNow drain == batch aggregate (the streaming-oracle
    // contract shared by the whole stream_* family)
    QueryDef("stream_transform_with_state", StreamQueries.streamTransformWithState _, Some(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(value) AS REAL) AS sum_value,
        |  max(ts) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // timer contract: emitted = users idle >= gap behind the final
    // watermark, all in the engine's millisecond-floor arithmetic
    QueryDef("stream_idle_timeout", StreamQueries.streamIdleTimeout(_, _), Some(
      """WITH wm AS (
        |  SELECT max(epoch_us(ts)) // 1000 - 600000 AS w FROM events
        |), u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    max(ts) AS idle_since FROM events GROUP BY user_id
        |)
        |SELECT user_id, n_events, idle_since FROM u, wm
        |WHERE epoch_us(idle_since) // 1000 + 1800000 <= w
        |ORDER BY user_id""".stripMargin)),
    QueryDef("stream_user_top_values", StreamQueries.streamUserTopValues _, Some(
      """WITH r AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events
        |), u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen
        |  FROM events GROUP BY user_id
        |)
        |SELECT u.user_id AS user_id, n_seen,
        |  max(CASE WHEN rk = 1 THEN value END) AS v1,
        |  max(CASE WHEN rk = 2 THEN value END) AS v2,
        |  max(CASE WHEN rk = 3 THEN value END) AS v3
        |FROM u JOIN r ON u.user_id = r.user_id AND rk <= 3
        |GROUP BY u.user_id, n_seen ORDER BY u.user_id""".stripMargin)),
    QueryDef("stream_user_type_counts", StreamQueries.streamUserTypeCounts _, Some(
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),
    QueryDef("stream_scd2_enrich", StreamQueries.streamScd2Enrich(_, _), Some(
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
    // streaming token-bucket admission control (transformWithState)
    // the token bucket replayed as a recursive CTE: burst 2, one token
    // per 12 h, admission iff a full token is present at arrival
    QueryDef("stream_rate_limit", StreamQueries.streamRateLimit(_, _), Some(
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |), walk AS (
        |  SELECT user_id, event_id, us, rn, TRUE AS allowed,
        |    CAST(2 * 43200000000 - 43200000000 AS BIGINT) AS tok_after
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.us, e.rn,
        |    least(2 * 43200000000, w.tok_after + (e.us - w.us))
        |      >= 43200000000,
        |    CAST(CASE WHEN least(2 * 43200000000,
        |        w.tok_after + (e.us - w.us)) >= 43200000000
        |      THEN least(2 * 43200000000, w.tok_after + (e.us - w.us))
        |        - 43200000000
        |      ELSE least(2 * 43200000000, w.tok_after + (e.us - w.us))
        |      END AS BIGINT)
        |  FROM ev e JOIN walk w
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |)
        |SELECT user_id, event_id, allowed FROM walk
        |ORDER BY user_id, event_id""".stripMargin)),
    // exact streaming distinct per window (dedup→aggregate chain)
    QueryDef("stream_windowed_distinct", StreamQueries.streamWindowedDistinct(_, _), Some(
      """SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
        |    AS window_start,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin)),
    // its streaming twin: ValueState carries (rn, x, P); drain == batch
    QueryDef("stream_kalman_filter", StreamQueries.streamKalmanFilter(_, _),
      Some(StatsDefs.kalmanRecurrenceSql)),
    // live OHLC candles: ordered first/last as mergeable min_by/max_by
    QueryDef("stream_ohlc_candles", StreamQueries.streamOhlcCandles(_, _),
      Some(StatsDefs.ohlcHourlySql)),
    // round 14: streaming incremental near-dup — per-micro-batch band-
    // index probe + ListState intra-delta candidates; drain == batch
    // the streaming twin drains to the identical panel (batch-
    // equivalence contract), so it shares the batch probe's oracle
    QueryDef("stream_dedup_incremental", StreamQueries.streamDedupIncremental(_, _),
      Some(DedupDefs.incrementalMinhashOracleSql)),
    // round 18: streaming IVF maintenance — per-micro-batch assignment
    // of arriving delta vectors into the persisted corpus-trained
    // cells; ValueState cumulative occupancy; drain == batch report
    // drain == batch row-for-row, so the batch IVF oracle adjudicates
    // the streaming twin too
    QueryDef("stream_ann_ivf_assign", StreamQueries.streamAnnIvfAssign(_, _),
      Some(AnnDefs.annIvfAssignOracleSql)),
    // round 15: monitoring twins — per-bin ValueState counters whose
    // drained panels feed the SAME epilogue as the batch queries
    // monitoring twins share their batch queries' oracles (drain==batch)
    QueryDef("stream_eval_ece", StreamQueries.streamEvalEce(_, _), Some(MlDefs.eceOracleSql)),
    QueryDef("stream_drift_psi", StreamQueries.streamDriftPsi(_, _),
      Some(StatsDefs.psiTermsOracleSql)),
    // round 16: the alert debouncer on its home turf — one-long-per-user
    // anchor ValueState; drain == batch row-for-row, shared CTE oracle
    QueryDef("stream_alert_debounce", StreamQueries.streamAlertDebounce(_, _),
      Some(StatsDefs.debounceRecurrenceSql)),
    QueryDef("stream_dq_benford", StreamQueries.streamDqBenford(_, _),
      Some(StatsDefs.benfordOracleSql)),
    QueryDef("stream_cusum_target", StreamQueries.streamCusumTarget(_, _),
      Some(StatsDefs.cusumTargetRecurrenceSql)),
    QueryDef("stream_croston", StreamQueries.streamCroston(_, _),
      Some(StatsDefs.crostonRecurrenceSql)),
  )
}
