package graft.registry

import graft.query.Endpoints
import graft.query.ml.{Agreement, Calibration, Features, Preference, Ranking,
  Scoring, Significance, TextMetrics}

/** The ml family, 50 queries: the four RandomForest programs
  * (`q1_predict_duration`, `q2_sensitivity_ml`, `q3_optimal_time_ml`,
  * `m6_growing_window_importances`, the only queries without an oracle,
  * since DuckDB cannot replay an MLlib forest) and the model-evaluation
  * and feature queries: `eval_`, `feature_`, `ml_`, `class_`, `train_`,
  * `pref_`, `pareto_`. */
object MlDefs {

  /** The [[graft.query.ml.Preference.evalBradleyTerry]] oracle: the MM
    * fixpoint unrolled into `iters` CTE layers over the 20-cell win
    * matrix, each layer the IDENTICAL fixed-parenthesization scalar
    * expressions the Spark column layers evaluate — the
    * ts_pacf_durbin_levinson discipline, so the float ratings are
    * bit-identical. Generated, not hand-written: both sides derive
    * from the same slot/iteration loop shape. */
  private def btOracleSql(iters: Int): String = {
    val k = Preference.btSlots
    val slots = 0 until k
    def others(a: Int) = slots.filter(_ != a)
    val cells = (for (a <- slots; b <- slots if a != b) yield
      s"""CAST(coalesce(sum(CASE WHEN wi = $a AND li = $b THEN 1 END), 0)
         |      AS BIGINT) AS w_${a}_$b""".stripMargin).mkString(",\n    ")
    val wNames = (for (a <- slots; b <- slots if a != b)
      yield s"w_${a}_$b").mkString(", ")
    val p0 = slots.map(a =>
      s"CASE WHEN $a < (SELECT count(*) FROM t) THEN 1.0 ELSE 0.0 END " +
        s"AS p$a").mkString(", ")
    val layers = (1 to iters).map { r =>
      val ps = slots.map { a =>
        val wa = others(a).map(b => s"w_${a}_$b").mkString(" + ")
        val den = others(a).map(b =>
          s"CASE WHEN (p$a + p$b) > 0 THEN " +
            s"CAST(w_${a}_$b + w_${b}_$a AS DOUBLE) / (p$a + p$b) " +
            s"ELSE 0.0 END")
          .mkString(" + ")
        s"""CASE WHEN ($wa) > 0 AND ($den) > 0
           |      THEN CAST($wa AS DOUBLE) / ($den) ELSE p$a END AS p$a"""
          .stripMargin
      }.mkString(",\n    ")
      s"it$r AS (\n  SELECT $wNames,\n    $ps\n  FROM it${r - 1}\n)"
    }.mkString(", ")
    val tot = slots.map(a => s"p$a").mkString(" + ")
    val finals = slots.map { a =>
      val wins = others(a).map(b => s"w_${a}_$b").mkString(" + ")
      val losses = others(a).map(b => s"w_${b}_$a").mkString(" + ")
      s"""SELECT $a AS idx, CAST($wins AS BIGINT) AS wins,
         |    CAST($losses AS BIGINT) AS losses,
         |    CAST(p$a / ($tot) AS REAL) AS rating FROM it$iters"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    CAST(round(value * 1000.0) AS BIGINT) AS v3 FROM events
       |), t AS (
       |  SELECT * FROM (
       |    SELECT event_type,
       |      CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT)
       |        AS idx
       |    FROM (SELECT DISTINCT event_type FROM e)
       |  ) WHERE idx < $k
       |), m AS (
       |  SELECT event_id // 2 AS match_id,
       |    arg_min(event_type, event_id % 2) AS ta,
       |    arg_min(v3, event_id % 2) AS va,
       |    arg_max(event_type, event_id % 2) AS tb,
       |    arg_max(v3, event_id % 2) AS vb,
       |    count(*) AS cnt
       |  FROM e GROUP BY 1
       |), wl AS (
       |  SELECT CASE WHEN va >= vb THEN x.idx ELSE y.idx END AS wi,
       |    CASE WHEN va >= vb THEN y.idx ELSE x.idx END AS li
       |  FROM m JOIN t x ON m.ta = x.event_type
       |    JOIN t y ON m.tb = y.event_type
       |  WHERE cnt = 2 AND ta <> tb
       |), it0 AS (
       |  SELECT $wNames, $p0 FROM (
       |    SELECT
       |    $cells
       |    FROM wl)
       |), $layers, f AS (
       |  $finals
       |)
       |SELECT t.event_type AS model, f.idx, f.wins, f.losses,
       |  CAST(f.wins + f.losses AS BIGINT) AS n_matches, f.rating
       |FROM f JOIN t USING (idx) ORDER BY model""".stripMargin
  }

  /** The [[graft.query.ml.Ranking.evalTopkAgreement]] oracle: prefix
    * overlaps from the cumulative histogram of max(rank_a, rank_b),
    * the SHARED truncated-RBO weight literals per depth. */
  private def topkAgreementOracleSql(k: Int): String = {
    val rows = (1 to k).map { d =>
      val w = Ranking.rboWeights(d - 1)
      // literals go through DOUBLE explicitly: a bare decimal parses
      // as DECIMAL in DuckDB and CAST(DECIMAL AS REAL) can round to
      // the adjacent float vs the double->float path Spark takes
      s"""SELECT $d AS depth,
         |    CAST(coalesce(sum(CASE WHEN m <= $d THEN 1 END), 0)
         |      AS BIGINT) AS overlap,
         |    CAST(coalesce(sum(CASE WHEN m <= $d THEN 1 END), 0)
         |      / CAST($d AS DOUBLE) AS REAL) AS agreement,
         |    CAST(CAST($w AS DOUBLE) AS REAL) AS weight,
         |    CAST(CAST($w AS DOUBLE)
         |      * (coalesce(sum(CASE WHEN m <= $d THEN 1 END), 0)
         |      / CAST($d AS DOUBLE)) AS REAL) AS contribution
         |  FROM m""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH s AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS sa,
       |    CAST(len(list_distinct(string_split(lower(trim(
       |      regexp_replace(text, '\\s+', ' ', 'g'))), ' ')))
       |      AS BIGINT) AS sb
       |  FROM documents
       |), r AS (
       |  SELECT greatest(
       |    row_number() OVER (ORDER BY sa DESC, doc_id),
       |    row_number() OVER (ORDER BY sb DESC, doc_id)) AS m
       |  FROM s
       |), m AS (SELECT m FROM r)
       |SELECT * FROM (
       |  $rows
       |) ORDER BY depth""".stripMargin
  }

  /** The shared paired-bootstrap CTE prefix (`e`→`a`): the paired-ok
    * frame, the ×reps replica fanout, the Poisson(1) threshold weights,
    * and the per-replica integer sums — read by both
    * [[pairedBootstrapOracleSql]] and [[bcaOracleSql]], so the two
    * oracles replay the IDENTICAL replica table by construction. */
  private def pairedBootCtes(reps: Int): String =
    pairedBootCtesFrom(reps, sampledTarget = None)

  /** `sampledTarget = Some(t)` inserts the deterministic hash-threshold
    * subsample between the paired frame and the replica fanout: mod =
    * ⌈N/t⌉ recomputed IN SQL from the same events count the Spark plan
    * probes, so both engines draw the identical subsample (the
    * [[graft.query.ml.Significance.evalBootstrapBcaSampled]] contract). The
    * splice text carries `|` margins and is interpolated BEFORE the
    * single stripMargin call — the one-stripMargin discipline the NOTE
    * below pins (a pre-stripped splice whose lines open with `||`
    * would be corrupted by the outer strip). */
  private def pairedBootCtesFrom(reps: Int,
      sampledTarget: Option[Long]): String = {
    val t = Significance.poissonThresh60
    // margin-carrying splice: starts with a newline, ends at `|)` so the
    // outer template's `|)$subCtes, r AS (` reads as s-close → mq → ss →
    // r-open after the ONE stripMargin
    val subCtes = sampledTarget.fold("") { tgt =>
      s"""
         |, mq AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_full,
         |    greatest(CAST(1 AS BIGINT),
         |      (CAST(count(*) AS BIGINT) + ${tgt - 1}) // $tgt) AS md
         |  FROM events
         |), ss AS (
         |  SELECT s.* FROM s, mq
         |  WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':bcasub'), 1, 15) AS BIGINT) % mq.md = 0
         |)"""
    }
    val src = if (sampledTarget.isDefined) "ss" else "s"
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    CAST(round(value * 1000.0) AS BIGINT) AS v3
       |  FROM events
       |), m AS (
       |  SELECT event_type, CAST(sum(v3) AS BIGINT) AS s3,
       |    CAST(count(*) AS BIGINT) AS n_t FROM e GROUP BY event_type
       |), g AS (
       |  SELECT CAST(sum(v3) AS BIGINT) AS g3,
       |    CAST(count(*) AS BIGINT) AS n_g FROM e
       |), s AS (
       |  SELECT e.event_id,
       |    (e.v3 * m.n_t > m.s3) = lbl AS a_ok,
       |    (e.v3 * g.n_g > g.g3) = lbl AS b_ok
       |  FROM e JOIN m USING (event_type) CROSS JOIN g,
       |    LATERAL (SELECT CAST('0x' || substr(md5(
       |      CAST(e.event_id AS VARCHAR) || ':label'), 1, 15)
       |      AS BIGINT) % 2 = 1 AS lbl) l
       |)$subCtes, r AS (
       |  SELECT $src.*, i AS replica,
       |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
       |      || ':boot:' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM $src, LATERAL (SELECT unnest(
       |    generate_series(0, ${reps - 1})) AS i) x
       |), wv AS (
       |  SELECT replica,
       |    CASE WHEN h < ${t(0)} THEN 0 WHEN h < ${t(1)} THEN 1
       |      WHEN h < ${t(2)} THEN 2 WHEN h < ${t(3)} THEN 3
       |      WHEN h < ${t(4)} THEN 4 ELSE 5 END AS w,
       |    a_ok, b_ok
       |  FROM r
       |), a AS (
       |  SELECT replica, CAST(sum(w) AS BIGINT) AS n_eff,
       |    CAST(sum(w * CASE WHEN a_ok THEN 1 ELSE 0 END) AS BIGINT)
       |      AS sum_a,
       |    CAST(sum(w * CASE WHEN b_ok THEN 1 ELSE 0 END) AS BIGINT)
       |      AS sum_b
       |  FROM wv GROUP BY replica
       |)""".stripMargin
  }

  // NOTE both consumers CONCATENATE the prefix (never re-interpolate it
  // into another stripMargin template: the prefix contains `||` at line
  // starts, which a second stripMargin would corrupt)
  /** The [[graft.query.ml.Significance.evalPairedBootstrap]] oracle: the
    * same McNemar paired-classifier CTEs, fanned out ×reps with the
    * SHARED 2⁶⁰-scaled Poisson-CDF thresholds inlined as literals —
    * both engines evaluate identical integer compares. */
  private def pairedBootstrapOracleSql(reps: Int): String = {
    pairedBootCtes(reps) + "\n" +
    """SELECT CAST(replica AS INT) AS replica, n_eff, sum_a, sum_b,
       |  CAST(CAST(sum_a AS DOUBLE) / CAST(n_eff AS DOUBLE) AS REAL)
       |    AS acc_a,
       |  CAST(CAST(sum_b AS DOUBLE) / CAST(n_eff AS DOUBLE) AS REAL)
       |    AS acc_b,
       |  CAST(CAST(sum_a AS DOUBLE) / CAST(n_eff AS DOUBLE)
       |    - CAST(sum_b AS DOUBLE) / CAST(n_eff AS DOUBLE) AS REAL)
       |    AS delta
       |FROM a ORDER BY replica""".stripMargin
  }

  /** The [[graft.query.ml.Significance.evalBootstrapBca]] oracle: the shared
    * replica CTEs, the exact d∈{−1,0,1} tallies, HUGEINT jackknife
    * moments (Spark holds DECIMAL(38,0)), and the Φ⁻¹ grid inlined as a
    * VALUES table from the SAME [[graft.query.ml.Significance.invNormGrid]]
    * literals the Spark plan carries — neither engine evaluates a
    * normal quantile at query time, and the percentile index is the
    * grid-threshold count (⌈Φ(w)·B⌉ = 1 + #{k : Φ⁻¹(k/B) < w}). */
  private def bcaOracleSql(reps: Int): String =
    bcaOracleSqlFrom(reps, sampledTarget = None)

  /** `sampledTarget = Some(t)` → the oracle for
    * [[graft.query.ml.Significance.evalBootstrapBcaSampled]]: identical BCa
    * tail over the `ss` subsample CTE, plus the √(N/n_sub) widening
    * columns — every splice margin-carrying under the ONE stripMargin. */
  private def bcaOracleSqlFrom(reps: Int,
      sampledTarget: Option[Long]): String = {
    val tz = Significance.invNormGrid(reps)
    val zLo = Significance.invNormCdf(0.025)
    val zHi = Significance.invNormCdf(0.975)
    val zgRows = tz.zipWithIndex
      .map { case (z, i) => s"(${i + 1}, CAST($z AS DOUBLE))" }
      .mkString(", ")
    val tsrc = if (sampledTarget.isDefined) "ss" else "s"
    val mqJoin = if (sampledTarget.isDefined) " CROSS JOIN mq" else ""
    // fixed-parenthesization double epilogue: theta + (ci − theta)·
    // √(n/N) — the m-out-of-n PROJECTION (shrink, not widen: the
    // subsample replica spread already carries the √(N/n) inflation) —
    // the exact expression tree the Spark plan carries
    def wCol(d: String, as: String): String =
      s"""
         |  , CAST(CAST(i.d_total AS DOUBLE) / CAST(i.n_items AS DOUBLE) + (CAST($d AS DOUBLE) - CAST(i.d_total AS DOUBLE) / CAST(i.n_items AS DOUBLE)) * sqrt(CAST(i.n_items AS DOUBLE) / CAST(mq.n_full AS DOUBLE)) AS REAL) AS $as"""
    val widenCols = if (sampledTarget.isEmpty) "" else
      s"""
         |  , mq.n_full,
         |  CAST(sqrt(CAST(mq.n_full AS DOUBLE) / CAST(i.n_items AS DOUBLE)) AS REAL) AS widen""" +
        wCol("rl.delta", "ci_lo_proj") + wCol("rh.delta", "ci_hi_proj")
    pairedBootCtesFrom(reps, sampledTarget) + ",\n" +
    s"""bs AS (
       |  SELECT CAST(replica AS INT) AS replica, n_eff, sum_a, sum_b,
       |    CAST(CAST(sum_a AS DOUBLE) / CAST(n_eff AS DOUBLE)
       |      - CAST(sum_b AS DOUBLE) / CAST(n_eff AS DOUBLE) AS REAL)
       |      AS delta
       |  FROM a
       |), tly AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(coalesce(sum(CASE WHEN a_ok THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS sa,
       |    CAST(coalesce(sum(CASE WHEN b_ok THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS sb,
       |    CAST(coalesce(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS cm,
       |    CAST(coalesce(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0
       |      END), 0) AS BIGINT) AS cp
       |  FROM $tsrc
       |), blw AS (
       |  SELECT CAST(coalesce(sum(CASE WHEN
       |      (bs.sum_a - bs.sum_b) * t.n_items
       |        < (t.sa - t.sb) * bs.n_eff THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS cnt_below
       |  FROM bs CROSS JOIN tly t
       |), core AS (
       |  SELECT t.n_items, t.sa - t.sb AS d_total, t.cm, t.cp,
       |    b.cnt_below
       |  FROM tly t CROSS JOIN blw b WHERE t.n_items > 0
       |), mom AS (
       |  SELECT core.*,
       |    CAST(cm AS HUGEINT)
       |        * CAST(n_items + d_total AS HUGEINT)
       |        * CAST(n_items + d_total AS HUGEINT)
       |      + CAST(n_items - cm - cp AS HUGEINT)
       |        * CAST(d_total AS HUGEINT) * CAST(d_total AS HUGEINT)
       |      + CAST(cp AS HUGEINT)
       |        * CAST(n_items - d_total AS HUGEINT)
       |        * CAST(n_items - d_total AS HUGEINT) AS i2,
       |    -(CAST(cm AS HUGEINT)
       |        * CAST(n_items + d_total AS HUGEINT)
       |        * CAST(n_items + d_total AS HUGEINT)
       |        * CAST(n_items + d_total AS HUGEINT))
       |      - CAST(n_items - cm - cp AS HUGEINT)
       |        * CAST(d_total AS HUGEINT) * CAST(d_total AS HUGEINT)
       |        * CAST(d_total AS HUGEINT)
       |      + CAST(cp AS HUGEINT)
       |        * CAST(n_items - d_total AS HUGEINT)
       |        * CAST(n_items - d_total AS HUGEINT)
       |        * CAST(n_items - d_total AS HUGEINT) AS i3
       |  FROM core
       |), zg AS (SELECT * FROM (VALUES $zgRows) AS zz(k, z)),
       |acc AS (
       |  SELECT mom.*, CASE WHEN i2 = 0 THEN 0.0
       |    ELSE CAST(i3 AS DOUBLE)
       |      / (6.0 * CAST(i2 AS DOUBLE) * sqrt(CAST(i2 AS DOUBLE)))
       |    END AS accel_d
       |  FROM mom
       |), zr AS (
       |  SELECT acc.*, zg.z AS z0_d
       |  FROM acc JOIN zg ON zg.k
       |    = CAST(least(greatest(acc.cnt_below, 1), ${reps - 1}) AS INT)
       |), w AS (
       |  SELECT zr.*,
       |    z0_d + (z0_d + $zLo) / (1.0 - accel_d * (z0_d + $zLo))
       |      AS w_lo_d,
       |    z0_d + (z0_d + $zHi) / (1.0 - accel_d * (z0_d + $zHi))
       |      AS w_hi_d
       |  FROM zr
       |), idx AS (
       |  SELECT w.*,
       |    CAST(1 + (SELECT count(*) FROM zg WHERE zg.z < w.w_lo_d)
       |      AS INT) AS idx_lo,
       |    CAST(1 + (SELECT count(*) FROM zg WHERE zg.z < w.w_hi_d)
       |      AS INT) AS idx_hi
       |  FROM w
       |), ranked AS (
       |  SELECT delta, row_number()
       |    OVER (ORDER BY delta NULLS LAST, replica) AS rk
       |  FROM bs
       |)
       |SELECT i.n_items, i.d_total, i.cnt_below,
       |  CAST(CAST(i.d_total AS DOUBLE) / CAST(i.n_items AS DOUBLE)
       |    AS REAL) AS theta_hat,
       |  CAST(i.z0_d AS REAL) AS z0, CAST(i.accel_d AS REAL) AS accel,
       |  i.idx_lo, i.idx_hi, rl.delta AS ci_lo, rh.delta AS ci_hi$widenCols
       |FROM idx i JOIN ranked rl ON rl.rk = i.idx_lo
       |  JOIN ranked rh ON rh.rk = i.idx_hi$mqJoin""".stripMargin
  }

  /** eval_ece oracle — shared with the transformWithState streaming
    * twin (drain == batch contract, same panel, same epilogue). */
  private[registry] lazy val eceOracleSql: String =
    """WITH s AS (
        |  SELECT least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5,
        |    0.0), 0.9999) AS score, label
        |  FROM embeddings
        |), b AS (
        |  SELECT CAST(floor(score * 10) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS DOUBLE)
        |      / 1000000.0 AS sum_score,
        |    CAST(count(CASE WHEN label % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS n_pos
        |  FROM s GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(count(*) AS BIGINT) AS n_bins
        |  FROM b
        |), terms AS (
        |  SELECT bin, n_total, n_bins,
        |    (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      * abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |        - sum_score / CAST(n AS DOUBLE)) AS term,
        |    abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |      - sum_score / CAST(n AS DOUBLE)) AS gap
        |  FROM b CROSS JOIN t
        |), p AS (
        |  SELECT n_total, n_bins,
        |    coalesce(sum(CASE WHEN bin = 0 THEN term END), 0.0) AS t0,
        |    coalesce(sum(CASE WHEN bin = 1 THEN term END), 0.0) AS t1,
        |    coalesce(sum(CASE WHEN bin = 2 THEN term END), 0.0) AS t2,
        |    coalesce(sum(CASE WHEN bin = 3 THEN term END), 0.0) AS t3,
        |    coalesce(sum(CASE WHEN bin = 4 THEN term END), 0.0) AS t4,
        |    coalesce(sum(CASE WHEN bin = 5 THEN term END), 0.0) AS t5,
        |    coalesce(sum(CASE WHEN bin = 6 THEN term END), 0.0) AS t6,
        |    coalesce(sum(CASE WHEN bin = 7 THEN term END), 0.0) AS t7,
        |    coalesce(sum(CASE WHEN bin = 8 THEN term END), 0.0) AS t8,
        |    coalesce(sum(CASE WHEN bin = 9 THEN term END), 0.0) AS t9,
        |    max(gap) AS max_gap
        |  FROM terms GROUP BY n_total, n_bins
        |)
        |SELECT n_total, n_bins,
        |  CAST(t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7 + t8 + t9 AS REAL)
        |    AS ece,
        |  CAST(max_gap AS REAL) AS max_gap
        |FROM p""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // §2.6/2.7 ML operators (no SQL oracle — RF scoring; covered by
    // determinism/invariant specs, driver records rows-only checks)
    QueryDef("m6_growing_window_importances",
      Endpoints.m6GrowingWindowImportances(_, _), oracle = None),
    QueryDef("q1_predict_duration", Endpoints.q1Predict(_, _), oracle = None),
    QueryDef("q2_sensitivity_ml", Endpoints.q2Sensitivity(_, _), oracle = None),
    QueryDef("q3_optimal_time_ml", Endpoints.q3OptimalTime(_, _), oracle = None),
    QueryDef("feature_woe_iv", Features.featureWoeIv(_, _), Some(
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
        |  FROM events
        |), c AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS good
        |  FROM ev GROUP BY event_type
        |), c2 AS (SELECT event_type, n, good, n - good AS bad FROM c),
        |g AS (
        |  SELECT CAST(sum(good) AS BIGINT) AS gt,
        |    CAST(sum(bad) AS BIGINT) AS bt FROM c2
        |)
        |SELECT c2.event_type, c2.n, c2.good, c2.bad,
        |  CAST(ln(CAST((2 * good + 1) * bt AS DOUBLE)
        |    / CAST((2 * bad + 1) * gt AS DOUBLE)) AS REAL) AS woe,
        |  CAST(CAST((2 * good + 1) * bt - (2 * bad + 1) * gt AS DOUBLE)
        |    / CAST(2 * gt * bt AS DOUBLE)
        |    * ln(CAST((2 * good + 1) * bt AS DOUBLE)
        |      / CAST((2 * bad + 1) * gt AS DOUBLE)) AS REAL) AS iv_term
        |FROM c2, g ORDER BY event_type""".stripMargin)),
    // skyline: the declarative NOT EXISTS dominance definition; the
    // engine's bucket-prefilter + survivor anti-join must equal it
    QueryDef("pareto_frontier", Preference.paretoFrontier(_, _), Some(
      """WITH m AS (
        |  SELECT l_partkey AS p_partkey, sum(l_quantity) AS total_qty,
        |    min(l_extendedprice / l_quantity) AS min_unit_price
        |  FROM lineitem GROUP BY 1)
        |SELECT p_partkey, total_qty, min_unit_price FROM m p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m q
        |  WHERE q.total_qty >= p.total_qty
        |    AND q.min_unit_price <= p.min_unit_price
        |    AND (q.total_qty > p.total_qty
        |      OR q.min_unit_price < p.min_unit_price))
        |ORDER BY p_partkey""".stripMargin)),
    // affine-clamp score (no exp: bit-identical across engines); n_pos
    // via count(CASE) so both sides emit BIGINT, not DuckDB HUGEINT
    // score mass on the ×10⁶ micro-unit grid (raw double sums of the
    // 0.9999-clamped score drifted at x10), one division back
    QueryDef("eval_calibration_bins", Calibration.evalCalibrationBins _, Some(
      """WITH s AS (
        |  SELECT vec_id,
        |    least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5, 0.0),
        |      0.9999) AS score,
        |    label
        |  FROM embeddings)
        |SELECT CAST(floor(score * 10) AS INT) AS bin, count(*) AS n,
        |  CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 AS sum_score,
        |  count(CASE WHEN label % 2 = 1 THEN 1 END) AS n_pos
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("eval_auc_roc", Scoring.evalAucRoc _, Some(
      """WITH s AS (
        |  SELECT least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5,
        |    0.0), 0.9999) AS score,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), r AS (
        |  SELECT y, CAST(rank() OVER (ORDER BY score) AS DOUBLE)
        |    + (CAST(count(*) OVER (PARTITION BY score) AS DOUBLE) - 1.0)
        |      / 2.0 AS avg_rank
        |  FROM s
        |), agg AS (
        |  SELECT CAST(sum(CASE WHEN y = 1 THEN avg_rank END) AS DOUBLE)
        |      AS rpos,
        |    CAST(count(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS npos,
        |    CAST(count(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS nneg
        |  FROM r
        |)
        |SELECT npos, nneg,
        |  CAST((rpos - CAST(npos AS DOUBLE) * (CAST(npos AS DOUBLE) + 1.0)
        |      / 2.0)
        |    / (CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS REAL) AS auc
        |FROM agg""".stripMargin)),
    QueryDef("train_test_split", Features.trainTestSplit _, Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |    AS BIGINT) AS tok,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':split'), 1, 15) AS BIGINT) % 10 < 8 THEN 'train'
        |      WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':split'), 1, 15) AS BIGINT) % 10 = 8 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents
        |)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS n_tokens,
        |  CAST(CAST(sum(tok) AS DOUBLE) / count(*) AS REAL) AS avg_tokens
        |FROM d GROUP BY split ORDER BY split""".stripMargin)),
    QueryDef("class_weights", Features.classWeights _, Some(
      """WITH cc AS (
        |  SELECT event_type, count(*) AS n_class FROM events
        |  GROUP BY event_type
        |), tot AS (
        |  SELECT count(*) AS n_total,
        |    count(DISTINCT event_type) AS n_classes
        |  FROM events
        |)
        |SELECT e.event_id, e.event_type,
        |  CAST(tot.n_total AS DOUBLE) / (tot.n_classes * cc.n_class)
        |    AS weight
        |FROM events e JOIN cc ON cc.event_type = e.event_type, tot
        |WHERE e.event_id < 100
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("feature_binning", Features.featureBinning(_, _), Some(
      """WITH bs AS (
        |  SELECT quantile_cont(value,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS b
        |  FROM events
        |)
        |SELECT e.event_id, e.value,
        |  CAST(len(list_filter(bs.b, x -> e.value > x)) + 1 AS INT) AS bin
        |FROM events e, bs
        |WHERE e.event_id < 2000
        |ORDER BY e.event_id""".stripMargin)),
    // leave-one-out target encoding with additive smoothing, exact rationals
    // one exact integer numerator/denominator, ONE double division —
    // same assembly order as the Spark side
    QueryDef("feature_target_encode", Features.featureTargetEncode(_, _), Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v6
        |  FROM events
        |), g AS (
        |  SELECT event_type, CAST(sum(v6) AS BIGINT) AS sg,
        |    CAST(count(*) AS BIGINT) AS ng
        |  FROM e GROUP BY event_type
        |), t AS (
        |  SELECT CAST(sum(v6) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM e
        |)
        |SELECT e.event_id, e.event_type,
        |  CAST(CAST(g.sg - e.v6 AS HUGEINT) * t.n
        |      + 10 * CAST(t.s AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(g.ng - 1 + 10 AS HUGEINT) * t.n AS DOUBLE)
        |    / 1000000.0 AS loo_te
        |FROM e JOIN g ON e.event_type = g.event_type CROSS JOIN t
        |WHERE e.event_id < 2000
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("eval_confusion", Scoring.evalConfusion _, Some(
      """WITH types AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
        |      AS idx
        |  FROM (SELECT DISTINCT event_type FROM events)
        |), kk AS (SELECT count(*) AS k FROM types),
        |labeled AS (
        |  SELECT e.event_id, e.event_type AS label, t.idx, kk.k,
        |    CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |      || ':pred'), 1, 15) AS BIGINT) AS h
        |  FROM events e JOIN types t ON t.event_type = e.event_type, kk
        |), preds AS (
        |  SELECT event_id, label,
        |    CASE WHEN h % 20 < 15 THEN idx
        |      ELSE (idx + 1 + (h % 20 - 15) % (k - 1)) % k END AS pidx
        |  FROM labeled
        |), named AS (
        |  SELECT p.label, t2.event_type AS pred
        |  FROM preds p JOIN types t2 ON t2.idx = p.pidx
        |), cells AS (
        |  SELECT label, pred, count(*) AS n FROM named GROUP BY 1, 2
        |)
        |SELECT label, pred, n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY label) AS row_frac
        |FROM cells ORDER BY label, pred""".stripMargin)),
    QueryDef("eval_retrieval_metrics", Ranking.evalRetrievalMetrics(_, _), Some(
      """WITH qs AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |  FROM embeddings WHERE vec_id < 20
        |), scored AS (
        |  SELECT qid, qlabel, e.vec_id, e.label,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qe AS DOUBLE[])) AS cos
        |  FROM embeddings e JOIN qs ON e.vec_id <> qid
        |), ranked AS (
        |  SELECT qid, qlabel, label,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored
        |), pq AS (
        |  SELECT qid,
        |    sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS hits,
        |    min(CASE WHEN label = qlabel THEN rn END) AS first_hit
        |  FROM ranked WHERE rn <= 10 GROUP BY qid
        |)
        |SELECT count(*) AS n_queries,
        |  CAST(avg(CAST(hits AS DOUBLE) / 10) AS REAL) AS precision_at_k,
        |  CAST(avg(coalesce(1.0 / first_hit, 0.0)) AS REAL) AS mrr
        |FROM pq""".stripMargin)),
    QueryDef("eval_pr_auc", Scoring.evalPrAuc _, Some(
      """WITH s AS (
        |  SELECT vec_id, least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0
        |      + 0.5, 0.0), 0.9999) AS score,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), r AS (
        |  SELECT y,
        |    CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS DOUBLE)
        |      AS k,
        |    CAST(sum(y) OVER (ORDER BY score DESC, vec_id
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS tp
        |  FROM s
        |)
        |SELECT CAST(count(*) AS BIGINT) AS npos,
        |  CAST(sum(tp / k) / CAST(count(*) AS DOUBLE) AS REAL)
        |    AS avg_precision
        |FROM r WHERE y = 1""".stripMargin)),
    QueryDef("eval_brier_decomp", Calibration.evalBrierDecomp _, Some(
      """WITH s AS (
        |  SELECT least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5,
        |      0.0), 0.9999) AS p,
        |    CASE WHEN label % 2 = 1 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM embeddings
        |), sb AS (
        |  SELECT p, y, CAST(least(floor(p * 10.0), 9.0) AS INT) AS bin
        |  FROM s
        |), tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(y) AS sumy,
        |    sum((p - y) * (p - y)) AS sumsq
        |  FROM sb
        |), b AS (
        |  SELECT bin, CAST(count(*) AS DOUBLE) AS nb, sum(p) AS sp,
        |    sum(y) AS sy
        |  FROM sb GROUP BY bin
        |), d AS (
        |  SELECT n, sumsq, sumy,
        |    sum(nb * (sp / nb - sy / nb) * (sp / nb - sy / nb)) AS rel,
        |    sum(nb * (sy / nb - sumy / n) * (sy / nb - sumy / n)) AS res
        |  FROM b CROSS JOIN tot GROUP BY n, sumsq, sumy
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sumsq / n AS REAL) AS brier,
        |  CAST(rel / n AS REAL) AS reliability,
        |  CAST(res / n AS REAL) AS resolution,
        |  CAST((sumy / n) * (1.0 - sumy / n) AS REAL) AS uncertainty
        |FROM d""".stripMargin)),
    QueryDef("eval_silhouette_centroid", Scoring.evalSilhouetteCentroid _, Some(
      """WITH x AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings
        |), cs AS (
        |  SELECT label, j, sum(x[j]) AS s, CAST(count(*) AS DOUBLE) AS cn
        |  FROM x, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t
        |  GROUP BY label, j
        |), cent AS (
        |  SELECT label AS clabel, list(s / cn ORDER BY j) AS c FROM cs
        |  GROUP BY label
        |), d AS (
        |  SELECT x.vec_id, x.label, cent.clabel,
        |    sqrt(greatest(
        |      list_dot_product(x.x, x.x)
        |        - 2.0 * list_dot_product(x.x, cent.c)
        |        + list_dot_product(cent.c, cent.c), 0.0)) AS dist
        |  FROM x CROSS JOIN cent
        |), ab AS (
        |  SELECT vec_id, label,
        |    min(CASE WHEN label = clabel THEN dist END) AS a,
        |    min(CASE WHEN label <> clabel THEN dist END) AS b
        |  FROM d GROUP BY vec_id, label
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(avg((b - a) / greatest(a, b)) AS REAL) AS mean_silhouette
        |FROM ab GROUP BY label ORDER BY label""".stripMargin)),
    QueryDef("eval_ks_test", Significance.evalKsTest _, Some(
      """WITH pv AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value
        |), t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM pv),
        |c AS (
        |  SELECT value,
        |    sum(na) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(nb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM pv
        |)
        |SELECT CAST(ta AS BIGINT) AS n_click, CAST(tb AS BIGINT)
        |    AS n_purchase,
        |  max(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
        |    - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))) AS ks_stat
        |FROM c, t GROUP BY ta, tb""".stripMargin)),
    QueryDef("eval_decile_lift", Scoring.evalDecileLift _, Some(
      """WITH s AS (
        |  SELECT vec_id,
        |    least(greatest(
        |      CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5, 0.0), 0.9999)
        |      AS score,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(y) AS BIGINT) AS np FROM s),
        |r AS (
        |  SELECT y, row_number() OVER (ORDER BY score DESC, vec_id) AS r
        |  FROM s
        |), d AS (
        |  SELECT CAST((r - 1) * 10 // nt AS INT) AS decile, y FROM r, t
        |)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos_decile,
        |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS response_rate,
        |  CAST((CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    / ((SELECT CAST(np AS DOUBLE) FROM t)
        |       / (SELECT CAST(nt AS DOUBLE) FROM t)) AS REAL) AS lift
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),
    // chance-corrected inter-rater agreement (deterministic raters)
    QueryDef("eval_cohens_kappa", Agreement.evalCohensKappa _, Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(sum(v3) AS BIGINT) AS s3,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY event_type
        |), r AS (
        |  SELECT e.event_id,
        |    CASE WHEN e.v3 * m.n > m.s3 THEN 1 ELSE 0 END AS a,
        |    CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |      || ':rater'), 1, 15) AS BIGINT) % 2 AS INT) AS b
        |  FROM e JOIN m USING (event_type)
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree,
        |    CAST(sum(a) AS BIGINT) AS n_a1,
        |    CAST(sum(b) AS BIGINT) AS n_b1
        |  FROM r
        |), p AS (
        |  SELECT *, CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST(n_a1 AS DOUBLE) / CAST(n AS DOUBLE) AS pa1,
        |    CAST(n_b1 AS DOUBLE) / CAST(n AS DOUBLE) AS pb1
        |  FROM g
        |), q AS (
        |  SELECT *, pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1) AS pe FROM p
        |)
        |SELECT n, n_agree, n_a1, n_b1,
        |  CAST(po AS REAL) AS p_observed,
        |  CAST(pe AS REAL) AS p_expected,
        |  CAST((po - pe) / (1.0 - pe) AS REAL) AS kappa
        |FROM q""".stripMargin)),
    // McNemar's paired discordant test between the two labelers
    // McNemar: exact BIGINT contingency cells; continuity-corrected chi2
    QueryDef("eval_mcnemar", Significance.evalMcnemar _, Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(sum(v3) AS BIGINT) AS s3,
        |    CAST(count(*) AS BIGINT) AS n_t FROM e GROUP BY event_type
        |), g AS (
        |  SELECT CAST(sum(v3) AS BIGINT) AS g3,
        |    CAST(count(*) AS BIGINT) AS n_g FROM e
        |), r AS (
        |  SELECT
        |    (e.v3 * m.n_t > m.s3) = lbl AS a_ok,
        |    (e.v3 * g.n_g > g.g3) = lbl AS b_ok
        |  FROM e JOIN m USING (event_type) CROSS JOIN g,
        |    LATERAL (SELECT CAST('0x' || substr(md5(
        |      CAST(e.event_id AS VARCHAR) || ':label'), 1, 15)
        |      AS BIGINT) % 2 = 1 AS lbl) l
        |), c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both,
        |    CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a_only,
        |    CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b_only,
        |    CAST(sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_neither
        |  FROM r
        |)
        |SELECT n, n_both, n_a_only, n_b_only, n_neither,
        |  CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0.0
        |    ELSE (abs(CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
        |        - 1.0)
        |      * (abs(CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
        |        - 1.0)
        |      / (CAST(n_a_only AS DOUBLE) + CAST(n_b_only AS DOUBLE))
        |    END AS REAL) AS chi2
        |FROM c""".stripMargin)),
    // Fleiss' kappa: 3-rater 3-category chance-corrected agreement
    // Fleiss: latent cat + 3 PRF raters (7/10 agree); exact BIGINT sums
    QueryDef("eval_fleiss_kappa", Agreement.evalFleissKappa _, Some(
      """WITH r AS (
        |  SELECT event_id,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |      || ':truecat'), 1, 15) AS BIGINT) % 3 AS base
        |  FROM events
        |), c AS (
        |  SELECT event_id,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':r1'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |      ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':alt1'), 1, 15) AS BIGINT) % 3 END AS c1,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':r2'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |      ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':alt2'), 1, 15) AS BIGINT) % 3 END AS c2,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':r3'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |      ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':alt3'), 1, 15) AS BIGINT) % 3 END AS c3
        |  FROM r
        |), n AS (
        |  SELECT
        |    CAST(CASE WHEN c1 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n0,
        |    CAST(CASE WHEN c1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n1,
        |    CAST(CASE WHEN c1 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n2
        |  FROM c
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(n0) AS BIGINT) AS s0, CAST(sum(n1) AS BIGINT) AS s1,
        |    CAST(sum(n2) AS BIGINT) AS s2,
        |    CAST(sum(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS ss
        |  FROM n
        |), q AS (
        |  SELECT *,
        |    (CAST(ss AS DOUBLE) - CAST(n_items AS DOUBLE) * 3.0)
        |      / (CAST(n_items AS DOUBLE) * 3.0 * 2.0) AS pbar,
        |    (CAST(s0 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |      * (CAST(s0 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |    + (CAST(s1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |      * (CAST(s1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |    + (CAST(s2 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |      * (CAST(s2 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
        |      AS pe
        |  FROM g
        |)
        |SELECT n_items, CAST(3 AS INT) AS m, s0, s1, s2, ss,
        |  CAST(pbar AS REAL) AS p_bar, CAST(pe AS REAL) AS p_e,
        |  CAST((pbar - pe) / (1.0 - pe) AS REAL) AS kappa
        |FROM q""".stripMargin)),
    // Spearman rho + Kendall tau-b between two quality signals, per lang
    // rank corr: doubled avg ranks -> exact Long moments; Kendall P/Q by
    // the O(n^2) pair join (the engine's inversion count must equal it)
    QueryDef("eval_rank_corr", Ranking.evalRankCorr _, Some(
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS tok
        |    FROM documents) GROUP BY 1, 2
        |), xy AS (
        |  SELECT d.lang, tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM tf JOIN documents d USING (doc_id)
        |  GROUP BY d.lang, tf.doc_id
        |), rk AS (
        |  SELECT lang, x, y,
        |    CAST(2 * rank() OVER (PARTITION BY lang ORDER BY x)
        |      + count(*) OVER (PARTITION BY lang, x) - 1 AS BIGINT)
        |      AS r2x,
        |    CAST(2 * rank() OVER (PARTITION BY lang ORDER BY y)
        |      + count(*) OVER (PARTITION BY lang, y) - 1 AS BIGINT)
        |      AS r2y
        |  FROM xy
        |), sp AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) * sum(r2x * r2y) - sum(r2x) * sum(r2y)
        |      AS BIGINT) AS s_num,
        |    CAST(count(*) * sum(r2x * r2x) - sum(r2x) * sum(r2x)
        |      AS BIGINT) AS s_d1,
        |    CAST(count(*) * sum(r2y * r2y) - sum(r2y) * sum(r2y)
        |      AS BIGINT) AS s_d2
        |  FROM rk GROUP BY lang
        |), pq AS (
        |  SELECT a.lang,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS p,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS q
        |  FROM xy a JOIN xy b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY a.lang
        |), tx AS (
        |  SELECT lang, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
        |  FROM (SELECT lang, x, count(*) AS t FROM xy GROUP BY 1, 2)
        |  GROUP BY lang
        |), ty AS (
        |  SELECT lang, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
        |  FROM (SELECT lang, y, count(*) AS t FROM xy GROUP BY 1, 2)
        |  GROUP BY lang
        |), txy AS (
        |  SELECT lang, CAST(sum(t * (t - 1) / 2) AS BIGINT) AS nxy
        |  FROM (SELECT lang, x, y, count(*) AS t FROM xy GROUP BY 1, 2, 3)
        |  GROUP BY lang
        |)
        |SELECT s.lang, s.n, s.s_num, s.s_d1, s.s_d2,
        |  CAST(CASE WHEN s.s_d1 > 0 AND s.s_d2 > 0
        |    THEN CAST(s.s_num AS DOUBLE)
        |      / sqrt(CAST(s.s_d1 AS DOUBLE) * CAST(s.s_d2 AS DOUBLE))
        |    END AS REAL) AS spearman_rho,
        |  CAST(s.n * (s.n - 1) / 2 AS BIGINT) AS n0, tx.n1, ty.n2,
        |  txy.nxy,
        |  coalesce(pq.p, 0) AS n_concordant,
        |  coalesce(pq.q, 0) AS n_discordant,
        |  CAST(CASE WHEN s.n * (s.n - 1) / 2 - tx.n1 > 0
        |      AND s.n * (s.n - 1) / 2 - ty.n2 > 0
        |    THEN CAST(coalesce(pq.p, 0) - coalesce(pq.q, 0) AS DOUBLE)
        |      / sqrt(CAST(s.n * (s.n - 1) / 2 - tx.n1 AS DOUBLE)
        |        * CAST(s.n * (s.n - 1) / 2 - ty.n2 AS DOUBLE))
        |    END AS REAL) AS tau_b
        |FROM sp s
        |LEFT JOIN pq USING (lang) JOIN tx USING (lang)
        |JOIN ty USING (lang) JOIN txy USING (lang)
        |ORDER BY lang""".stripMargin)),
    // Bradley-Terry arena ratings: 8 unrolled MM rounds, bit-identical
    QueryDef("eval_bradley_terry", Preference.evalBradleyTerry(_, _), Some(btOracleSql(8))),
    // Krippendorff's alpha: 3 raters with 25% PRF missingness, nominal
    // Krippendorff: 2nDo and n(n-1)De as exact BIGINTs, ONE division
    QueryDef("eval_krippendorff_alpha", Agreement.evalKrippendorffAlpha _, Some(
      """WITH r AS (
        |  SELECT event_id,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |      || ':truecat'), 1, 15) AS BIGINT) % 3 AS base
        |  FROM events
        |), c AS (
        |  SELECT event_id,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present1'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r1'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt1'), 1, 15) AS BIGINT) % 3 END
        |    END AS c1,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present2'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r2'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt2'), 1, 15) AS BIGINT) % 3 END
        |    END AS c2,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present3'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r3'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt3'), 1, 15) AS BIGINT) % 3 END
        |    END AS c3
        |  FROM r
        |), n AS (
        |  SELECT
        |    CAST(CASE WHEN c1 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n0,
        |    CAST(CASE WHEN c1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n1,
        |    CAST(CASE WHEN c1 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n2
        |  FROM c
        |), p AS (
        |  SELECT n0, n1, n2, n0 + n1 + n2 AS m,
        |    n0 * n0 + n1 * n1 + n2 * n2 AS s
        |  FROM n WHERE n0 + n1 + n2 >= 2
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(m) AS BIGINT) AS n_ratings,
        |    CAST(sum(n0) AS BIGINT) AS c0, CAST(sum(n1) AS BIGINT) AS c1,
        |    CAST(sum(n2) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN m = 2 THEN 2 * (4 - s) ELSE 9 - s END)
        |      AS BIGINT) AS do_num2
        |  FROM p
        |)
        |SELECT n_items, n_ratings, c0, c1, c2, do_num2,
        |  CAST(n_ratings * n_ratings - (c0 * c0 + c1 * c1 + c2 * c2)
        |    AS BIGINT) AS de_num,
        |  CAST(1.0 - CAST(do_num2 * (n_ratings - 1) AS DOUBLE)
        |    / CAST(2 * (n_ratings * n_ratings
        |        - (c0 * c0 + c1 * c1 + c2 * c2)) AS DOUBLE) AS REAL)
        |    AS alpha
        |FROM g""".stripMargin)),
    // DeLong AUC variance + 95% CI (tie-aware integer placements)
    // DeLong: doubled tie-aware placements per distinct score; all
    // moments BIGINT; variance a fixed-paren double epilogue
    QueryDef("eval_auc_delong", Scoring.evalAucDelong _, Some(
      """WITH s AS (
        |  SELECT least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5,
        |    0.0), 0.9999) AS score,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
        |  FROM embeddings
        |), g AS (
        |  SELECT score, CAST(sum(y) AS BIGINT) AS np,
        |    CAST(sum(1 - y) AS BIGINT) AS nn
        |  FROM s GROUP BY score
        |), w AS (
        |  SELECT np, nn,
        |    CAST(coalesce(sum(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cneg,
        |    CAST(coalesce(sum(np) OVER (ORDER BY score
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS BIGINT) AS cpos
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS npos,
        |    CAST(sum(nn) AS BIGINT) AS nneg,
        |    CAST(sum(np * (2 * cneg + nn)) AS BIGINT) AS u2,
        |    CAST(sum(np * (2 * cneg + nn) * (2 * cneg + nn)) AS BIGINT)
        |      AS sum_d2,
        |    CAST(sum(nn * (2 * cpos + np) * (2 * cpos + np)) AS BIGINT)
        |      AS sum_e2
        |  FROM w
        |), q AS (
        |  SELECT *,
        |    CAST(u2 AS DOUBLE)
        |      / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS auc
        |  FROM a
        |), v AS (
        |  SELECT *,
        |    (CAST(sum_d2 AS DOUBLE)
        |        / (4.0 * CAST(nneg AS DOUBLE) * CAST(nneg AS DOUBLE))
        |      - CAST(npos AS DOUBLE) * auc * auc)
        |      / (CAST(npos AS DOUBLE) - 1.0) / CAST(npos AS DOUBLE)
        |    + (CAST(sum_e2 AS DOUBLE)
        |        / (4.0 * CAST(npos AS DOUBLE) * CAST(npos AS DOUBLE))
        |      - CAST(nneg AS DOUBLE) * auc * auc)
        |      / (CAST(nneg AS DOUBLE) - 1.0) / CAST(nneg AS DOUBLE)
        |      AS var_auc
        |  FROM q
        |)
        |SELECT npos, nneg, u2, sum_d2, sum_e2, CAST(auc AS REAL) AS auc,
        |  CAST(var_auc AS REAL) AS var_auc,
        |  CAST(1.96 * sqrt(var_auc) AS REAL) AS ci95_half
        |FROM v""".stripMargin)),
    // 50-replica deterministic Poisson bootstrap of the paired delta
    QueryDef("eval_paired_bootstrap", Significance.evalPairedBootstrap(_, _),
      Some(pairedBootstrapOracleSql(50))),
    // pairwise win rates + Wilson 95% bounds per model matchup
    // win-rate matrix: BIGINT wins/games per pair; Wilson bounds as a
    // fixed-paren double epilogue (z = 1.96, z2 spelled 1.96 * 1.96)
    QueryDef("eval_win_rate_matrix", Preference.evalWinRateMatrix _, Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), m AS (
        |  SELECT event_id // 2 AS match_id,
        |    arg_min(event_type, event_id % 2) AS ta,
        |    arg_min(v3, event_id % 2) AS va,
        |    arg_max(event_type, event_id % 2) AS tb,
        |    arg_max(v3, event_id % 2) AS vb,
        |    count(*) AS cnt
        |  FROM e GROUP BY 1
        |), w AS (
        |  SELECT least(ta, tb) AS model_a, greatest(ta, tb) AS model_b,
        |    CASE WHEN va >= vb THEN ta ELSE tb END AS winner
        |  FROM m WHERE cnt = 2 AND ta <> tb
        |), g AS (
        |  SELECT model_a, model_b, CAST(count(*) AS BIGINT) AS n_games,
        |    CAST(sum(CASE WHEN winner = model_a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS wins_a
        |  FROM w GROUP BY 1, 2
        |), q AS (
        |  SELECT *,
        |    CAST(wins_a AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
        |    CAST(n_games AS DOUBLE) AS n
        |  FROM g
        |)
        |SELECT model_a, model_b, n_games, wins_a,
        |  CAST(n_games - wins_a AS BIGINT) AS wins_b,
        |  CAST(p AS REAL) AS rate_a,
        |  CAST((p + 1.96 * 1.96 / (2.0 * n)
        |      - 1.96 * sqrt(p * (1.0 - p) / n
        |        + 1.96 * 1.96 / (4.0 * n * n)))
        |    / (1.0 + 1.96 * 1.96 / n) AS REAL) AS wilson_lo,
        |  CAST((p + 1.96 * 1.96 / (2.0 * n)
        |      + 1.96 * sqrt(p * (1.0 - p) / n
        |        + 1.96 * 1.96 / (4.0 * n * n)))
        |    / (1.0 + 1.96 * 1.96 / n) AS REAL) AS wilson_hi
        |FROM q ORDER BY model_a, model_b""".stripMargin)),
    // DPO prep: (chosen, rejected) + margin per 4-doc candidate group
    // DPO pairs: chosen = (score DESC, id ASC) pick, rejected =
    // (score ASC, id DESC) pick — distinct docs whenever n_cands >= 2
    QueryDef("pref_pair_margin", Preference.prefPairMargin(_, _), Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
        |    doc_id // 4 AS group_id
        |  FROM documents
        |), r AS (
        |  SELECT group_id, doc_id, score,
        |    row_number() OVER (PARTITION BY group_id
        |      ORDER BY score DESC, doc_id) AS rc,
        |    row_number() OVER (PARTITION BY group_id
        |      ORDER BY score ASC, doc_id DESC) AS rr,
        |    count(*) OVER (PARTITION BY group_id) AS n_cands
        |  FROM d
        |)
        |SELECT c.group_id, CAST(c.n_cands AS BIGINT) AS n_cands,
        |  c.doc_id AS chosen_doc, c.score AS chosen_score,
        |  j.doc_id AS rejected_doc, j.score AS rejected_score,
        |  c.score - j.score AS margin
        |FROM r c JOIN r j ON c.group_id = j.group_id
        |WHERE c.rc = 1 AND j.rr = 1 AND c.n_cands >= 2
        |ORDER BY c.group_id""".stripMargin)),
    // the pass@k estimator in its stable product form
    // pass@k in the stable product form; NULL below k trials, exact 1.0
    // when fewer than k failures exist
    QueryDef("eval_pass_at_k", Ranking.evalPassAtK(_, _), Some(
      """WITH t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id, n, c,
        |  CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS pass1,
        |  CASE WHEN n < 5 THEN NULL
        |       WHEN n - c < 5 THEN 1.0
        |       ELSE 1.0 - (
        |         ((CAST(n - c AS DOUBLE) - 0.0) / (CAST(n AS DOUBLE) - 0.0))
        |         * ((CAST(n - c AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 1.0))
        |         * ((CAST(n - c AS DOUBLE) - 2.0) / (CAST(n AS DOUBLE) - 2.0))
        |         * ((CAST(n - c AS DOUBLE) - 3.0) / (CAST(n AS DOUBLE) - 3.0))
        |         * ((CAST(n - c AS DOUBLE) - 4.0) / (CAST(n AS DOUBLE) - 4.0)))
        |  END AS pass5
        |FROM t ORDER BY user_id""".stripMargin)),
    // ROUGE-N clipped-overlap P/R/F1 over adjacent-doc pairs
    // clipped n-gram overlap pair grain shared by ROUGE-N and BLEU;
    // exact BIGINT counts, ratios double then ONE cast to REAL
    QueryDef("eval_rouge_n", TextMetrics.evalRougeN(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_cand,
        |    string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents WHERE doc_id < 400
        |), grams AS (
        |  SELECT pair_id, is_cand, 1 AS n, t[i] AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
        |  UNION ALL
        |  SELECT pair_id, is_cand, 2 AS n,
        |    concat_ws(' ', t[i], t[i + 1]) AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), cnt AS (
        |  SELECT pair_id, n, gram,
        |    CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN is_cand THEN 0 ELSE 1 END) AS BIGINT) AS r
        |  FROM grams GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT pair_id, n, CAST(sum(least(c, r)) AS BIGINT) AS overlap,
        |    CAST(sum(c) AS BIGINT) AS cand_ngrams,
        |    CAST(sum(r) AS BIGINT) AS ref_ngrams
        |  FROM cnt GROUP BY 1, 2
        |)
        |SELECT pair_id, n, overlap, cand_ngrams, ref_ngrams,
        |  CAST(CASE WHEN cand_ngrams > 0
        |    THEN CAST(overlap AS DOUBLE) / CAST(cand_ngrams AS DOUBLE)
        |    ELSE 0.0 END AS REAL) AS prec,
        |  CAST(CASE WHEN ref_ngrams > 0
        |    THEN CAST(overlap AS DOUBLE) / CAST(ref_ngrams AS DOUBLE)
        |    ELSE 0.0 END AS REAL) AS rec,
        |  CAST(CASE WHEN
        |    (CASE WHEN cand_ngrams > 0
        |      THEN CAST(overlap AS DOUBLE) / CAST(cand_ngrams AS DOUBLE)
        |      ELSE 0.0 END)
        |    + (CASE WHEN ref_ngrams > 0
        |      THEN CAST(overlap AS DOUBLE) / CAST(ref_ngrams AS DOUBLE)
        |      ELSE 0.0 END) > 0
        |    THEN 2.0
        |      * (CAST(overlap AS DOUBLE) / CAST(cand_ngrams AS DOUBLE))
        |      * (CAST(overlap AS DOUBLE) / CAST(ref_ngrams AS DOUBLE))
        |      / ((CAST(overlap AS DOUBLE) / CAST(cand_ngrams AS DOUBLE))
        |        + (CAST(overlap AS DOUBLE) / CAST(ref_ngrams AS DOUBLE)))
        |    ELSE 0.0 END AS REAL) AS f1
        |FROM agg ORDER BY pair_id, n""".stripMargin)),
    // BLEU-2 modified precisions + brevity penalty, same pair grain
    // BLEU-2: same clipped grain pivoted per pair; zero clip => 0.0
    QueryDef("eval_bleu", TextMetrics.evalBleu(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_cand,
        |    string_split(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents WHERE doc_id < 400
        |), grams AS (
        |  SELECT pair_id, is_cand, 1 AS n, t[i] AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
        |  UNION ALL
        |  SELECT pair_id, is_cand, 2 AS n,
        |    concat_ws(' ', t[i], t[i + 1]) AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        |  WHERE len(t) >= 2
        |), cnt AS (
        |  SELECT pair_id, n, gram,
        |    CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN is_cand THEN 0 ELSE 1 END) AS BIGINT) AS r
        |  FROM grams GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT pair_id, n, CAST(sum(least(c, r)) AS BIGINT) AS overlap,
        |    CAST(sum(c) AS BIGINT) AS cand_ngrams,
        |    CAST(sum(r) AS BIGINT) AS ref_ngrams
        |  FROM cnt GROUP BY 1, 2
        |), piv AS (
        |  SELECT pair_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN overlap END), 0)
        |      AS BIGINT) AS clip1,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN cand_ngrams END), 0)
        |      AS BIGINT) AS cand_len,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN ref_ngrams END), 0)
        |      AS BIGINT) AS ref_len,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN overlap END), 0)
        |      AS BIGINT) AS clip2,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN cand_ngrams END), 0)
        |      AS BIGINT) AS cand_bigrams
        |  FROM agg GROUP BY pair_id
        |), sc AS (
        |  SELECT pair_id, cand_len, ref_len, clip1, clip2, cand_bigrams,
        |    CASE WHEN cand_len = 0 THEN 0.0
        |         WHEN cand_len >= ref_len THEN 1.0
        |         ELSE exp(1.0 - CAST(ref_len AS DOUBLE)
        |           / CAST(cand_len AS DOUBLE)) END AS bpd
        |  FROM piv
        |)
        |SELECT pair_id, cand_len, ref_len, clip1, clip2, cand_bigrams,
        |  CAST(bpd AS REAL) AS bp,
        |  CAST(CASE WHEN clip1 > 0 AND clip2 > 0
        |    THEN bpd * exp((
        |      ln(CAST(clip1 AS DOUBLE) / CAST(cand_len AS DOUBLE)) +
        |      ln(CAST(clip2 AS DOUBLE) / CAST(cand_bigrams AS DOUBLE))
        |    ) / 2.0)
        |    ELSE 0.0 END AS REAL) AS bleu
        |FROM sc ORDER BY pair_id""".stripMargin)),
    // chrF2: character 1..3-gram F-score (β=2), whitespace-stripped
    // chrF2: char 1..3-gram clipped overlaps on whitespace-stripped
    // text; per-order P/R averaged (empty order contributes 0), beta=2
    QueryDef("eval_chrf", TextMetrics.evalChrf(_, _), Some(
      """WITH toks AS (
        |  SELECT doc_id // 2 AS pair_id, doc_id % 2 = 0 AS is_cand,
        |    replace(
        |      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |      ' ', '') AS s
        |  FROM documents WHERE doc_id < 400
        |), grams AS (
        |  SELECT pair_id, is_cand, 1 AS n, substring(s, i, 1) AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, length(s))) AS i) a
        |  WHERE length(s) >= 1
        |  UNION ALL
        |  SELECT pair_id, is_cand, 2 AS n, substring(s, i, 2) AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, length(s) - 1)) AS i) a
        |  WHERE length(s) >= 2
        |  UNION ALL
        |  SELECT pair_id, is_cand, 3 AS n, substring(s, i, 3) AS gram
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i) a
        |  WHERE length(s) >= 3
        |), cnt AS (
        |  SELECT pair_id, n, gram,
        |    CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN is_cand THEN 0 ELSE 1 END) AS BIGINT) AS r
        |  FROM grams GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT pair_id, n, CAST(sum(least(c, r)) AS BIGINT) AS overlap,
        |    CAST(sum(c) AS BIGINT) AS cand_ngrams,
        |    CAST(sum(r) AS BIGINT) AS ref_ngrams
        |  FROM cnt GROUP BY 1, 2
        |), piv AS (
        |  SELECT pair_id,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN overlap END), 0)
        |      AS BIGINT) AS clip1,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN cand_ngrams END), 0)
        |      AS BIGINT) AS cand1,
        |    CAST(coalesce(sum(CASE WHEN n = 1 THEN ref_ngrams END), 0)
        |      AS BIGINT) AS ref1,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN overlap END), 0)
        |      AS BIGINT) AS clip2,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN cand_ngrams END), 0)
        |      AS BIGINT) AS cand2,
        |    CAST(coalesce(sum(CASE WHEN n = 2 THEN ref_ngrams END), 0)
        |      AS BIGINT) AS ref2,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN overlap END), 0)
        |      AS BIGINT) AS clip3,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN cand_ngrams END), 0)
        |      AS BIGINT) AS cand3,
        |    CAST(coalesce(sum(CASE WHEN n = 3 THEN ref_ngrams END), 0)
        |      AS BIGINT) AS ref3
        |  FROM agg GROUP BY pair_id
        |), sc AS (
        |  SELECT *,
        |    ((CASE WHEN cand1 > 0
        |        THEN CAST(clip1 AS DOUBLE) / CAST(cand1 AS DOUBLE)
        |        ELSE 0.0 END)
        |     + (CASE WHEN cand2 > 0
        |        THEN CAST(clip2 AS DOUBLE) / CAST(cand2 AS DOUBLE)
        |        ELSE 0.0 END)
        |     + (CASE WHEN cand3 > 0
        |        THEN CAST(clip3 AS DOUBLE) / CAST(cand3 AS DOUBLE)
        |        ELSE 0.0 END)) / 3.0 AS p,
        |    ((CASE WHEN ref1 > 0
        |        THEN CAST(clip1 AS DOUBLE) / CAST(ref1 AS DOUBLE)
        |        ELSE 0.0 END)
        |     + (CASE WHEN ref2 > 0
        |        THEN CAST(clip2 AS DOUBLE) / CAST(ref2 AS DOUBLE)
        |        ELSE 0.0 END)
        |     + (CASE WHEN ref3 > 0
        |        THEN CAST(clip3 AS DOUBLE) / CAST(ref3 AS DOUBLE)
        |        ELSE 0.0 END)) / 3.0 AS r
        |  FROM piv
        |)
        |SELECT pair_id, clip1, cand1, ref1, clip2, cand2, ref2,
        |  clip3, cand3, ref3,
        |  CAST(p AS REAL) AS chr_p, CAST(r AS REAL) AS chr_r,
        |  CAST(CASE WHEN 4.0 * p + r > 0
        |    THEN 5.0 * p * r / (4.0 * p + r)
        |    ELSE 0.0 END AS REAL) AS chrf2
        |FROM sc ORDER BY pair_id""".stripMargin)),
    // per-cell mutual-information contributions (never pre-summed)
    // exact joint/marginal counts; one ln per cell, REAL-cast
    QueryDef("feature_mutual_info_terms", Features.featureMutualInfoTerms(_, _), Some(
      """WITH ev AS (
        |  SELECT event_type AS x,
        |    CAST(floor(value / 25.0) AS INT) AS y
        |  FROM events
        |), joint AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
        |  FROM ev GROUP BY x, y
        |), mx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_x FROM ev GROUP BY x),
        |my AS (SELECT y, CAST(count(*) AS BIGINT) AS n_y FROM ev GROUP BY y),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev)
        |SELECT j.x, j.y, j.n_xy, mx.n_x, my.n_y, tot.n,
        |  CAST((CAST(j.n_xy AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    * ln(CAST(j.n_xy * tot.n AS DOUBLE)
        |      / CAST(mx.n_x * my.n_y AS DOUBLE)) AS REAL) AS mi_term
        |FROM joint j JOIN mx USING (x) JOIN my USING (y), tot
        |ORDER BY x, y""".stripMargin)),
    // closed-form (minimax) weighted isotonic calibration over bins
    // fitted_i = max_{a<=i} min_{b>=i} weighted interval mean — the
    // minimax closed form of PAV; every mean is one double division of
    // exact integer sums
    QueryDef("ml_isotonic_calibration", Calibration.mlIsotonicCalibration(_, _), Some(
      """WITH s AS (
        |  SELECT least(greatest(CAST(embedding[1] AS DOUBLE) * 2.0 + 0.5,
        |      0.0), 0.9999) AS score, label
        |  FROM embeddings
        |), bins AS (
        |  SELECT CAST(floor(score * 10) AS INT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN label % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS n_pos
        |  FROM s GROUP BY 1
        |), iv AS (
        |  SELECT a.bin AS a, b.bin AS b2,
        |    CAST(sum(c.n_pos) AS DOUBLE) / CAST(sum(c.n) AS DOUBLE) AS avg
        |  FROM bins a JOIN bins b ON a.bin <= b.bin
        |  JOIN bins c ON c.bin BETWEEN a.bin AND b.bin
        |  GROUP BY a.bin, b.bin
        |), mn AS (
        |  SELECT i.bin AS i, iv.a, min(iv.avg) AS minavg
        |  FROM iv JOIN bins i ON iv.a <= i.bin AND iv.b2 >= i.bin
        |  GROUP BY i.bin, iv.a
        |), ft AS (
        |  SELECT i, max(minavg) AS fitted FROM mn GROUP BY i
        |)
        |SELECT b.bin, b.n, b.n_pos,
        |  CAST(b.n_pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
        |  ft.fitted
        |FROM bins b JOIN ft ON ft.i = b.bin
        |ORDER BY b.bin""".stripMargin)),
    // expected / maximum calibration error over the reliability bins
    // ECE: per-bin terms pivoted to 10 fixed columns, left-assoc sum
    QueryDef("eval_ece", Calibration.evalEce _, Some(eceOracleSql)),
    // Matthews correlation + balanced accuracy + Youden's J
    QueryDef("eval_mcc", Scoring.evalMcc _, Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 1000.0) AS BIGINT) AS v3
        |  FROM events
        |), m AS (
        |  SELECT event_type, CAST(sum(v3) AS BIGINT) AS s3,
        |    CAST(count(*) AS BIGINT) AS n_t FROM e GROUP BY event_type
        |), s AS (
        |  SELECT (e.v3 * m.n_t > m.s3) AS pred,
        |    CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |      || ':label'), 1, 15) AS BIGINT) % 2 = 1 AS label
        |  FROM e JOIN m USING (event_type)
        |), g AS (
        |  SELECT
        |    CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM s
        |)
        |SELECT tp, fp, fn, tn,
        |  CAST(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
        |      AND tn + fn > 0
        |    THEN (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        |        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
        |      / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
        |        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
        |        * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
        |        * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))
        |    END AS REAL) AS mcc,
        |  CAST(CASE WHEN tp + fn > 0 AND tn + fp > 0
        |    THEN (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
        |        + CAST(fn AS DOUBLE))
        |      + CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE)
        |        + CAST(fp AS DOUBLE))) / 2.0
        |    END AS REAL) AS balanced_acc,
        |  CAST(CASE WHEN tp + fn > 0 AND tn + fp > 0
        |    THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
        |        + CAST(fn AS DOUBLE))
        |      + CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE)
        |        + CAST(fp AS DOUBLE)) - 1.0
        |    END AS REAL) AS youden_j
        |FROM g""".stripMargin)),
    // round 15: continuous-rating reliability (2-way random effects)
    QueryDef("eval_icc", Agreement.evalIcc(_, _), Some(
      """WITH r AS (
        |  SELECT
        |    CAST('0x' || substr(md5(event_id || ':icclat'), 1, 15)
        |      AS BIGINT) % 7 AS lat,
        |    CAST('0x' || substr(md5(event_id || ':iccn1'), 1, 15)
        |      AS BIGINT) % 3 AS e1,
        |    CAST('0x' || substr(md5(event_id || ':iccn2'), 1, 15)
        |      AS BIGINT) % 3 AS e2,
        |    CAST('0x' || substr(md5(event_id || ':iccn3'), 1, 15)
        |      AS BIGINT) % 3 AS e3
        |  FROM events
        |), x AS (
        |  SELECT lat + 1 + e1 AS x1, lat + 2 + e2 AS x2,
        |    lat + 3 + e3 AS x3 FROM r
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1 + x2 + x3) AS BIGINT) AS s,
        |    CAST(sum(x1 * x1 + x2 * x2 + x3 * x3) AS BIGINT) AS ss,
        |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS srow2,
        |    CAST(sum(x1) AS BIGINT) AS c1, CAST(sum(x2) AS BIGINT) AS c2,
        |    CAST(sum(x3) AS BIGINT) AS c3
        |  FROM x
        |), m AS (
        |  SELECT n,
        |    (CAST(srow2 AS DOUBLE) / 3.0
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * 3.0)) / (CAST(n AS DOUBLE) - 1.0)
        |      AS msr,
        |    ((CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)
        |        + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)
        |        + CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * 3.0)) / (3.0 - 1.0) AS msc,
        |    ((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * 3.0))
        |      - (CAST(srow2 AS DOUBLE) / 3.0
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * 3.0))
        |      - ((CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)
        |          + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)
        |          + CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE))
        |          / CAST(n AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * 3.0)))
        |      / ((CAST(n AS DOUBLE) - 1.0) * (3.0 - 1.0)) AS mse
        |  FROM g
        |)
        |SELECT n AS n_items, 3 AS k_raters,
        |  CAST(msr AS REAL) AS msr, CAST(msc AS REAL) AS msc,
        |  CAST(mse AS REAL) AS mse,
        |  CAST((msr - mse) / (msr + (3.0 - 1.0) * mse
        |    + 3.0 * (msc - mse) / CAST(n AS DOUBLE)) AS REAL) AS icc2_1,
        |  CAST((msr - mse) / (msr + (msc - mse) / CAST(n AS DOUBLE))
        |    AS REAL) AS icc2_k
        |FROM m""".stripMargin)),
    // ordinal (squared-distance) Krippendorff for graded annotations
    // ordinal alpha: squared-distance pair mass, weights {1, 4, 1}
    QueryDef("eval_krippendorff_ordinal", Agreement.evalKrippendorffOrdinal _, Some(
      """WITH r AS (
        |  SELECT event_id,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |      || ':truecat'), 1, 15) AS BIGINT) % 3 AS base
        |  FROM events
        |), c AS (
        |  SELECT event_id,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present1'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r1'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt1'), 1, 15) AS BIGINT) % 3 END
        |    END AS c1,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present2'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r2'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt2'), 1, 15) AS BIGINT) % 3 END
        |    END AS c2,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |        || ':present3'), 1, 15) AS BIGINT) % 4 <> 0 THEN
        |      CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':r3'), 1, 15) AS BIGINT) % 10 < 7 THEN base
        |        ELSE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
        |          || ':alt3'), 1, 15) AS BIGINT) % 3 END
        |    END AS c3
        |  FROM r
        |), n AS (
        |  SELECT
        |    CAST(CASE WHEN c1 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 0 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n0,
        |    CAST(CASE WHEN c1 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 1 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n1,
        |    CAST(CASE WHEN c1 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c2 = 2 THEN 1 ELSE 0 END
        |      + CASE WHEN c3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n2
        |  FROM c
        |), p AS (
        |  SELECT n0, n1, n2, n0 + n1 + n2 AS m,
        |    2 * (n0 * n1 + 4 * n0 * n2 + n1 * n2) AS dsq
        |  FROM n
        |), g AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN m ELSE 0 END), 0)
        |      AS BIGINT) AS n_ratings,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN n0 ELSE 0 END), 0)
        |      AS BIGINT) AS c0,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN n1 ELSE 0 END), 0)
        |      AS BIGINT) AS c1,
        |    CAST(coalesce(sum(CASE WHEN m >= 2 THEN n2 ELSE 0 END), 0)
        |      AS BIGINT) AS c2,
        |    CAST(coalesce(sum(CASE WHEN m = 2 THEN 2 * dsq
        |      WHEN m = 3 THEN dsq ELSE 0 END), 0) AS BIGINT) AS do_num2
        |  FROM p
        |)
        |SELECT n_items, n_ratings, c0, c1, c2, do_num2,
        |  CAST(2 * (c0 * c1 + 4 * c0 * c2 + c1 * c2) AS BIGINT)
        |    AS de_num,
        |  CAST(CASE WHEN 2 * (c0 * c1 + 4 * c0 * c2 + c1 * c2) > 0
        |    THEN 1.0 - CAST(do_num2 * (n_ratings - 1) AS DOUBLE)
        |      / CAST(2 * (2 * (c0 * c1 + 4 * c0 * c2 + c1 * c2))
        |        AS DOUBLE)
        |    END AS REAL) AS alpha
        |FROM g""".stripMargin)),
    // truncated RBO: top-weighted agreement of two document rankers
    QueryDef("eval_topk_agreement", Ranking.evalTopkAgreement(_, _),
      Some(topkAgreementOracleSql(10))),
    // round 16: tie-corrected two-sample rank-sum (2×-integer ranks)
    // 2×-integer mid-ranks (2C+t+1), exact tie term, continuity-corrected z
    QueryDef("eval_mann_whitney_u", Significance.evalMannWhitneyU _, Some(
      """WITH pv AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value
        |), c AS (
        |  SELECT na, nb, na + nb AS t,
        |    2 * (sum(na + nb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (na + nb)) + (na + nb) + 1 AS r2
        |  FROM pv
        |), m AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(na * r2) AS BIGINT) AS r2_a,
        |    sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
        |      * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS tie3
        |  FROM c
        |), k AS (
        |  SELECT n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
        |    CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS ua,
        |    CAST(tie3 AS DOUBLE) AS tie3d
        |  FROM m
        |), z AS (
        |  SELECT n_a, n_b, ua, nad, nbd,
        |    nad * nbd / 2.0 AS mu,
        |    sqrt(nad * nbd / 12.0
        |      * ((n + 1.0) - tie3d / (n * (n - 1.0)))) AS sigma
        |  FROM k
        |)
        |SELECT n_a, n_b, ua AS u_stat, ua / (nad * nbd) AS auc_equiv,
        |  ((CASE WHEN ua > mu THEN ua - 0.5 WHEN ua < mu THEN ua + 0.5
        |    ELSE ua END) - mu) / sigma AS z_score
        |FROM z""".stripMargin)),
    // round 16: ordinal effect size beside the rank-test p-value
    // exact integer dominance numerator; Romano magnitude bands
    QueryDef("eval_cliffs_delta", Significance.evalCliffsDelta _, Some(
      """WITH pv AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY value
        |), t AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS ta,
        |    CAST(sum(nb) AS BIGINT) AS tb FROM pv
        |), c AS (
        |  SELECT na, nb,
        |    sum(nb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nb
        |      AS cb_lt
        |  FROM pv
        |), m AS (
        |  SELECT ta, tb,
        |    CAST(sum(na * (cb_lt - (tb - cb_lt - nb))) AS BIGINT) AS dom
        |  FROM c, t GROUP BY ta, tb
        |), k AS (
        |  SELECT ta AS n_a, tb AS n_b,
        |    CAST(dom AS DOUBLE)
        |      / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) AS cliffs_delta
        |  FROM m
        |)
        |SELECT n_a, n_b, cliffs_delta,
        |  CASE WHEN abs(cliffs_delta) < 0.147 THEN 'negligible'
        |    WHEN abs(cliffs_delta) < 0.33 THEN 'small'
        |    WHEN abs(cliffs_delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM k""".stripMargin)),
    // round 16: paired signed-rank on per-user activity-count deltas
    // paired counts → integer d; ×48-scaled exact variance
    QueryDef("eval_wilcoxon_signed_rank", Significance.evalWilcoxonSignedRank _, Some(
      """WITH d AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS d
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY user_id
        |), pa AS (
        |  SELECT abs(d) AS ad, count(*) AS t,
        |    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS tp
        |  FROM d WHERE d <> 0 GROUP BY abs(d)
        |), r AS (
        |  SELECT t, tp,
        |    2 * (sum(t) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
        |      + t + 1 AS r2
        |  FROM pa
        |), m AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS n_pairs,
        |    CAST(sum(tp * r2) AS BIGINT) AS w2,
        |    sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
        |      * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS tie3
        |  FROM r
        |), k AS (
        |  SELECT n_pairs, CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
        |    CAST(n_pairs AS DOUBLE) AS nd,
        |    CAST(2 * CAST(n_pairs AS HUGEINT)
        |      * (CAST(n_pairs AS HUGEINT) + 1)
        |      * (2 * CAST(n_pairs AS HUGEINT) + 1) - tie3
        |      AS DOUBLE) AS v48
        |  FROM m
        |)
        |SELECT n_pairs, w_plus,
        |  (w_plus - nd * (nd + 1.0) / 4.0) / sqrt(v48 / 48.0) AS z_score
        |FROM k""".stripMargin)),
    // round 16: TOST — the test that can conclude "equivalent"
    // the agg_ttest_welch moment CTEs with the ±margin one-sided pair
    QueryDef("eval_tost_equivalence", Significance.evalTostEquivalence(_, _), Some(
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
        |  SELECT *, m1 - m2 AS d,
        |    sqrt(((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * m1)
        |        / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
        |      + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * m2)
        |        / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)) AS se
        |  FROM m
        |), t AS (
        |  SELECT n1, n2, d, se,
        |    (d + 2000.0) / se AS t_lower, (2000.0 - d) / se AS t_upper
        |  FROM v
        |)
        |SELECT n1, n2,
        |  CAST(d / 1000.0 AS REAL) AS mean_diff,
        |  CAST(se / 1000.0 AS REAL) AS se,
        |  CAST(t_lower AS REAL) AS t_lower,
        |  CAST(t_upper AS REAL) AS t_upper,
        |  t_lower > 1.6448536269514722 AND t_upper > 1.6448536269514722
        |    AS equivalent
        |FROM t""".stripMargin)),
    // round 16: prevalence-stable agreement beside Cohen's kappa
    // same confusion cells as eval_cohens_kappa; AC1 chance term
    QueryDef("eval_gwet_ac1", Agreement.evalGwetAc1 _, Some(
      """WITH tm AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(round(value * 1000.0) AS BIGINT)) AS BIGINT)
        |      AS s3,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type
        |), rated AS (
        |  SELECT
        |    CASE WHEN CAST(round(e.value * 1000.0) AS BIGINT) * tm.n
        |      > tm.s3 THEN 1 ELSE 0 END AS a,
        |    CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |      || ':rater'), 1, 15) AS BIGINT) % 2 AS INT) AS b
        |  FROM events e JOIN tm ON tm.event_type = e.event_type
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_agree,
        |    CAST(sum(a) AS BIGINT) AS n_a1,
        |    CAST(sum(b) AS BIGINT) AS n_b1
        |  FROM rated
        |), k AS (
        |  SELECT n, n_agree,
        |    CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    (CAST(n_a1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      + CAST(n_b1 AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0 AS pibar
        |  FROM g
        |)
        |SELECT n, n_agree,
        |  CAST(po AS REAL) AS p_observed,
        |  CAST(2.0 * pibar * (1.0 - pibar) AS REAL) AS p_chance_ac1,
        |  CAST((po - 2.0 * pibar * (1.0 - pibar))
        |    / (1.0 - 2.0 * pibar * (1.0 - pibar)) AS REAL) AS gwet_ac1
        |FROM k""".stripMargin)),
    // round 16: standardized effect size beside the t/TOST verdicts
    // pooled-SD effect size from the same Welch moment CTEs
    QueryDef("eval_cohens_d", Significance.evalCohensD _, Some(
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
        |), k AS (
        |  SELECT n1, n2,
        |    (m1 - m2) / sqrt(((CAST(s2a AS DOUBLE)
        |        - CAST(s1a AS DOUBLE) * m1)
        |      + (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * m2))
        |      / CAST(n1 + n2 - 2 AS DOUBLE)) AS d,
        |    1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0) AS j
        |  FROM m
        |)
        |SELECT n1, n2,
        |  CAST(d AS REAL) AS cohens_d,
        |  CAST(d * j AS REAL) AS hedges_g,
        |  CASE WHEN abs(d) < 0.2 THEN 'negligible'
        |    WHEN abs(d) < 0.5 THEN 'small'
        |    WHEN abs(d) < 0.8 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM k""".stripMargin)),
    // round 16: minimum detectable effect at the observed sample sizes
    // Welch SE epilogue with the two-z MDE constant
    QueryDef("eval_mde_power", Significance.evalMdePower _, Some(
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
        |  SELECT n1, n2,
        |    sqrt(((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * m1)
        |        / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)
        |      + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * m2)
        |        / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)) AS se,
        |    sqrt((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * m1
        |      + (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * m2))
        |      / CAST(n1 + n2 - 2 AS DOUBLE)) AS sp
        |  FROM m
        |)
        |SELECT n1, n2,
        |  CAST(se / 1000.0 AS REAL) AS se_diff,
        |  CAST(2.8015852181129683 * se / 1000.0 AS REAL) AS mde_abs,
        |  CAST(2.8015852181129683 * se / sp AS REAL) AS mde_d
        |FROM v""".stripMargin)),
    // round 16: repeated-measures k-system test + rater concordance
    // complete blocks (absent types count 0), 2×-integer mid-ranks,
    // the scipy tie-corrected χ² on exact integer inputs
    QueryDef("eval_friedman_kendall_w", Significance.evalFriedmanKendallW _, Some(
      """WITH types AS (SELECT DISTINCT event_type FROM events),
        |users AS (SELECT DISTINCT user_id FROM events),
        |counts AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id, event_type
        |), blocks AS (
        |  SELECT u.user_id, t.event_type, coalesce(c.c, 0) AS c
        |  FROM users u CROSS JOIN types t
        |  LEFT JOIN counts c
        |    ON c.user_id = u.user_id AND c.event_type = t.event_type
        |), ranked AS (
        |  SELECT user_id, event_type, c,
        |    rank() OVER (PARTITION BY user_id ORDER BY c) AS rk,
        |    count(*) OVER (PARTITION BY user_id, c) AS t
        |  FROM blocks
        |), cs AS (
        |  SELECT event_type,
        |    CAST(sum(2 * (rk - 1) + t + 1) AS HUGEINT) AS r2j
        |  FROM ranked GROUP BY event_type
        |), tt AS (
        |  SELECT coalesce(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
        |      * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)), 0) AS tie3
        |  FROM (SELECT DISTINCT user_id, c, t FROM ranked)
        |), km AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
        |m AS (SELECT sum(r2j * r2j) AS sr2 FROM cs),
        |f AS (
        |  SELECT n, k,
        |    (12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) + 1.0))
        |      * (CAST(sr2 AS DOUBLE) / 4.0)
        |      - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
        |    / (1.0 - CAST(tie3 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)))
        |      AS chi2
        |  FROM m, tt, km, nm
        |)
        |SELECT n AS n_users, k AS k_types, chi2 AS chi2_friedman,
        |  chi2 / (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))
        |    AS kendalls_w
        |FROM f""".stripMargin)),
    // round 17: BCa interval over the deterministic bootstrap replicas
    // round 17: BCa over the shared replica CTEs, Φ⁻¹ grid literals
    QueryDef("eval_bootstrap_bca", Significance.evalBootstrapBca(_, _), Some(bcaOracleSql(50))),
    // round 19: the 100 TB form — replicas over a deterministic
    // hash-threshold subsample, √(N/n) widening emitted beside the CI
    QueryDef("eval_bootstrap_bca_sampled", Significance.evalBootstrapBcaSampled(_, _),
      Some(bcaOracleSqlFrom(50, sampledTarget = Some(4096L)))),
  )
}
