package graft.registry

import graft.query.Graph

/** The graph family, 28 queries: `graph_`, `path_`. */
object GraphDefs {

  /** The [[graft.query.Graph.graphEgoBetweenness]] oracle,
    * parametrized by the center-cohort modulus: %64 is the declared
    * query; %512 is the x10-replayable sampled cohort (r18 verdict
    * #7 — the %64 courier join exceeds DuckDB temp disk at x10).
    * Same MATERIALIZED stage chain either way. */
  private def egoBetweennessOracleSql(mod: Int): String =
      s"""WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS MATERIALIZED (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), ego AS MATERIALIZED (
        |  SELECT u AS z, v AS n FROM sym WHERE u % $mod = 0
        |), pairs AS MATERIALIZED (
        |  SELECT a.z, a.n AS u, b.n AS v
        |  FROM ego a JOIN ego b ON a.z = b.z AND a.n < b.n
        |), nonadj AS MATERIALIZED (
        |  SELECT p.z, p.u, p.v FROM pairs p
        |  LEFT JOIN e0 ON e0.u = p.u AND e0.v = p.v
        |  WHERE e0.u IS NULL
        |), cour AS MATERIALIZED (
        |  SELECT na.z, na.u, na.v, CAST(count(*) AS BIGINT) AS extra
        |  FROM nonadj na
        |  JOIN sym su ON su.u = na.u
        |  JOIN sym sv ON sv.u = na.v AND sv.v = su.v
        |  JOIN ego e ON e.z = na.z AND e.n = su.v
        |  WHERE su.v <> na.z
        |  GROUP BY na.z, na.u, na.v
        |), sig AS MATERIALIZED (
        |  SELECT na.z, 1 + coalesce(c.extra, 0) AS sigma
        |  FROM nonadj na LEFT JOIN cour c
        |    ON c.z = na.z AND c.u = na.u AND c.v = na.v
        |)
        |SELECT z AS part, CAST(count(*) AS BIGINT) AS n_broker_pairs,
        |  CAST(sum(1.0 / CAST(sigma AS DOUBLE)) AS REAL)
        |    AS ego_betweenness
        |FROM sig GROUP BY z ORDER BY part""".stripMargin

  /** The [[graft.query.Graph.graphSsspWeighted]] oracle: the
    * Bellman-Ford relaxation UNROLLED into `rounds` MATERIALIZED
    * min-combine stages over the length-carrying symmetric co-purchase
    * edges (frontier-pruned Spark rounds produce exactly the full
    * per-round relaxation — offers are re-sent the round after their
    * source improves). MATERIALIZED is load-bearing: each d_{r−1} is
    * referenced twice per stage. */
  private def ssspOracleSql(rounds: Int, nSources: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT src, v, min(d) AS d FROM (
         |    SELECT src, v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT r.src, e.v, r.d + e.len
         |    FROM d${i - 1} r JOIN ew e ON e.u = r.v) GROUP BY src, v
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS (
       |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS w
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk
       |), ew AS (
       |  SELECT u, v,
       |    CAST(1 AS BIGINT) + CAST(1000 AS BIGINT) // w AS len
       |  FROM e0
       |  UNION ALL
       |  SELECT v, u,
       |    CAST(1 AS BIGINT) + CAST(1000 AS BIGINT) // w AS len
       |  FROM e0
       |), verts AS (SELECT DISTINCT u FROM ew),
       |srcs AS (
       |  SELECT u AS src FROM verts
       |  ORDER BY CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15)
       |    AS BIGINT), u LIMIT $nSources
       |), d0 AS (SELECT src, src AS v, CAST(0 AS BIGINT) AS d FROM srcs),
       |$stages
       |SELECT src, v AS part, d AS dist
       |FROM d$rounds ORDER BY src, part""".stripMargin
  }

  /** Unrolled `iters`-round pagerank oracle: DuckDB has no iterative
    * construct that re-aggregates over the recursion, so each damping
    * round is one mechanical CTE (pr1..prN) — the same literal
    * arithmetic the Spark loop runs. Every CTE is MATERIALIZED: DuckDB
    * inlines plain CTEs per reference, so the unrolled chain re-planned
    * the DISTINCT pair self-join once per round and the x10 replay blew
    * the 1800 s sweep timeout; materialization makes the oracle evaluate
    * each stage once (184 s at x10, measured). */
  private def pagerankOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT e.v AS u, 0.15 / nv.n + 0.85 * sum(p.pr / d.deg) AS pr
         |  FROM edges e JOIN pr${i - 1} p ON p.u = e.u JOIN deg d ON d.u = e.u, nv
         |  GROUP BY e.v, nv.n
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |), edges AS MATERIALIZED (
       |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
       |), deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM edges GROUP BY u),
       |nv AS MATERIALIZED (SELECT count(*) AS n FROM deg),
       |pr0 AS MATERIALIZED (SELECT u, 1.0 / n AS pr FROM deg, nv),
       |$rounds
       |SELECT u AS part, CAST(pr AS REAL) AS pagerank
       |FROM pr$iters WHERE u <= 100 ORDER BY part""".stripMargin
  }

  /** [[graft.query.Graph.graphKatzCentrality]]: x⁰ = 1, xⁱ(v) =
    * 1 + α·Σ_{u∼v} xⁱ⁻¹(u), `iters` rounds unrolled over the same
    * co-purchase edge CTEs as [[pagerankOracleSql]] (no degree
    * division — Katz counts walks, not a stochastic process). */
  private def katzOracleSql(iters: Int, alpha: String): String = {
    val rounds = (1 to iters).map { i =>
      s"""x$i AS (
         |  SELECT e.v AS u, 1.0 + $alpha * sum(p.x) AS x
         |  FROM edges e JOIN x${i - 1} p ON p.u = e.u
         |  GROUP BY e.v
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |), edges AS (
       |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
       |), verts AS (SELECT DISTINCT u FROM edges),
       |x0 AS (SELECT u, CAST(1.0 AS DOUBLE) AS x FROM verts),
       |$rounds
       |SELECT u AS part, CAST(x AS REAL) AS katz
       |FROM x$iters WHERE u <= 100 ORDER BY part""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("graph_node2vec_transitions", Graph.graphNode2vecTransitions(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), ranked AS (
        |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY
        |    CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ':cap:' ||
        |      CAST(v AS VARCHAR)), 1, 15) AS BIGINT), v) AS rn
        |  FROM edges
        |), adj AS (
        |  SELECT u, list_sort(list(v)) AS nbrs FROM ranked
        |  WHERE rn <= 64 GROUP BY u
        |), exp1 AS (
        |  SELECT u AS prev, nbrs AS prev_nbrs, unnest(nbrs) AS cur
        |  FROM adj WHERE u <= 20
        |), exp2 AS (
        |  SELECT e.prev, e.prev_nbrs, e.cur, unnest(a.nbrs) AS next
        |  FROM exp1 e JOIN adj a ON a.u = e.cur
        |), wt AS (
        |  SELECT prev, cur, next,
        |    CAST(CASE WHEN next = prev THEN 0.5
        |      WHEN list_contains(prev_nbrs, next) THEN 1.0
        |      ELSE 2.0 END AS DOUBLE) AS w
        |  FROM exp2
        |)
        |SELECT prev, cur, next, w,
        |  w / sum(w) OVER (PARTITION BY prev, cur) AS prob
        |FROM wt ORDER BY prev, cur, next""".stripMargin)),
    QueryDef("graph_closeness_sampled", Graph.graphClosenessSampled(_, _), Some(
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), verts AS (SELECT DISTINCT u FROM edges),
        |r(src, v, dist) AS (
        |  SELECT u, u, 0 FROM verts WHERE u <= 50
        |  UNION
        |  SELECT r.src, e.v, r.dist + 1
        |  FROM r JOIN edges e ON e.u = r.v WHERE r.dist < 4
        |), md AS (
        |  SELECT src, v, min(dist) AS d FROM r GROUP BY src, v
        |), c AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM md WHERE d > 0 GROUP BY v
        |)
        |SELECT v, n1, n2, n3, n4,
        |  CAST(n1 AS DOUBLE) / 1.0 + CAST(n2 AS DOUBLE) / 2.0
        |    + CAST(n3 AS DOUBLE) / 3.0 + CAST(n4 AS DOUBLE) / 4.0 AS harmonic
        |FROM c ORDER BY v""".stripMargin)),
    // probes the same persisted BFS index as graph_closeness_sampled
    QueryDef("graph_effective_diameter", Graph.graphEffectiveDiameter(_, _), Some(
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), verts AS (SELECT DISTINCT u FROM edges),
        |r(src, v, dist) AS (
        |  SELECT u, u, 0 FROM verts WHERE u <= 50
        |  UNION
        |  SELECT r.src, e.v, r.dist + 1
        |  FROM r JOIN edges e ON e.u = r.v WHERE r.dist < 4
        |), md AS (
        |  SELECT src, v, min(dist) AS d FROM r GROUP BY src, v
        |), c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM md WHERE d > 0
        |)
        |SELECT n1 + n2 + n3 + n4 AS n_pairs, n1, n2, n3, n4,
        |  CAST(1 * n1 + 2 * n2 + 3 * n3 + 4 * n4 AS DOUBLE)
        |    / CAST(n1 + n2 + n3 + n4 AS DOUBLE) AS mean_dist,
        |  CAST(CASE WHEN 10 * n1 >= 9 * (n1 + n2 + n3 + n4) THEN 1
        |    WHEN 10 * (n1 + n2) >= 9 * (n1 + n2 + n3 + n4) THEN 2
        |    WHEN 10 * (n1 + n2 + n3) >= 9 * (n1 + n2 + n3 + n4) THEN 3
        |    ELSE 4 END AS INT) AS d90
        |FROM c""".stripMargin)),
    // round 12: fixpoint components, skyline, table profiling,
    // calibration, L2 ANN, warehouse maintenance, TPC-H Q2/Q9/Q16 shapes
    // round 12 — unbounded recursive CTE = the fixpoint the engine's
    // pointer-jumping min-label loop converges to
    QueryDef("graph_connected_components", Graph.graphConnectedComponents(_, _), Some(
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), pair_orders AS (
        |  SELECT ok FROM li GROUP BY ok HAVING count(*) = 2
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  WHERE a.ok IN (SELECT ok FROM pair_orders)
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), verts AS (SELECT DISTINCT u FROM edges),
        |r(u, lbl) AS (
        |  SELECT u, u AS lbl FROM verts
        |  UNION
        |  SELECT e.v AS u, r.lbl FROM r JOIN edges e ON e.u = r.u
        |), comp AS (SELECT u, min(lbl) AS component FROM r GROUP BY u)
        |SELECT component, count(*) AS n_members, max(u) AS max_member
        |FROM comp GROUP BY component ORDER BY component""".stripMargin)),
    QueryDef("graph_triangles", Graph.graphTriangles _, Some(
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), deg AS MATERIALIZED (
        |  SELECT x, count(*) AS deg FROM (
        |    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
        |  GROUP BY x
        |), oriented AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
        |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t,
        |    CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg
        |      END AS dt
        |  FROM edges e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
        |), wedges AS MATERIALIZED (
        |  SELECT p.t AS u2, q.t AS v2
        |  FROM oriented p JOIN oriented q ON p.s = q.s
        |  WHERE (p.dt, p.t) < (q.dt, q.t)
        |), tri AS MATERIALIZED (
        |  SELECT count(*) AS n_triangles FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM oriented o
        |    WHERE o.s = w.u2 AND o.t = w.v2)
        |)
        |SELECT (SELECT count(*) FROM deg) AS n_vertices,
        |  (SELECT count(*) FROM edges) AS n_edges,
        |  (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  n_triangles,
        |  CAST(3.0 * n_triangles / (SELECT sum((deg * (deg - 1)) // 2)
        |    FROM deg) AS REAL) AS clustering_coeff
        |FROM tri""".stripMargin)),
    QueryDef("graph_pagerank", Graph.graphPagerank(_, _), Some(pagerankOracleSql(3))),
    // Deeper variant with lineage truncation every 3 rounds — the
    // iterate-to-fixpoint shape (plan size stays constant per round).
    // Registered at 6 rounds: the bench pays per-round cost ×iters with
    // zero extra plan coverage past the first checkpoint boundary, and
    // the round-8 driver run showed one 10-round entry eating 23% of the
    // whole bench budget. The 10-round shape itself stays pinned by
    // Round8Spec ("constant per-round plan size") and
    // PartitionInvarianceSpec's 10-round accumulation check.
    QueryDef("graph_pagerank_deep",
      Graph.graphPagerank(_, _, iters = 6, checkpointEvery = 3),
      Some(pagerankOracleSql(6))),
    QueryDef("graph_communities_lpa", Graph.graphCommunitiesLpa(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), l0 AS (SELECT DISTINCT u, u AS lbl FROM edges),
        |c1 AS (
        |  SELECT e.u, l.lbl, count(*) AS c
        |  FROM edges e JOIN l0 l ON l.u = e.v GROUP BY 1, 2
        |), l1 AS (
        |  SELECT u, lbl FROM (
        |    SELECT u, lbl, row_number() OVER (PARTITION BY u
        |      ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1
        |), c2 AS (
        |  SELECT e.u, l.lbl, count(*) AS c
        |  FROM edges e JOIN l1 l ON l.u = e.v GROUP BY 1, 2
        |), l2 AS (
        |  SELECT u, lbl FROM (
        |    SELECT u, lbl, row_number() OVER (PARTITION BY u
        |      ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1
        |)
        |SELECT u AS part, lbl AS community FROM l2
        |WHERE u <= 100 ORDER BY part""".stripMargin)),
    QueryDef("path_transitions", Graph.pathTransitions _, Some(
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |), l AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM ev
        |), pairs AS (
        |  SELECT prev_type, next_type, count(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type)
        |    AS DOUBLE) AS p
        |FROM pairs ORDER BY prev_type, next_type""".stripMargin)),
    // bounded recursion: Spark runs frontier-delta rounds, the oracle the
    // equivalent recursive CTE; min(dist) = BFS distance on both sides
    QueryDef("graph_reachability", Graph.graphReachability(_, _), Some(
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), r(u, dist) AS (
        |  SELECT DISTINCT u, 0 FROM edges WHERE u <= 3
        |  UNION
        |  SELECT e.v, r.dist + 1
        |  FROM r JOIN edges e ON e.u = r.u
        |  WHERE r.dist < 3
        |)
        |SELECT u AS part, CAST(min(dist) AS INT) AS hops
        |FROM r GROUP BY u ORDER BY part""".stripMargin)),
    QueryDef("graph_common_neighbors", Graph.graphCommonNeighbors(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), deg AS (
        |  SELECT u AS x, count(*) AS deg FROM sym GROUP BY u
        |), cohort AS (
        |  SELECT u, v FROM sym WHERE v % 16 = 0
        |), cn AS (
        |  SELECT a.v AS u2, b.v AS v2, CAST(count(*) AS BIGINT) AS cn
        |  FROM cohort a JOIN cohort b ON a.u = b.u AND a.v < b.v
        |  GROUP BY a.v, b.v
        |), na AS (
        |  SELECT * FROM cn WHERE NOT EXISTS (
        |    SELECT 1 FROM edges e WHERE e.u = cn.u2 AND e.v = cn.v2)
        |)
        |SELECT u2 AS u, v2 AS v, cn,
        |  CAST(CAST(cn AS DOUBLE)
        |    / CAST(du.deg + dv.deg - cn AS DOUBLE) AS REAL) AS jaccard
        |FROM na JOIN deg du ON du.x = na.u2 JOIN deg dv ON dv.x = na.v2
        |ORDER BY cn DESC, u, v LIMIT 20""".stripMargin)),
    QueryDef("graph_assortativity", Graph.graphAssortativity _, Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), deg AS (
        |  SELECT u AS x, count(*) AS deg FROM sym GROUP BY u
        |), j AS (
        |  SELECT CAST(du.deg AS DOUBLE) AS x, CAST(dv.deg AS DOUBLE) AS y
        |  FROM sym JOIN deg du ON du.x = sym.u JOIN deg dv ON dv.x = sym.v
        |), a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j
        |)
        |SELECT CAST(n AS BIGINT) AS n_dir_edges,
        |  CAST((n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS REAL)
        |    AS assortativity
        |FROM a""".stripMargin)),
    QueryDef("graph_local_clustering", Graph.graphLocalClustering(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), deg AS (
        |  SELECT u AS x, count(*) AS deg FROM sym GROUP BY u
        |), nbrs AS (
        |  SELECT u, v FROM sym WHERE u % 128 = 0
        |), wedges AS (
        |  SELECT a.u AS x, a.v AS u2, b.v AS v2
        |  FROM nbrs a JOIN nbrs b ON a.u = b.u AND a.v < b.v
        |), closed AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS n_closed FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM edges e
        |    WHERE e.u = w.u2 AND e.v = w.v2)
        |  GROUP BY x
        |), alln AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS n_wedges
        |  FROM wedges GROUP BY x
        |)
        |SELECT alln.x AS vertex, CAST(deg.deg AS BIGINT) AS deg, n_wedges,
        |  coalesce(n_closed, 0) AS n_closed,
        |  CAST(coalesce(n_closed, 0) AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |    AS clustering_coeff
        |FROM alln LEFT JOIN closed USING (x)
        |JOIN deg ON deg.x = alln.x
        |ORDER BY vertex""".stripMargin)),
    QueryDef("graph_copurchase_weights", Graph.graphCopurchaseWeights(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |)
        |SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS weight
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY a.pk, b.pk
        |ORDER BY weight DESC, u, v LIMIT 25""".stripMargin)),
    // three unrolled peel rounds — the Spark side runs the identical
    // fixed-round fold over the shared co-purchase edge index
    // every CTE MATERIALIZED: the peeling chain references each stage
    // 3× (two IN-subqueries + the next HAVING), so DuckDB's per-
    // reference inlining re-evaluated the pair self-join a combinatorial
    // number of times and exhausted temp disk at x10; materialization
    // evaluates each peel once
    QueryDef("graph_kcore", Graph.graphKcore(_, _), Some(
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS MATERIALIZED (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), thr AS MATERIALIZED (
        |  SELECT quantile_cont(deg, 0.1) AS k FROM (
        |    SELECT CAST(count(*) AS DOUBLE) AS deg FROM sym GROUP BY u)
        |), a1 AS MATERIALIZED (SELECT u FROM sym GROUP BY u
        |  HAVING count(*) >= (SELECT k FROM thr)),
        |e1 AS MATERIALIZED (SELECT u, v FROM sym
        |  WHERE u IN (SELECT u FROM a1) AND v IN (SELECT u FROM a1)),
        |a2 AS MATERIALIZED (SELECT u FROM e1 GROUP BY u
        |  HAVING count(*) >= (SELECT k FROM thr)),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1
        |  WHERE u IN (SELECT u FROM a2) AND v IN (SELECT u FROM a2)),
        |a3 AS MATERIALIZED (SELECT u FROM e2 GROUP BY u
        |  HAVING count(*) >= (SELECT k FROM thr)),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2
        |  WHERE u IN (SELECT u FROM a3) AND v IN (SELECT u FROM a3))
        |SELECT u AS vertex, CAST(count(*) AS BIGINT) AS core_degree
        |FROM e3 GROUP BY u ORDER BY vertex""".stripMargin)),
    QueryDef("graph_two_hop_reach", Graph.graphTwoHopReach _, Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), cohort AS (SELECT u, v FROM sym WHERE u % 16 = 0),
        |hop1 AS (SELECT u AS src, v AS reach FROM cohort),
        |hop2 AS (
        |  SELECT a.u AS src, b.v AS reach
        |  FROM cohort a JOIN sym b ON a.v = b.u WHERE b.v <> a.u
        |)
        |SELECT src, CAST(count(DISTINCT reach) AS BIGINT) AS reach_2hop
        |FROM (SELECT * FROM hop1 UNION ALL SELECT * FROM hop2)
        |GROUP BY src ORDER BY src""".stripMargin)),
    QueryDef("graph_degree_bands", Graph.graphDegreeBands _, Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), d AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM d)
        |SELECT CAST(length(bin(deg)) - 1 AS INT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_vertices_band,
        |  CAST(min(deg) AS BIGINT) AS deg_min,
        |  CAST(max(deg) AS BIGINT) AS deg_max,
        |  CAST(count(*) AS DOUBLE) / CAST(n_vertices AS DOUBLE) AS share
        |FROM d, t GROUP BY 1, n_vertices ORDER BY band""".stripMargin)),
    // integer-exact HITS on the bipartite order↔part graph. Registered at
    // iters=2 (each round is TWO joins — the 3-round shape costs ~2×
    // pagerank-3 at bench scale and is pinned by Round15Spec instead)
    QueryDef("graph_hits", Graph.graphHits(_, _, iters = 2), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), a1 AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS a FROM li GROUP BY pk
        |), h1 AS (
        |  SELECT ok, CAST(sum(a) AS BIGINT) AS h
        |  FROM li JOIN a1 USING (pk) GROUP BY ok
        |), a2 AS (
        |  SELECT pk, CAST(sum(h) AS BIGINT) AS a
        |  FROM li JOIN h1 USING (ok) GROUP BY pk
        |), mx AS (SELECT max(a) AS amax FROM a2)
        |SELECT pk AS part_id, a AS auth,
        |  CAST(CAST(a AS DOUBLE) / CAST(amax AS DOUBLE) AS REAL) AS score
        |FROM a2, mx ORDER BY auth DESC, part_id LIMIT 50""".stripMargin)),
    // community-quality score for the LPA labels
    // graph_communities_lpa's LPA chain, extended with the modularity
    // tail (exact BIGINT edge/degree masses; one double expression per
    // community)
    QueryDef("graph_modularity", Graph.graphModularity _, Some(
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS MATERIALIZED (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), l0 AS MATERIALIZED (SELECT DISTINCT u, u AS lbl FROM edges),
        |c1 AS MATERIALIZED (
        |  SELECT e.u, l.lbl, count(*) AS c
        |  FROM edges e JOIN l0 l ON l.u = e.v GROUP BY 1, 2
        |), l1 AS MATERIALIZED (
        |  SELECT u, lbl FROM (
        |    SELECT u, lbl, row_number() OVER (PARTITION BY u
        |      ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1
        |), c2 AS MATERIALIZED (
        |  SELECT e.u, l.lbl, count(*) AS c
        |  FROM edges e JOIN l1 l ON l.u = e.v GROUP BY 1, 2
        |), l2 AS MATERIALIZED (
        |  SELECT u, lbl FROM (
        |    SELECT u, lbl, row_number() OVER (PARTITION BY u
        |      ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1
        |), tm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS two_m FROM edges),
        |dm AS MATERIALIZED (
        |  SELECT l.lbl, CAST(count(*) AS BIGINT) AS d_c
        |  FROM edges e JOIN l2 l ON l.u = e.u GROUP BY l.lbl
        |), ic AS MATERIALIZED (
        |  SELECT lu.lbl, CAST(count(*) AS BIGINT) AS e2_c
        |  FROM edges e JOIN l2 lu ON lu.u = e.u JOIN l2 lv ON lv.u = e.v
        |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
        |)
        |SELECT dm.lbl AS community,
        |  CAST(coalesce(ic.e2_c, 0) AS BIGINT) AS e2_c, dm.d_c, tm.two_m,
        |  CAST(CAST(coalesce(ic.e2_c, 0) AS DOUBLE) / CAST(tm.two_m AS DOUBLE)
        |    - (CAST(dm.d_c AS DOUBLE) / CAST(tm.two_m AS DOUBLE))
        |      * (CAST(dm.d_c AS DOUBLE) / CAST(tm.two_m AS DOUBLE))
        |    AS REAL) AS q_c
        |FROM dm LEFT JOIN ic ON dm.lbl = ic.lbl CROSS JOIN tm
        |ORDER BY community""".stripMargin)),
    // delta-maintenance CC: contract delta onto labels, relabel touched
    // incremental CC oracle: FULL-graph recursive-CTE components,
    // restricted to components containing a delta-order endpoint — the
    // engine's contract-and-merge path must land on exactly these rows
    QueryDef("graph_cc_incremental", Graph.graphCcIncremental(_, _), Some(
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), pair_orders AS (
        |  SELECT ok FROM li GROUP BY ok HAVING count(*) = 2
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  WHERE a.ok IN (SELECT ok FROM pair_orders)
        |), d_ep AS (
        |  SELECT DISTINCT pk AS u FROM li
        |  WHERE ok % 10 = 0 AND ok IN (SELECT ok FROM pair_orders)
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), verts AS (SELECT DISTINCT u FROM edges),
        |r(u, lbl) AS (
        |  SELECT u, u AS lbl FROM verts
        |  UNION
        |  SELECT e.v AS u, r.lbl FROM r JOIN edges e ON e.u = r.u
        |), comp AS (SELECT u, min(lbl) AS component FROM r GROUP BY u),
        |touched AS (
        |  SELECT DISTINCT component FROM comp JOIN d_ep USING (u)
        |)
        |SELECT component, count(*) AS n_members, max(u) AS max_member
        |FROM comp WHERE component IN (SELECT component FROM touched)
        |GROUP BY component ORDER BY component""".stripMargin)),
    // replayable DeepWalk-style sampling over the graph index
    QueryDef("graph_random_walks", Graph.graphRandomWalks(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), ranked AS (
        |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY
        |    CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ':cap:' ||
        |      CAST(v AS VARCHAR)), 1, 15) AS BIGINT), v) AS rn
        |  FROM edges
        |), adj AS (
        |  SELECT u, list_sort(list(v)) AS nbrs FROM ranked
        |  WHERE rn <= 64 GROUP BY u
        |), w0 AS (
        |  SELECT u AS walk_id, u AS pos, CAST(u AS VARCHAR) AS path
        |  FROM adj WHERE u <= 100
        |), w1 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':1:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w0 w JOIN adj a ON a.u = w.pos
        |), w1p AS (
        |  SELECT walk_id, pos, path || '->' || CAST(pos AS VARCHAR) AS path
        |  FROM w1
        |), w2 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':2:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w1p w JOIN adj a ON a.u = w.pos
        |), w2p AS (
        |  SELECT walk_id, pos, path || '->' || CAST(pos AS VARCHAR) AS path
        |  FROM w2
        |), w3 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':3:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w2p w JOIN adj a ON a.u = w.pos
        |)
        |SELECT walk_id, path || '->' || CAST(pos AS VARCHAR) AS path,
        |  pos AS end_vertex
        |FROM w3 ORDER BY walk_id""".stripMargin)),
    // skip-gram pair counts over the walk corpus (DeepWalk step 2)
    // graph_random_walks' walk CTE chain, exploded into ±2 skip-gram pairs
    QueryDef("graph_walk_cooccurrence", Graph.graphWalkCooccurrence(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), ranked AS (
        |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY
        |    CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ':cap:' ||
        |      CAST(v AS VARCHAR)), 1, 15) AS BIGINT), v) AS rn
        |  FROM edges
        |), adj AS (
        |  SELECT u, list_sort(list(v)) AS nbrs FROM ranked
        |  WHERE rn <= 64 GROUP BY u
        |), w0 AS (
        |  SELECT u AS walk_id, u AS pos, [u] AS path
        |  FROM adj WHERE u <= 100
        |), w1 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':1:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w0 w JOIN adj a ON a.u = w.pos
        |), w1p AS (SELECT walk_id, pos, list_append(path, pos) AS path FROM w1),
        |w2 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':2:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w1p w JOIN adj a ON a.u = w.pos
        |), w2p AS (SELECT walk_id, pos, list_append(path, pos) AS path FROM w2),
        |w3 AS (
        |  SELECT w.walk_id,
        |    a.nbrs[CAST(CAST('0x' || substr(md5(
        |      CAST(w.walk_id AS VARCHAR) || ':3:' || CAST(w.pos AS VARCHAR)
        |      ), 1, 15) AS BIGINT) % len(a.nbrs) AS INT) + 1] AS pos,
        |    w.path FROM w2p w JOIN adj a ON a.u = w.pos
        |), walks AS (SELECT list_append(path, pos) AS p FROM w3),
        |pairs AS (
        |  SELECT p[i + 1] AS center, p[j + 1] AS context
        |  FROM walks,
        |    LATERAL (SELECT unnest(generate_series(0, len(p) - 1)) AS i) si,
        |    LATERAL (SELECT unnest(generate_series(greatest(0, i - 2),
        |      least(len(p) - 1, i + 2))) AS j) sj
        |  WHERE i <> j
        |)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n
        |FROM pairs GROUP BY center, context
        |ORDER BY center, context""".stripMargin)),
    // Adamic-Adar link prediction (1/ln(deg) wedge weights)
    // the common-neighbors wedge machinery with 1/ln(center degree)
    // weights; top-k still ranked on the INTEGER count
    QueryDef("graph_adamic_adar", Graph.graphAdamicAdar(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), sym AS (
        |  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
        |), deg AS (
        |  SELECT u AS x, count(*) AS deg FROM sym GROUP BY u
        |), cohort AS (
        |  SELECT u, v FROM sym WHERE v % 16 = 0
        |), wed AS (
        |  SELECT a.u AS z, a.v AS u2, b.v AS v2
        |  FROM cohort a JOIN cohort b ON a.u = b.u AND a.v < b.v
        |), scored AS (
        |  SELECT u2, v2, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1.0 / ln(CAST(d.deg AS DOUBLE))) AS REAL)
        |      AS adamic_adar
        |  FROM wed JOIN deg d ON d.x = wed.z
        |  GROUP BY u2, v2
        |), na AS (
        |  SELECT * FROM scored WHERE NOT EXISTS (
        |    SELECT 1 FROM edges e WHERE e.u = scored.u2 AND e.v = scored.v2)
        |)
        |SELECT u2 AS u, v2 AS v, cn, adamic_adar FROM na
        |ORDER BY cn DESC, u, v LIMIT 20""".stripMargin)),
    // round 16: attenuated-path centrality on the co-purchase graph
    QueryDef("graph_katz_centrality", Graph.graphKatzCentrality(_, _),
      Some(katzOracleSql(3, "0.05"))),
    // round 16: Everett–Borgatti ego betweenness (brokerage centrality)
    // Σ 1/σ over non-adjacent neighbor pairs; couriers by 3-way join
    QueryDef("graph_ego_betweenness", Graph.graphEgoBetweenness(_, _),
      Some(egoBetweennessOracleSql(64))),
    // round 19: the %512 sampled center cohort — same plan, 8× fewer
    // centers, which is what makes the x10 oracle replay disk-feasible
    // round 19 (r18 verdict #7): the %512 center cohort — the sampled
    // form whose x10 DuckDB replay fits in temp disk (the full %64
    // courier stream measured ~300 M rows > 78 GB twice at x10)
    QueryDef("graph_ego_betweenness_s512",
      Graph.graphEgoBetweenness(_, _, cohortMod = 512),
      Some(egoBetweennessOracleSql(512))),
    // round 16: do hubs trade with hubs (panel of degree cuts)
    // exact club counts off the same co-purchase edge/degree CTEs
    QueryDef("graph_rich_club", Graph.graphRichClub(_, _), Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |), edges AS (
        |  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u
        |), ks AS (
        |  SELECT k FROM (VALUES (10), (20), (40), (80)) t(k)
        |), nk AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_k
        |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY k
        |), ek AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS e_k
        |  FROM e0
        |  JOIN deg du ON du.u = e0.u
        |  JOIN deg dv ON dv.u = e0.v
        |  CROSS JOIN ks
        |  WHERE du.deg > k AND dv.deg > k GROUP BY k
        |)
        |SELECT k, n_k, CAST(coalesce(e_k, 0) AS BIGINT) AS e_k,
        |  CASE WHEN n_k >= 2 THEN
        |    CAST(2.0 * CAST(coalesce(e_k, 0) AS DOUBLE)
        |      / (CAST(n_k AS DOUBLE) * CAST(n_k - 1 AS DOUBLE)) AS REAL)
        |  END AS phi
        |FROM nk LEFT JOIN ek USING (k) ORDER BY k""".stripMargin)),
    // round 17: weighted shortest paths (frontier-pruned Bellman-Ford)
    // round 17: unrolled Bellman-Ford (frontier-pruned == full rounds)
    QueryDef("graph_sssp_weighted", Graph.graphSsspWeighted(_, _), Some(ssspOracleSql(4, 4))),
  )
}
