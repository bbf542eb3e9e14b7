package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** Graph, anomaly, sampling, and sketch-merge analytics — the round-5
  * widening of the engine surface past the reference's own operators.
  * Every operator here is DuckDB-oracle exact (or pins approx results
  * with exact companions) and carries an explicit 100 TB shuffle story
  * in its doc.
  */
object Analytics {

  /** Triangle counting on the part co-purchase graph (parts appearing in
    * the same order are connected) with the degree-ordered orientation —
    * the standard trick that bounds wedge enumeration by arboricity
    * instead of max degree, which is THE difference between feasible and
    * quadratic on a 100 TB power-law graph.
    *
    * Scale shape: edge building fans out at most C(7,2)=21 pairs per
    * TPC-H order (per-order line counts are bounded by the schema, so no
    * key blows up); each of the three joins is an equi-join on vertex
    * ids (uniform keys); wedges are enumerated only from each edge's
    * LOWER-(degree, id) endpoint, so per-vertex wedge work is
    * C(deg⁺, 2) with deg⁺ ≈ deg/2 bounded by the orientation — the
    * hub vertex of a star contributes ZERO wedges. No global sort, no
    * driver materialization; the output is one summary row. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val deg = copurchaseDeg(spark, dir)
    val oriented = copurchaseOriented(spark, dir)
    // Closure by adjacency-list intersection: per oriented edge (s, t),
    // |N⁺(s) ∩ N⁺(t)| triangles close over it (each triangle counted
    // exactly once, at the edge between its apex's two out-neighbors'
    // lower pair). This NEVER materializes the wedge stream — 41 M
    // wedges at sf0.1 vs 1.2 M edges — the per-edge sorted-merge
    // ([[graft.functions.IntersectCountSorted]], codegen) does the same
    // comparisons inside one projection. The out-adjacency index is
    // ≤ |V| rows with orientation-bounded list lengths (≈√E̅ worst
    // case, the arboricity bound), broadcast here; partition both sides
    // by vertex when it outgrows executor memory.
    graft.GraftExtensions.register(spark)
    val adj = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"))
    val nTri = oriented
      .join(broadcast(adj), Seq("s"))
      .join(broadcast(adj.select(col("s").as("t"), col("nbrs").as("nbrs_t"))),
        Seq("t"), "left")
      .select(expr(
        """intersect_count_sorted(nbrs,
          |  coalesce(nbrs_t, CAST(array() AS ARRAY<BIGINT>)))""".stripMargin)
        .as("c"))
      .agg(sum(col("c")).as("n_triangles"))
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    // open wedge count from raw degrees: sum C(deg, 2) — exact integers
    // (DIV, not /: Spark's fractional divide would go through double)
    val nW = deg.agg(sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges"))
    nV.crossJoin(nE).crossJoin(nW).crossJoin(nTri)
      .select(col("n_vertices"), col("n_edges"),
        col("n_wedges").cast("long").as("n_wedges"), col("n_triangles"),
        (lit(3.0) * col("n_triangles") / col("n_wedges"))
          .cast("float").as("clustering_coeff"))
  }

  /** PageRank (damping 0.85, `iters` fixed iterations) on the undirected
    * part co-purchase graph — the canonical iterative-join graph workload,
    * shaped the way a Pregel-style engine would run it on Spark.
    *
    * Scale shape: the symmetric edge list and degree table are built once
    * and persisted (probed every round), and their JOIN — loop-invariant:
    * deg(u) never changes across iterations — is hoisted into its own
    * persisted component (`#wdeg`), so each iteration is exactly ONE
    * edges⨝ranks join and one map-side-combined aggregation on the
    * destination; contributions stay the oracle's literal pr(u)/deg(u)
    * arithmetic. No dangling-mass pass is needed: every vertex of an
    * undirected edge list has deg ≥ 1. The vertex count comes from one
    * count() (table statistics in a deployment). Fixed iteration count
    * keeps the plan finite and is the standard convergence/latency
    * tradeoff at corpus scale.
    *
    * `checkpointEvery` (0 = off) eagerly localCheckpoints the rank
    * vector every k rounds — the [[graphReachability]] lineage lesson
    * applied to iterate-to-fixpoint workloads: without truncation the
    * rank lineage grows one join+agg subtree per round, so optimizer
    * time grows superlinearly and a failure replays the whole chain.
    * With cadence k the live plan never exceeds k rounds (Round8Spec
    * pins this), at the cost of materializing |V| rank rows every k
    * rounds — the standard GraphX/Pregel checkpoint-interval tradeoff
    * (k≈3–5: lineage stays cheap, materialization stays rare). */
  def graphPagerank(spark: SparkSession, dir: String, iters: Int = 3,
      maxVertex: Long = 100L, checkpointEvery: Int = 0): DataFrame = {
    val edges = copurchaseEdgesSym(spark, dir)
    val deg = copurchaseDeg(spark, dir)
    // Explicit partition count on the persisted per-round scan side: AQE
    // coalesces the small build shuffle to 1-2 partitions (~60 MB of sf0.1
    // edges fits one advisory target), which would serialize EVERY round's
    // join+partial-agg onto 1-2 tasks ×iters. Pinning to defaultParallelism
    // keeps each round's map side as wide as the machine. The layout key is
    // the DESTINATION vertex: with the rank vector broadcast, the join
    // preserves the scan's hash(v) partitioning, so each round's
    // groupBy(v) aggregation runs exchange-free on the persisted layout —
    // the per-round shuffle of |E| contribution rows (the dominant
    // iterative cost) disappears. If the broadcast hint ever comes off at
    // billion-vertex scale, hash(v) is still the right key: contributions
    // aggregate where they land, and only the (small) rank vector
    // re-shuffles to meet the edge index.
    val nPart = spark.sparkContext.defaultParallelism
    val wedges = cachedDf(spark, gkey(dir, "wdeg")) {
      edges.join(deg, Seq("u")).repartition(nPart, col("v"))
    }
    val nV = deg.count() // persisted: a metadata-speed count
    var pr = deg.select(col("u"), lit(1.0 / nV).as("pr"))
    for (i <- 1 to iters) {
      // The rank vector is ≤|V| rows of (id, double) — the canonical
      // broadcast side. The explicit hint keeps every round's join a
      // BroadcastHashJoin over the PERSISTED wedges index (no per-round
      // reshuffle of the edge data, no reliance on AQE's runtime size
      // estimate of an iterative plan). At billion-vertex scale the hint
      // comes off and the join falls back to the persisted index's hash
      // partitioning — the Pregel shape — with only pr shuffling.
      pr = wedges
        .join(broadcast(pr), Seq("u"))
        .groupBy(col("v"))
        .agg(sum(col("pr") / col("deg")).as("inflow"))
        .select(col("v").as("u"),
          (lit(0.15 / nV) + lit(0.85) * col("inflow")).as("pr"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        pr = pr.localCheckpoint(true)
    }
    pr.filter(col("u") <= maxVertex)
      .select(col("u").as("part"), col("pr").cast("float").as("pagerank"))
      .orderBy(col("part"))
  }

  /** Community detection by synchronous label propagation (`rounds`
    * fixed rounds): labels start as vertex ids; each round every vertex
    * adopts its neighbors' most frequent label (ties → smallest label —
    * the determinism contract async LPA lacks). The cheap communities
    * pass run before expensive per-community work (pagerank within
    * community, summarization) at corpus scale.
    *
    * Scale shape: reuses the persisted [[copurchaseEdgesSym]] index;
    * each round is one edges⨝labels join (labels are (vertex, long) —
    * the payload never travels) plus two map-side-combined
    * aggregations: neighbor-label counts on (vertex, label), then the
    * per-vertex argmax via `min(struct(-count, label))` — never a
    * window over the adjacency. Fixed rounds keep the plan finite
    * (same latency/quality tradeoff as [[graphPagerank]]). */
  def graphCommunitiesLpa(spark: SparkSession, dir: String,
      rounds: Int = 2, maxVertex: Long = 100L): DataFrame =
    lpaLabels(spark, dir, rounds)
      .filter(col("u") <= maxVertex)
      .select(col("u").as("part"), col("lbl").as("community"))
      .orderBy(col("part"))

  /** The full |V|-row LPA label table at `rounds`, persisted beside the
    * other derived graph components: the bounded community dump above
    * AND every label CONSUMER (modularity scoring, community-aware
    * sampling) read this one materialization instead of re-running the
    * propagation — the deployment shape (label once per corpus, score
    * and query many times). Default-rounds only; a nonstandard rounds
    * request bypasses the cache. */
  private[query] def lpaLabels(spark: SparkSession, dir: String,
      rounds: Int = 2): DataFrame = {
    def build: DataFrame = {
      val edges = copurchaseEdgesSym(spark, dir)
      val deg = copurchaseDeg(spark, dir)
      var lbl = deg.select(col("u"), col("u").as("lbl"))
      for (_ <- 1 to rounds) {
        lbl = edges
          .join(lbl.select(col("u").as("v"), col("lbl")), Seq("v"))
          .groupBy(col("u"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(min(struct((-col("c")).as("negc"), col("lbl"))).as("m"))
          .select(col("u"), col("m.lbl").as("lbl"))
      }
      lbl
    }
    if (rounds == 2) cachedDf(spark, gkey(dir, "lpa2"))(build) else build
  }

  /** Bounded BFS reachability: minimum hop distance (≤ `maxHops`) from a
    * seed set (parts with id ≤ `maxSeed`) over the co-purchase graph —
    * the bounded-recursion surface. Spark has no recursive CTE, so the
    * engine expresses the recursive query as `maxHops` frontier-delta
    * rounds: each round joins ONLY the new frontier against the
    * persisted symmetric edge index (never the full reached set),
    * anti-joins out already-reached vertices, and admits the remainder
    * at distance h. First discovery IS the minimum distance (the BFS
    * invariant), so no min re-aggregation pass is needed; the DuckDB
    * oracle is the equivalent recursive CTE with `min(dist)`.
    *
    * Scale shape: the delta iteration is the standard BSP BFS — per
    * round one edges⨝frontier equi-join (frontier broadcasts while
    * small, shuffles on vertex id once it isn't) plus one anti-join
    * against reached ids (longs only). Each round's frontier is
    * MATERIALIZED (eager localCheckpoint — the BSP superstep barrier):
    * the frontier feeds both the next round's join and the growing
    * reached union, so a lazy formulation re-evaluates every earlier
    * round's subtree ~2× per later round (measured 10 s vs ~1 s at
    * bench scale — exponential in hops, fatal at 100 TB where each
    * round is a real shuffle). Truncating the lineage per round is
    * exactly what GraphX/GraphFrames checkpointing does for iterative
    * algorithms. Fixed rounds keep the plan finite; an unbounded
    * closure would iterate to fixpoint with the same per-round shape
    * ([[Dedup.dedupGroups]]' propagation loop). */
  def graphReachability(spark: SparkSession, dir: String,
      maxHops: Int = 3, maxSeed: Long = 3L): DataFrame = {
    val edges = copurchaseEdgesSym(spark, dir)
    // the persisted degree table IS the distinct vertex set — seeding
    // from it probes |V| cached rows instead of re-distincting the |E|
    // edge list (one full shuffle saved before the first round)
    val seeds = copurchaseDeg(spark, dir).select(col("u"))
      .filter(col("u") <= maxSeed)
    var reached = seeds.select(col("u"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = reached.select(col("u"))
    // [[hintVertexScale]]: frontier and reached are checkpointed
    // LogicalRDDs with no stats — unhinted, each round SMJ-re-exchanged
    // the whole persisted edge index (22.5 MB/round at sf0.1 vs the
    // frontier's few hundred KB)
    def hinted(df: DataFrame): DataFrame = hintVertexScale(spark, dir, df)
    for (h <- 1 to maxHops) {
      // anti-join BEFORE the distinct: the broadcast reached-set prune
      // runs map-side over the edge fanout, so the distinct's shuffle
      // carries only unvisited vertices — in late rounds most of the
      // fanout is already reached, and that is exactly the traffic a
      // 100 TB BFS must not shuffle
      frontier = edges.join(hinted(frontier), Seq("u"))
        .select(col("v").as("u"))
        .join(hinted(reached), Seq("u"), "left_anti")
        .distinct()
        .localCheckpoint(true)
      // reached needs NO checkpoint of its own: it is a union of
      // already-materialized frontiers (linear lineage, each referenced
      // once per round) — only the frontier is consumed twice
      reached = reached
        .unionAll(frontier.select(col("u"), lit(h).as("dist")))
    }
    reached.select(col("u").as("part"), col("dist").as("hops"))
      .orderBy(col("part"))
  }

  /** Sampled harmonic centrality: for every vertex, the number of seed
    * sources (id ≤ `maxSeed`) at each hop distance 1..`maxHops` and the
    * harmonic score Σ 1/d — the centrality the sampled-sources Brandes
    * family estimates at web scale (Eppstein–Wang style). Harmonic (not
    * classic closeness) because it is finite under truncation and
    * disconnection by construction — truncating at h just drops terms
    * ≤ 1/h, so the h-bounded score is a principled lower bound, not a
    * biased mean.
    *
    * Exactness: hop counts are integers; the score is four single
    * divisions summed in one fixed left-associated expression — the
    * identical double in both engines.
    *
    * Scale shape: the multi-source BFS rides the SAME BSP frontier
    * recipe as [[graphReachability]] with (src, v) pair frontiers —
    * per round one edges⨝frontier equi-join, an anti-join against the
    * reached set BEFORE the distinct, eager localCheckpoint as the
    * superstep barrier. Work per round is O(|frontier|·d̄), bounded by
    * |seeds|·|V| pairs total; the sources panel is the accuracy/cost
    * dial exactly as in the sampled-centrality literature. */
  /** Multi-source BFS distances (src, v, dist ≤ maxHops) from the seed
    * panel — the shared index behind [[graphClosenessSampled]] and
    * [[graphEffectiveDiameter]] (persisted per (session, corpus, panel)
    * like every other graph component: one BSP traversal, many
    * centrality/diameter consumers). */
  private[query] def bfsDistances(spark: SparkSession, dir: String,
      maxHops: Int, maxSeed: Long): DataFrame =
    cachedDf(spark, gkey(dir, s"bfs${maxSeed}x$maxHops")) {
      val edges = copurchaseEdgesSym(spark, dir)
      val seeds = copurchaseDeg(spark, dir).select(col("u"))
        .filter(col("u") <= maxSeed)
      var reached = seeds
        .select(col("u").as("src"), col("u").as("v"), lit(0).as("dist"))
        .localCheckpoint(true)
      var frontier = reached.select(col("src"), col("v"))
      // (src, v) pair frames are ≤ |seeds|·|V| rows of two longs —
      // still inside the [[hintVertexScale]] gate's envelope
      def hinted(df: DataFrame): DataFrame = hintVertexScale(spark, dir, df)
      for (h <- 1 to maxHops) {
        frontier = edges.select(col("u").as("v"), col("v").as("w"))
          .join(hinted(frontier), Seq("v"))
          .select(col("src"), col("w").as("v"))
          .join(hinted(reached), Seq("src", "v"), "left_anti")
          .distinct()
          .localCheckpoint(true)
        reached = reached
          .unionAll(frontier.select(col("src"), col("v"), lit(h).as("dist")))
      }
      reached
    }

  def graphClosenessSampled(spark: SparkSession, dir: String,
      maxHops: Int = 4, maxSeed: Long = 50L): DataFrame = {
    val reached = bfsDistances(spark, dir, maxHops, maxSeed)
    def nAt(h: Int): Column =
      sum(when(col("dist") === h, lit(1L)).otherwise(lit(0L))).as(s"n$h")
    val hs = 1 to maxHops
    // x/1.0 is an exact identity, so the uniform Σ n_h/h fold matches
    // the oracle's n1 + n2/2 + … term for term, left-associated
    val harmonic = hs.map(h => col(s"n$h").cast("double") / lit(h.toDouble))
      .reduce(_ + _)
    reached.filter(col("dist") > 0)
      .groupBy(col("v"))
      .agg(nAt(hs.head), hs.tail.map(nAt): _*)
      .select(col("v") +: hs.map(h => col(s"n$h")) :+ harmonic.as("harmonic"): _*)
      .orderBy(col("v"))
  }

  /** Sampled effective diameter: the distance distribution over all
    * (seed, vertex) shortest paths from the seed panel, its exact mean,
    * and the HyperANF-style effective diameter d₉₀ (the smallest d with
    * ≥ 90% of reachable pairs within d) — the one-row graph health
    * panel (is the graph getting "smaller"? did an ingest bug sever
    * it?) that at web scale runs on HyperLogLog neighborhood sketches
    * over the same per-hop frontier counts measured exactly here.
    *
    * Exactness: per-distance pair counts are integers, the d₉₀ pick is
    * the integer comparison 10·cum_d ≥ 9·n, and the mean is one double
    * division of exact integers.
    *
    * Scale shape: probes the SAME persisted [[bfsDistances]] index as
    * [[graphClosenessSampled]] (one traversal, both consumers warm) and
    * reduces it with one map-side-combined aggregate to a single row. */
  def graphEffectiveDiameter(spark: SparkSession, dir: String,
      maxHops: Int = 4, maxSeed: Long = 50L): DataFrame = {
    val reached = bfsDistances(spark, dir, maxHops, maxSeed)
    def nAt(h: Int): Column =
      sum(when(col("dist") === h, lit(1L)).otherwise(lit(0L))).as(s"n$h")
    val hs = 1 to maxHops
    val n = hs.map(h => col(s"n$h")).reduce(_ + _)
    val cum = hs.map(h => hs.take(h).map(d => col(s"n$d")).reduce(_ + _))
    val d90 = hs.init.foldRight(lit(maxHops): Column) { (h, rest) =>
      when(lit(10) * cum(h - 1) >= lit(9) * n, lit(h)).otherwise(rest)
    }
    val sumD = hs.map(h => lit(h.toLong) * col(s"n$h")).reduce(_ + _)
    reached.filter(col("dist") > 0)
      .agg(nAt(hs.head), hs.tail.map(nAt): _*)
      .select(n.as("n_pairs") +: hs.map(h => col(s"n$h")) :+
        (sumD.cast("double") / n.cast("double")).as("mean_dist") :+
        d90.cast("int").as("d90"): _*)
  }

  // Persisted co-purchase graph components (distinct edges, symmetric
  // edges, degrees, degree-orientation) in the session's IndexCache:
  // triangles and pagerank SHARE one materialized edge index per
  // (session, dir) instead of each recomputing the two-distinct lineage
  // per branch — the 100 TB deployment shape (build the graph once, run
  // many graph queries against it).

  /** Graph-cache key: `dir#component`. */
  private[query] def gkey(dir: String, suffix: String): String = s"$dir#$suffix"

  /** Build-once persisted component. The build is materialized (count)
    * inside the cache build so every later use reads warm blocks.
    *
    * `srcTable` names the parquet table the frame DERIVES from — the
    * cache fingerprints that table, so regenerating the actual source at
    * the same path rebuilds the index and unpersists the superseded
    * generation (an embeddings-derived index keyed to lineitem would
    * serve stale blocks silently after an embeddings-only
    * regeneration). */
  private[query] def cachedDf(spark: SparkSession, key: String,
      srcTable: String = "lineitem")
      (build: => DataFrame): DataFrame = {
    val dir = key.takeWhile(_ != '#')
    IndexCache(spark, "graph", key, Seq(s"$dir/$srcTable.parquet")) {
      val df = build.persist()
      df.count()
      df
    }(_.unpersist(false))
  }

  /** WEIGHTED undirected co-purchase edges (u < v, weight = number of
    * shared orders) — the base graph index everything else derives
    * from: a production deployment stores the weighted projection once
    * and reads the unweighted view out of it, rather than maintaining
    * two edge builds over the fact table. Same per-order-basket pair
    * fanout as the old distinct-pairs build (the groupBy count and the
    * distinct are the same shuffle). */
  private[query] def copurchaseWeighted(spark: SparkSession,
      dir: String): DataFrame =
    cachedDf(spark, gkey(dir, "ew")) {
      val li = table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"), Seq("ok"))
        .filter(col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("weight"))
    }

  /** Distinct undirected co-purchase edges as (u < v) pairs: the
    * unweighted view of [[copurchaseWeighted]]. */
  private[query] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    cachedDf(spark, gkey(dir, "e0")) {
      copurchaseWeighted(spark, dir).select(col("u"), col("v"))
    }

  /** Both directions of [[copurchaseEdges]] (u→v and v→u). Deliberately
    * NOT pinned to a hash(v) layout: unlike [[graphPagerank]]'s wedges
    * (whose per-round aggregation moves |E| contribution rows and so
    * earns a pinned-width destination layout), BFS and LPA rounds carry
    * small frontier/label deltas — pinning the index to full width was
    * measured 1.8-2× SLOWER at bench scale because every tiny per-round
    * stage inherits 32 tasks that AQE would otherwise coalesce. */
  private[graft] def copurchaseEdgesSym(spark: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdges(spark, dir)
    cachedDf(spark, gkey(dir, "sym")) {
      e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    }
  }

  /** Per-vertex degree of the undirected graph, keyed `u`. */
  private[query] def copurchaseDeg(spark: SparkSession, dir: String): DataFrame = {
    val sym = copurchaseEdgesSym(spark, dir)
    cachedDf(spark, gkey(dir, "deg")) {
      sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    }
  }

  /** Full sorted adjacency index of the symmetric co-purchase graph:
    * (u, nbrs) with nbrs = sort_array of u's neighbors — |V| rows
    * carrying 2|E| longs total. The set-intersection sibling of
    * [[copurchaseOriented]]'s out-adjacency (which is orientation-
    * halved and only serves triangle counting); ego betweenness's
    * courier counts intersect THREE full neighborhoods, so they need
    * the unhalved lists. Persisted like every other derived graph
    * component. */
  private[query] def copurchaseAdj(spark: SparkSession,
      dir: String): DataFrame = {
    val sym = copurchaseEdgesSym(spark, dir)
    cachedDf(spark, gkey(dir, "adjfull")) {
      sym.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    }
  }

  /** Each edge oriented from its lower-(degree, id) endpoint `s` to the
    * higher one `t` (dt = t's degree) — the arboricity-bounding
    * orientation triangle counting enumerates wedges from. */
  private def copurchaseOriented(spark: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdges(spark, dir)
    val deg = copurchaseDeg(spark, dir)
    cachedDf(spark, gkey(dir, "oriented")) {
      e0
        .join(deg.withColumnRenamed("deg", "du"), Seq("u"))
        .join(deg.withColumnRenamed("u", "v").withColumnRenamed("deg", "dv"),
          Seq("v"))
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"),
              col("du").as("dt"))).as("e"))
        .select(col("e.s"), col("e.t"), col("e.dt"))
    }
  }

  /** |E| of [[copurchaseEdgesSym]] — the scalar the scale gates consult
    * (graph_ego_betweenness's broadcast hints). ONE count job per corpus
    * generation (over the already-persisted index, so it reads warm
    * blocks), fingerprint-keyed like every other shared component — a
    * regenerated corpus re-counts instead of serving a stale scale
    * decision. */
  private[graft] def symEdgeCount(spark: SparkSession, dir: String): Long =
    IndexCache(spark, "graph.symcount", dir, Seq(s"$dir/lineitem.parquet"))(
      copurchaseEdgesSym(spark, dir).count())(_ => ())

  /** Broadcast-hint a vertex-bounded per-round frame (BFS/SSSP frontier,
    * reached set, label store) iff the graph's scale gate allows — the
    * [[Analytics6.graphEgoBetweenness]] hint discipline extended to the
    * iterative loops. The per-round frames here are eager
    * localCheckpoints, i.e. LogicalRDDs with NO catalyst statistics, so
    * without the hint every round's frontier equi-join falls back to
    * SortMergeJoin and re-exchanges the PERSISTED edge index (r21 QProf:
    * 17-22.5 MB of shuffle write per round on frames of a few hundred
    * KB — the exact "shuffle you did not expect", guide §2.4). The
    * frames are all ≤ a few multiples of |V| ≤ |E_sym| rows of longs,
    * so the same 8M-edge gate that sizes ego's courier broadcasts
    * bounds these relations; past the gate the hint comes off and the
    * rounds fall back to the hash-partitioned Pregel shape. */
  private[query] def hintVertexScale(spark: SparkSession, dir: String,
      df: DataFrame, maxEdges: Long = 8L * 1000 * 1000): DataFrame =
    if (symEdgeCount(spark, dir) <= maxEdges) broadcast(df) else df

  /** Most-frequent event_type per user (per-key mode) with a
    * deterministic count-desc, name-asc tiebreak — the categorical
    * summary statistic. Two aggregations: per-(user, type) counts (one
    * shuffle, map-side combined), then a per-user 5-row argmax via
    * max(struct) — never a window over raw events. Rank is on exact
    * integers. */
  def aggModePerKey(spark: SparkSession, dir: String,
      maxUser: Long = 200L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"),
        // min over (-n, name): smallest -n = largest count, then name
        // asc — the deterministic mode in one struct aggregate
        min(struct((-col("n")).as("negn"), col("event_type"))).as("m"))
      .select(col("user_id"), col("n_types"),
        col("m.event_type").as("mode_type"), (-col("m.negn")).as("mode_n"))
      .orderBy(col("user_id"))

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

  /** Per-key z-score outlier detection: events whose value is more than
    * `threshold` sample standard deviations from their event_type's mean
    * — the cheap univariate anomaly pass of a data-quality pipeline.
    *
    * Scale shape: the per-type statistics are a 5-row aggregate
    * (map-side combined) broadcast back to the fact scan — the scan is
    * never shuffled. The z-score is computed in double and cast to
    * float32 BEFORE the threshold compare, so both engines filter on the
    * identical REAL value (a raw-double compare at the boundary would be
    * last-ulp engine-dependent). */
  def anomalyZscore(spark: SparkSession, dir: String,
      threshold: Double = 3.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mean"),
        stddev_samp(col("value")).as("sd"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", ((col("value") - col("mean")) / col("sd"))
        .cast("float"))
      .filter(abs(col("z")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the `value`
    * distributions of two event cohorts (even vs odd event_id — the
    * deterministic stand-in for "yesterday's corpus vs today's"): D =
    * max over observed values of |F_A(v) − F_B(v)|. THE standard
    * data-drift monitor a production training pipeline runs per feature
    * per ingest batch. Computed in the EXACT integer form
    * max |cumA·nB − cumB·nA| (one BIGINT per distinct value, ≤2^53 at
    * any realistic scale), divided once at the end — both engines
    * produce the identical double.
    *
    * Scale shape: per-distinct-value cohort counts first (one
    * well-distributed shuffle), then the empirical-CDF prefix sums are a
    * [[TwoLevel]] prefix over ≤`buckets` value-range buckets. The final
    * reduce is a 1-row max. Bucket boundaries derive from driver-fetched
    * min/max (query constants, the [[Similarity]] queryVector
    * convention); the bucketing changes the execution shape only — the
    * result equals the global-window definition, which IS the DuckDB
    * oracle. */
  def driftKsValue(spark: SparkSession, dir: String,
      buckets: Int = 1024): DataFrame = {
    val sides = graft.schema.Schemas.events(spark, dir)
      .select(col("value"), (col("event_id") % 2 === 0).as("is_a"))
    val head = sides.agg(
      min(col("value")).as("vmin"), max(col("value")).as("vmax"),
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("nb")).head()
    // empty input (min/max NULL) or a one-sided split: the statistic is
    // undefined — return the well-formed empty result instead of
    // NPE-ing on the driver fetch / emitting a NaN row (EdgeCaseSpec
    // discipline: boundary states must degrade, not crash)
    if (head.isNullAt(0) || head.getLong(2) == 0L || head.getLong(3) == 0L)
      return sides.sparkSession.createDataFrame(
        sides.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "n_a LONG, n_b LONG, ks_num LONG, ks_d DOUBLE"))
    val (vmin, vmax, na, nb) =
      (head.getDouble(0), head.getDouble(1), head.getLong(2), head.getLong(3))
    val w = (vmax - vmin) / buckets
    val bucket =
      if (w > 0)
        least(floor((col("value") - lit(vmin)) / lit(w)),
          lit(buckets - 1L)).cast("long")
      else lit(0L)
    val perValue = sides.groupBy(col("value"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    TwoLevel.prefix(perValue, bucket, Seq(col("value")),
        sums = Seq("ca" -> "cum_a", "cb" -> "cum_b"))
      .select(abs(col("cum_a") * lit(nb) - col("cum_b") * lit(na))
        .as("dnum"))
      .agg(max(col("dnum")).as("ks_num"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), col("ks_num"),
        (col("ks_num").cast("double") / lit((na * nb).toDouble))
          .as("ks_d"))
  }

  /** Per-bin Population Stability Index terms between the same two event
    * cohorts as [[driftKsValue]] — the OTHER standard drift monitor
    * (binned, direction-sensitive, the model-monitoring convention:
    * PSI > 0.2 ⇒ investigate). Emitted PER BIN (term = (pA−pB)·ln(pA/pB),
    * with the conventional 1e-4 floor for empty bins) rather than as a
    * pre-summed scalar: a 10-term engine-side sum has engine-dependent
    * addition order in the last ulp, while per-bin terms are fixed-order
    * arithmetic on exact integer counts — bit-identical in any engine —
    * and the per-bin view is what a monitoring dashboard wants anyway
    * (WHICH bins drifted, not just that some did).
    *
    * Scale shape: one map-side-combined groupBy on (bin) — a ≤`bins`-row
    * aggregate regardless of corpus size; bin edges from driver-fetched
    * min/max (query constants). */
  def driftPsiValue(spark: SparkSession, dir: String,
      bins: Int = 10): DataFrame = {
    val sides = graft.schema.Schemas.events(spark, dir)
      .select(col("value"), (col("event_id") % 2 === 0).as("is_a"))
    val head = sides.agg(
      min(col("value")).as("vmin"), max(col("value")).as("vmax"),
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("is_a"), 0L).otherwise(1L)).as("nb")).head()
    // empty / one-sided input: proportions are undefined — degrade to
    // the well-formed empty result (same contract as [[driftKsValue]])
    if (head.isNullAt(0) || head.getLong(2) == 0L || head.getLong(3) == 0L)
      return sides.sparkSession.createDataFrame(
        sides.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "bin LONG, ca LONG, cb LONG, psi_term FLOAT"))
    val (vmin, vmax, na, nb) =
      (head.getDouble(0), head.getDouble(1), head.getLong(2), head.getLong(3))
    val w = (vmax - vmin) / bins
    val bin =
      if (w > 0)
        least(floor((col("value") - lit(vmin)) / lit(w)),
          lit(bins - 1L)).cast("long")
      else lit(0L)
    psiTermsFromPanel(
      sides.groupBy(bin.as("bin"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("cb")),
      lit(na.toDouble), lit(nb.toDouble))
  }

  /** PSI-term epilogue over a (bin, ca, cb) panel with cohort totals —
    * shared verbatim by the batch query and the transformWithState
    * streaming twin ([[graft.streaming.StreamQueries.streamDriftPsi]]):
    * fixed-order arithmetic on exact integer counts, so drain==batch
    * holds bit-identically whatever na/nb's provenance (driver literals
    * batch-side, panel sums stream-side — same doubles either way). */
  private[graft] def psiTermsFromPanel(panel: DataFrame,
      na: Column, nb: Column): DataFrame = {
    val floorP = 1e-4
    val pa = greatest(col("ca").cast("double") / na, lit(floorP))
    val pb = greatest(col("cb").cast("double") / nb, lit(floorP))
    panel.select(col("bin"), col("ca"), col("cb"),
      ((pa - pb) * log(pa / pb)).cast("float").as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Deterministic weighted Bernoulli sampling: keep a row with
    * probability value/max(value), decided by the row's md5-derived
    * 60-bit hash — reproducible across engines, runs, and partitionings
    * (never rand()), the importance-sampling primitive of corpus
    * curation. Map-only apart from the 1-row max broadcast. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("value"))
    val mx = ev.agg(max(col("value")).as("vmax"))
    val u = Dedup.hash60(concat(col("event_id").cast("string"), lit(":w")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    ev.crossJoin(broadcast(mx))
      .filter(u < col("value") / col("vmax"))
      .select(col("event_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Exact rolling median of `value` over the trailing 7 events per user
    * — the robust-statistics window (median resists the outliers that
    * wreck a rolling mean). Uses the exact `percentile` aggregate as a
    * window function over a bounded ROWS frame: per-frame work is O(7),
    * so the window cost is linear and the only shuffle is the user_id
    * hash partition. The frame holds RAW doubles (not aggregates), and
    * linear interpolation at 0.5 is the same two-operand IEEE arithmetic
    * in both engines, so the result is bit-exact even before the REAL
    * cast. Output bounded to user_id < 40; the windows are per-user, so
    * the bound does not change any retained row's frame. */
  def rollingMedian(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id", "value",
        """CAST(percentile(value, 0.5) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS FLOAT)
          |  AS rolling_median""".stripMargin)
      .orderBy(col("event_id"))

  /** Exponentially weighted moving average over the trailing 8 events
    * per user, decay a = 0.5: ewma = Σ v_i·a^(n−i) / Σ a^(n−i) over the
    * frame. a = ½ makes every weight an exact power of two, and Spark
    * evaluates the weighted sum as a SEQUENTIAL fold over the frame
    * array (`aggregate` over an index sequence) in frame order. The
    * DuckDB oracle's numerator is a plain SQL sum over an unnest
    * subquery whose evaluation order DuckDB does NOT guarantee, so
    * cross-engine equality rests on the shared REAL cast absorbing
    * any last-ulp summation-order difference over the ≤ 8 addends —
    * NOT on order parity (8 same-scale doubles never drift anywhere
    * near a float32 ulp). The frame array is ≤ 8 elements (bounded
    * memory per row); one user_id shuffle total. Output bounded to
    * user_id < 40 (frames are per-user — unaffected). */
  def windowEwma(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id", "value",
        """collect_list(value) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame""".stripMargin)
      .selectExpr("event_id", "user_id", "value",
        """CAST(
          |  aggregate(sequence(1, size(frame)), CAST(0.0 AS DOUBLE),
          |    (acc, i) -> acc + element_at(frame, i)
          |      * power(0.5, size(frame) - i))
          |  / (2.0 - power(0.5, size(frame) - 1))
          |AS FLOAT) AS ewma""".stripMargin)
      .orderBy(col("event_id"))

  /** Mergeable-sketch aggregation: per-nation HLL sketches of customer
    * keys, MERGED up to per-region cardinality estimates — the two-level
    * partial-aggregate pattern that makes count-distinct re-aggregatable
    * at 100 TB (sketches combine associatively across partitions, days,
    * or pre-computed rollups; exact distinct does not). The oracle pins
    * the EXACT companions plus a boolean asserting the estimate lands
    * within 8% (lgConfigK=12 ⇒ ~1.6% rsd, so 8% ≈ 5 sigma), so the
    * check is hash-exact while the sketch itself stays approximate.
    * KNOWN FLAKE MODE (by construction): the oracle hardcodes TRUE for
    * the bound column, so a >5-sigma estimator excursion would surface
    * as an engine mismatch rather than a sketch-accuracy failure — at
    * ~5 sigma the probability is negligible, which is the point of the
    * wide bound. */
  def aggSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val region = table(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val perNation = cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey"), col("n_nationkey"))
      .agg(expr("hll_sketch_agg(c_custkey, 12)").as("sketch"),
        countDistinct(col("c_custkey")).as("n_exact_nation"))
    perNation
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_exact_nation")).as("n_customers"),
        expr("hll_sketch_estimate(hll_union_agg(sketch))").as("est"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_nations"), col("n_customers"),
        (abs(col("est") - col("n_customers"))
          <= col("n_customers") * lit(0.08)).as("est_within_8pct"))
      .orderBy(col("r_name"))
  }
}
