package graft.query

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The graph family (`graph_` and `path_` queries): triangles, PageRank,
  * label propagation, reachability, components, k-core, HITS, walks,
  * centralities and link prediction over the part co-purchase graph.
  * The shared edge and adjacency indexes they read live in
  * [[GraphIndex]]. */
object Graph {

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
    val edges = GraphIndex.copurchaseEdges(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val oriented = GraphIndex.copurchaseOriented(spark, dir)
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
    val edges = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
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
    val wedges = GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "wdeg")) {
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
    * Scale shape: reuses the persisted [[GraphIndex.copurchaseEdgesSym]] index;
    * each round is one edges⨝labels join (labels are (vertex, long) —
    * the payload never travels) plus two map-side-combined
    * aggregations: neighbor-label counts on (vertex, label), then the
    * per-vertex argmax via `min(struct(-count, label))` — never a
    * window over the adjacency. Fixed rounds keep the plan finite
    * (same latency/quality tradeoff as [[graphPagerank]]). */
  def graphCommunitiesLpa(spark: SparkSession, dir: String,
      rounds: Int = 2, maxVertex: Long = 100L): DataFrame =
    GraphIndex.lpaLabels(spark, dir, rounds)
      .filter(col("u") <= maxVertex)
      .select(col("u").as("part"), col("lbl").as("community"))
      .orderBy(col("part"))

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
    val edges = GraphIndex.copurchaseEdgesSym(spark, dir)
    // the persisted degree table IS the distinct vertex set — seeding
    // from it probes |V| cached rows instead of re-distincting the |E|
    // edge list (one full shuffle saved before the first round)
    val seeds = GraphIndex.copurchaseDeg(spark, dir).select(col("u"))
      .filter(col("u") <= maxSeed)
    var reached = seeds.select(col("u"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = reached.select(col("u"))
    // [[GraphIndex.hintVertexScale]]: frontier and reached are checkpointed
    // LogicalRDDs with no stats — unhinted, each round SMJ-re-exchanged
    // the whole persisted edge index (22.5 MB/round at sf0.1 vs the
    // frontier's few hundred KB)
    def hinted(df: DataFrame): DataFrame = GraphIndex.hintVertexScale(spark, dir, df)
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
  private def bfsDistances(spark: SparkSession, dir: String,
      maxHops: Int, maxSeed: Long): DataFrame =
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, s"bfs${maxSeed}x$maxHops")) {
      val edges = GraphIndex.copurchaseEdgesSym(spark, dir)
      val seeds = GraphIndex.copurchaseDeg(spark, dir).select(col("u"))
        .filter(col("u") <= maxSeed)
      var reached = seeds
        .select(col("u").as("src"), col("u").as("v"), lit(0).as("dist"))
        .localCheckpoint(true)
      var frontier = reached.select(col("src"), col("v"))
      // (src, v) pair frames are ≤ |seeds|·|V| rows of two longs —
      // still inside the [[GraphIndex.hintVertexScale]] gate's envelope
      def hinted(df: DataFrame): DataFrame = GraphIndex.hintVertexScale(spark, dir, df)
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

  /** Connected components over the sparse "pair order" co-purchase graph
    * (orders containing exactly two distinct parts contribute one edge) —
    * the iterate-to-FIXPOINT graph surface that [[graphReachability]]'s
    * bounded-hop recursion deliberately does not cover. Labels start as
    * vertex ids; each round takes the min over (self, neighbors, label's
    * label) and the loop exits when a round changes nothing — the DuckDB
    * oracle is the equivalent unbounded recursive CTE.
    *
    * Scale shape: the edge list is built in ONE aggregation (per-order
    * collect_set; the two-part set IS the edge), then labeled by a
    * size-gated two-path plan, the [[GraphIndex.componentsOf]] kernel
    * that dedup groups share: at or under `driverUnionFindMax` edges
    * (≤ 64 MB of ids) a driver union-find labels the graph in one
    * collect, because below that size the iterative join's ~3 shuffle
    * stages PER ROUND cost more than the whole edge list; above it,
    * min-label propagation with pointer jumping (O(log diameter) rounds).
    * Round12Spec pins both paths to identical output. */
  def graphConnectedComponents(spark: SparkSession, dir: String,
      maxRounds: Int = 50,
      driverUnionFindMax: Long = 4000000L): DataFrame = {
    val e0 = pairOrderEdges(spark, dir, lit(true))
    val lbl = GraphIndex.componentsOf(spark, e0, maxRounds, driverUnionFindMax)
    lbl.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_members"), max(col("u")).as("max_member"))
      .select(col("component"), col("n_members"), col("max_member"))
      .orderBy(col("component"))
  }

  /** The co-purchase edge list restricted to orders matching `pred`.
    * ONE aggregation builds it: collect each order's distinct part set
    * (collect_set dedups in the partial aggregate, so no separate
    * distinct scan), keep exactly-two-part orders, and the (min, max)
    * of the set IS the undirected edge — versus the naive
    * self-join-on-orderkey build, which costs three 600 k-row shuffles
    * for the same ~40 k edges. */
  private def pairOrderEdges(spark: SparkSession, dir: String,
      pred: Column): DataFrame = {
    val ps = col("ps")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(pred)
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("ps"))
      .filter(size(ps) === 2)
      .select(array_min(ps).as("u"), array_max(ps).as("v"))
      .distinct()
      .localCheckpoint(true)
  }

  /** INCREMENTAL connected components — the delta-maintenance twin of
    * [[graphConnectedComponents]], the pattern that matters at 100 TB:
    * when a tranche of new edges arrives (here the `ok % 10 == 0`
    * orders standing in for today's ingest), do work proportional to
    * the DELTA, not the corpus. Base components are labeled once
    * (min-id labels); the delta is CONTRACTED onto the label graph —
    * each delta edge maps its endpoints through the persisted labels,
    * so the merge problem shrinks to ≤ |delta| label-pairs regardless
    * of graph size — and only the touched components are relabeled
    * (min-id roots compose: min over merged base-labels = min node id
    * of the merged component, so the result equals the full-graph CC
    * restricted to touched components, which is exactly what the
    * oracle computes independently via the recursive CTE).
    *
    * Scale shape: the base labeling is the one corpus-scale pass and is
    * the PERSISTED state — fingerprint-cached per (session, dir) via
    * [[GraphIndex.cachedDf]] like every other standing index (`#wdeg`,
    * the basket index, the token index), so warm calls run delta-only
    * work; everything delta-side — endpoint lookup, contraction, the
    * union-find over distinct label pairs, the touched-root panel — is
    * bounded by the tranche size and broadcast back, so the relabel
    * join is map-only against the label store. */
  def graphCcIncremental(spark: SparkSession, dir: String,
      maxRounds: Int = 50,
      driverUnionFindMax: Long = 4000000L): DataFrame = {
    val deltaE = pairOrderEdges(spark, dir, col("ok") % 10 === 0)
    val baseLbl = GraphIndex.cachedDf(spark,
        GraphIndex.gkey(dir, s"ccbase$maxRounds-$driverUnionFindMax")) {
      GraphIndex.componentsOf(spark, pairOrderEdges(spark, dir, col("ok") % 10 =!= 0),
          maxRounds, driverUnionFindMax)
        .localCheckpoint(true)
    }
    val dVerts = deltaE.select(col("u"))
      .union(deltaE.select(col("v").as("u"))).distinct()
    // delta endpoints through the label store; unseen nodes label = id.
    // baseLbl and dl are checkpointed LogicalRDDs with no stats, so
    // unhinted these lookups planned SMJ and exchanged the |V|-row
    // label store per call (the GraphIndex.hintVertexScale lesson);
    // under the gate the lookups are broadcast-hash probes, past it the
    // hash-partitioned shape returns
    def hinted(df: org.apache.spark.sql.DataFrame) =
      GraphIndex.hintVertexScale(spark, dir, df)
    val dl = dVerts.join(hinted(baseLbl), Seq("u"), "left")
      .select(col("u"), coalesce(col("lbl"), col("u")).as("lbl"))
      .localCheckpoint(true)
    val contracted = deltaE
      .join(hinted(dl.select(col("u"), col("lbl").as("la"))), Seq("u"))
      .join(hinted(dl.select(col("u").as("v"), col("lbl").as("lb"))),
        Seq("v"))
      .select(least(col("la"), col("lb")).as("u"),
        greatest(col("la"), col("lb")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // label-graph union-find: bounded by the delta tranche by
    // construction (contraction first), never by the corpus
    val roots = GraphIndex.unionFindComponents(spark, contracted)
      .select(col("u").as("lbl"), col("lbl").as("root"))
    val allLbl = baseLbl.unionByName(
      dl.join(hinted(baseLbl.select(col("u"))), Seq("u"), "left_anti")
        .select(col("u"), col("u").as("lbl")))
    val finalLbl = allLbl
      .join(broadcast(roots), Seq("lbl"), "left")
      .select(col("u"), coalesce(col("root"), col("lbl")).as("flbl"))
    val touched = dl.join(broadcast(roots), Seq("lbl"), "left")
      .select(coalesce(col("root"), col("lbl")).as("flbl")).distinct()
    finalLbl.join(broadcast(touched), Seq("flbl"))
      .groupBy(col("flbl").as("component"))
      .agg(count(lit(1)).as("n_members"), max(col("u")).as("max_member"))
      .orderBy(col("component"))
  }

  /** Common-neighbor / Jaccard link prediction over the co-purchase
    * graph: the top-k non-adjacent vertex pairs most likely to be
    * connected next, scored by shared-neighbor count. Candidate pairs
    * are generated for the `pk % 16 == 0` vertex cohort — the
    * scale-invariant sampling that bounds wedge fanout to 1/256 of the
    * full enumeration (298 M wedges at sf0.1; the full quadratic-in-
    * degree enumeration is exactly what a 100 TB deployment must not
    * run). Degrees in the Jaccard denominator are the FULL graph's.
    *
    * Scale shape: reuses the persisted [[GraphIndex.copurchaseEdgesSym]]
    * index; the wedge join shuffles on the (uniform) center vertex;
    * candidate dedup + count is one map-side-combined aggregate; the
    * adjacency check is a left-anti equi-join; TakeOrdered top-k. */
  def graphCommonNeighbors(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    // base indexes resolve OUTSIDE the cache thunk (recursive-update
    // rule); the top-k candidate-link table is itself a derived index —
    // the recommendation candidates a serving layer reads repeatedly
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val e0 = GraphIndex.copurchaseEdges(spark, dir)
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, s"linkcand$k")) {
      graphCommonNeighborsBuild(sym, deg, e0, k)
    }
  }

  private def graphCommonNeighborsBuild(sym: DataFrame, deg: DataFrame,
      e0: DataFrame, k: Int): DataFrame = {
    val cohort = sym.filter(col("v") % 16 === 0)
    val cn = cohort.as("a").join(cohort.as("b"), col("a.u") === col("b.u"))
      .filter(col("a.v") < col("b.v"))
      .groupBy(col("a.v").as("u"), col("b.v").as("v"))
      .agg(count(lit(1)).as("cn"))
    cn.join(e0, Seq("u", "v"), "left_anti")
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double")
          / (col("du") + col("dv") - col("cn")).cast("double"))
          .cast("float").as("jaccard"))
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Adamic–Adar link prediction: the common-neighbor score refined by
    * down-weighting promiscuous centers — each shared neighbor z
    * contributes 1/ln(deg(z)), so a wedge through a rare co-purchase
    * is worth more than one through a ubiquitous hub (the classic
    * empirical upgrade over raw counts / Jaccard). Same
    * wedge-enumeration discipline as [[graphCommonNeighbors]] (the
    * `% 16` cohort bound, full-graph degrees, non-adjacent pairs only);
    * the TOP-K RANKING stays on the integer common-neighbor count with
    * id tie-breaks — ranking on the summed double would make the
    * result set hinge on aggregation order in the last ulp — and the
    * Adamic–Adar score rides along REAL-cast.
    *
    * Scale shape: rides the persisted symmetric-edge + degree indexes;
    * one wedge join shuffled on the center vertex; one
    * map-side-combined (count, Σ 1/ln) aggregate; anti-join adjacency
    * filter; TakeOrdered. A wedge center has ≥ 2 distinct neighbors by
    * construction, so ln(deg) > 0 always. */
  def graphAdamicAdar(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val e0 = GraphIndex.copurchaseEdges(spark, dir)
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, s"adamicadar$k")) {
      val cohort = sym.filter(col("v") % 16 === 0)
      val wedges = cohort.as("a")
        .join(cohort.as("b"), col("a.u") === col("b.u"))
        .filter(col("a.v") < col("b.v"))
        .select(col("a.u").as("z"), col("a.v").as("u"), col("b.v").as("v"))
        .join(deg.select(col("u").as("z"), col("deg").as("dz")), Seq("z"))
      wedges.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("cn"),
          sum(lit(1.0) / log(col("dz").cast("double"))).as("aa0"))
        .join(e0, Seq("u", "v"), "left_anti")
        .select(col("u"), col("v"), col("cn"),
          col("aa0").cast("float").as("adamic_adar"))
        .orderBy(col("cn").desc, col("u"), col("v"))
        .limit(k)
    }
  }

  /** Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over all directed edges — positive
    * means hubs link to hubs (assortative mixing), the one-number
    * structural summary beside the triangle clustering coefficient.
    *
    * Scale shape: two broadcast-or-shuffle equi-joins of the edge list
    * against the (|V|-sized) degree table, then ONE map-side-combined
    * moment aggregate; closed-form correlation from the five sums —
    * never a centered two-pass. Float cast absorbs partial-sum
    * reassociation across partitions. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val j = sym
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("du").cast("double").as("x"),
        col("dv").cast("double").as("y"))
    j.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_dir_edges"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .cast("float").as("assortativity"))
  }

  // ---- attribution -------------------------------------------------------

  /** Local clustering coefficient for the `pk % 128 == 0` vertex cohort:
    * closed wedges at the vertex / all wedges at the vertex — the
    * per-vertex companion of [[graphTriangles]]'s global
    * closure rate. Cohort sampling bounds the deg² wedge fanout the
    * same way [[graphCommonNeighbors]] does; closure is one equi-join
    * against the undirected edge list (u < v pairs align by
    * construction).
    *
    * Scale shape: wedge enumeration shuffles on the center vertex
    * (uniform); the closure check is an ids-only left-semi equi-join;
    * the per-center rollup is map-side combined. */
  def graphLocalClustering(spark: SparkSession, dir: String,
      mod: Int = 128): DataFrame = {
    // the per-vertex coefficient table is a derived vertex-feature
    // index; base indexes resolve outside the cache thunk
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val e0 = GraphIndex.copurchaseEdges(spark, dir)
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, s"localcc$mod")) {
      graphLocalClusteringBuild(sym, deg, e0, mod)
    }
  }

  private def graphLocalClusteringBuild(sym: DataFrame, deg: DataFrame,
      e0: DataFrame, mod: Int): DataFrame = {
    val nbrs = sym.filter(col("u") % mod === 0)
    val wedges = nbrs.as("a").join(nbrs.as("b"), col("a.u") === col("b.u"))
      .filter(col("a.v") < col("b.v"))
      .select(col("a.u").as("x"), col("a.v").as("u"), col("b.v").as("v"))
    val closed = wedges.join(e0, Seq("u", "v"), "left_semi")
      .groupBy(col("x")).agg(count(lit(1)).as("n_closed"))
    val all = wedges.groupBy(col("x")).agg(count(lit(1)).as("n_wedges"))
    all.join(closed, Seq("x"), "left_outer")
      .join(deg.select(col("u").as("x"), col("deg")), Seq("x"))
      .select(col("x").as("vertex"), col("deg"),
        col("n_wedges"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"),
        (coalesce(col("n_closed"), lit(0L)).cast("double")
          / col("n_wedges").cast("double")).as("clustering_coeff"))
      .orderBy(col("vertex"))
  }

  // ---- autocorrelation ---------------------------------------------------

  /** Weighted bipartite projection: the strongest co-purchase part pairs
    * by SHARED ORDER COUNT — the weighted edges the unweighted
    * [[GraphIndex.copurchaseEdges]] index collapses. Top-k by weight
    * with id tie-breaks; at scale the same plan emits the full weighted
    * edge list for a downstream similarity join.
    *
    * Scale shape: the pair fanout is the per-order basket square
    * (bounded by basket size, not degree); one map-side-combined count
    * on the uniform pair key; TakeOrdered top-k. */
  def graphCopurchaseWeights(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame =
    GraphIndex.copurchaseWeighted(spark, dir)
      .orderBy(col("weight").desc, col("u"), col("v"))
      .limit(k)

  // ---- clustering quality ------------------------------------------------

  /** Bounded k-core peel of the co-purchase graph at k = the INITIAL
    * 10th-percentile degree: three synchronous peel rounds (drop
    * vertices whose induced degree falls below k, recompute degrees
    * over the induced subgraph), emitting the survivors with their
    * round-3 induced degree. The quantile-derived k makes the peel
    * bite — but not collapse — at every corpus scale: co-purchase
    * density grows with SF, so any absolute k either never peels or
    * empties the graph, and this near-uniform degree distribution
    * cascades to EMPTY for any k above ~the 15th percentile (measured:
    * median-k → 0 survivors; p10-k → 22% peeled, stable core). Fixed
    * round count keeps the operator a finite declarative plan the
    * oracle replays with unrolled CTEs; production convergence loops
    * the same round under the [[bfsDistances]] localCheckpoint cadence.
    *
    * Scale shape: reuses the persisted [[GraphIndex.copurchaseEdgesSym]]
    * index; k is one broadcast 1-row exact-median aggregate over the
    * |V|-sized degree table; each round is one map-side-combined degree
    * aggregate + two semi-joins of the edge list against the (|V|-sized,
    * auto-broadcast under AQE) survivor set — never an edge self-join. */
  def graphKcore(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    val sym0 = GraphIndex.copurchaseEdgesSym(spark, dir)
    val deg0 = GraphIndex.copurchaseDeg(spark, dir)
    // the decomposition is a derived graph INDEX (core membership +
    // induced degree) — persisted per corpus generation like the sym /
    // degree / wedges indexes it reads, and evicted with them
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, s"kcore$rounds")) {
      graphKcoreBuild(sym0, deg0, rounds)
    }
  }

  private def graphKcoreBuild(sym0: DataFrame, deg0: DataFrame,
      rounds: Int): DataFrame = {
    // empty graph: percentile aggregates to null — return the empty
    // decomposition rather than unboxing it
    val kRow = deg0.agg(percentile(col("deg").cast("double"), lit(0.1)))
      .collect()(0)
    if (kRow.isNullAt(0))
      return sym0.select(col("u").as("vertex"), lit(0L).as("core_degree"))
        .limit(0)
    // exact interpolated percentile of integer degrees: both engines
    // lerp a + f·(b−a) over the sorted multiset, bit-exact either
    // side. Resolved to a DRIVER SCALAR once over the CACHED degree
    // index (the BM25 scalar-constant discipline): left as a subplan,
    // every peel round re-aggregates the base index under it.
    val k = kRow.getDouble(0)
    // The iterated state is the |V|-sized ALIVE SET, not the edge list:
    // an unmaterialized round-N plan re-evaluates round N-1 three times
    // (exponential re-execution: 15.8 s measured), and materializing
    // the |E|-row induced edge list instead still writes ~3M rows per
    // round (5.9 s). Checkpointing only the vertex set and re-filtering
    // the CACHED sym index each round runs one in-memory scan + one
    // map-side-combined aggregate per round (~1 s). Survivor sets are
    // |V|-sized, so they broadcast long after |E| stops fitting
    // anywhere — the hint is explicit because checkpointed plans carry
    // no size statistics.
    def induced(alive: DataFrame): DataFrame =
      sym0.join(broadcast(alive), col("u") === col("av"), "left_semi")
        .join(broadcast(alive.select(col("av").as("bv"))),
          col("v") === col("bv"), "left_semi")
    // round 1's degrees ARE the cached degree index — no sym scan
    var alive = deg0.filter(col("deg") >= k).select(col("u").as("av"))
      .localCheckpoint(true)
    for (_ <- 2 to rounds) {
      alive = induced(alive)
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u").as("av"))
        .localCheckpoint(true)
    }
    induced(alive).groupBy(col("u").as("vertex"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("vertex"))
  }

  // ---- similarity join ---------------------------------------------------

  /** Distinct ≤2-hop reach per cohort vertex of the co-purchase graph
    * (friend-of-friend audience size): neighbors ∪
    * neighbors-of-neighbors, self excluded. Cohort-sampled by the
    * [[graphCommonNeighbors]] `pk % 16` rule — the full
    * per-vertex enumeration is quadratic in degree and is exactly what
    * a 100 TB deployment runs on a cohort, not the corpus.
    *
    * Scale shape: one wedge equi-join from the cohort's edges through
    * the shared sym index, one distinct aggregate on the (uniform)
    * cohort vertex. */
  def graphTwoHopReach(spark: SparkSession, dir: String): DataFrame = {
    // base index OUTSIDE the cache thunk (recursive-update rule)
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    // reach counts are a derived graph index (the audience-size table
    // serving repeated lookups) — persisted per corpus generation
    GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "reach2")) {
      val cohort = sym.filter(col("u") % 16 === 0)
      val oneHop = cohort.select(col("u").as("src"), col("v").as("reach"))
      val twoHop = cohort.as("a")
        .join(sym.as("b"), col("a.v") === col("b.u"))
        .filter(col("b.v") =!= col("a.u"))
        .select(col("a.u").as("src"), col("b.v").as("reach"))
      oneHop.unionAll(twoHop)
        .groupBy(col("src"))
        .agg(countDistinct(col("reach")).as("reach_2hop"))
        .orderBy(col("src"))
    }
  }

  /** Degree distribution of the co-purchase graph in log2 bands — the
    * one-glance skew diagnostic read before choosing graph-algorithm
    * parameters (hub-dominated bands mean cohort sampling and
    * occupancy caps are load-bearing; a tight band means they are
    * slack). The [[skew_profile]] discipline applied to the graph.
    *
    * Scale shape: one aggregate over the cached |V|-row degree index;
    * band assignment is integer bit-length arithmetic. */
  def graphDegreeBands(spark: SparkSession, dir: String): DataFrame = {
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val tot = deg.agg(count(lit(1)).as("n_vertices"))
    // floor(log2(n)) as binary-string length − 1: libm log2 rounds
    // below the integer at exact powers of two on some engines
    deg.select((length(conv(col("deg"), 10, 2)) - 1).as("band"),
        col("deg"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_vertices_band"),
        min(col("deg")).as("deg_min"), max(col("deg")).as("deg_max"))
      .crossJoin(broadcast(tot))
      .select(col("band"), col("n_vertices_band"), col("deg_min"),
        col("deg_max"),
        (col("n_vertices_band").cast("double") /
          col("n_vertices").cast("double")).as("share"))
      .orderBy(col("band"))
  }

  /** HITS hubs-and-authorities over the bipartite order↔part graph:
    * `iters` rounds of mutual reinforcement (authority = Σ hub over
    * containing orders; hub = Σ authority over contained parts), top-k
    * parts by final authority. Complements pagerank (a random-walk
    * centrality on the projected co-purchase graph) with the
    * two-sided bipartite notion — big-basket orders endorse parts,
    * heavily-co-ordered parts make orders hubs.
    *
    * Integer-exact: scores start at hub=1 and stay UNNORMALIZED BIGINTs
    * (classic HITS normalizes per round only for convergence aesthetics;
    * the ranking is identical), so three rounds of join+sum replay
    * bit-for-bit in the oracle. Growth is bounded by
    * (d_order·d_part)^iters — at web-scale degrees move the
    * normalization into the loop (divide by max, one extra tiny
    * aggregate per round).
    *
    * Scale shape: the bipartite edge index persists once per (session,
    * corpus); each round is two shuffle joins + map-side-combined sums —
    * the same per-round cost as one pagerank round. Top-k is
    * TakeOrdered, never a global sort. */
  def graphHits(spark: SparkSession, dir: String, iters: Int = 3,
      k: Int = 50): DataFrame = {
    // The naive alternation (auth = Σ hub over orders; hub = Σ auth over
    // parts) pays TWO 600k-row bipartite joins per round. Substituting
    // hub out gives a_{k+1}(p) = Σ_{p'} C(p,p')·a_k(p'), where C(p,p') =
    // #orders containing both parts — i.e. the WEIGHTED co-purchase
    // projection (the persisted base graph index) plus its diagonal
    // C(p,p) = d(p). So after a_1 = d, each round is ONE indexed join
    // over the projection with the |parts|-row authority vector
    // broadcast, plus a tiny vector-by-vector diagonal term — half the
    // joins, against an index the rest of the graph family keeps warm.
    // Exact BIGINT equivalence with the bipartite alternation
    // (Round15Spec pins it against a driver-side replay).
    val pdeg = GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "pdeg")) {
      table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .groupBy(col("pk")).agg(count(lit(1)).as("d"))
    }
    val w = GraphIndex.copurchaseWeighted(spark, dir)
    val wsym = w.select(col("u"), col("v"), col("weight"))
      .unionAll(w.select(col("v").as("u"), col("u").as("v"), col("weight")))
    // a_1 = d; per-round localCheckpoint keeps the |parts|-row vector
    // shallow (checkpointed plans carry no stats → the broadcast hints
    // are mandatory, the k-core lesson)
    var a = pdeg.select(col("pk"), col("d").as("a")).localCheckpoint()
    for (_ <- 2 to iters) {
      val av = a.select(col("pk").as("v"), col("a").as("av"))
      val nbr = wsym.join(broadcast(av), Seq("v"))
        .groupBy(col("u"))
        .agg(sum(col("weight") * col("av")).as("ns"))
        .withColumnRenamed("u", "pk")
      a = a.join(broadcast(pdeg), Seq("pk"))
        .join(broadcast(nbr), Seq("pk"), "left")
        .select(col("pk"),
          (col("d") * col("a") + coalesce(col("ns"), lit(0L))).as("a"))
        .localCheckpoint()
    }
    val amax = a.agg(max(col("a")).as("amax"))
    a.crossJoin(broadcast(amax))
      .select(col("pk").as("part_id"), col("a").as("auth"),
        (col("a").cast("double") / col("amax").cast("double"))
          .cast("float").as("score"))
      .orderBy(col("auth").desc, col("part_id")).limit(k)
  }

  /** Newman modularity of the LPA communities over the co-purchase
    * graph: per community c, Q_c = e_c/m − (d_c/2m)², from the
    * symmetric-edge counts (2·intra-edges, degree mass, 2m) — the
    * quality score that tells you whether [[graphCommunitiesLpa]]'s
    * labels mean anything (ΣQ_c near 0 = no better than random wiring).
    * All inputs are exact BIGINT counts; Q is one identically-associated
    * double expression, REAL on emit.
    *
    * Scale shape: labels are a |V|-row broadcast into two scans of the
    * persisted symmetric edge index (degree mass; same-label
    * endpoints); everything after is a per-community scalar. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = GraphIndex.copurchaseEdgesSym(spark, dir)
    // the persisted |V|-row label index — labeled once per corpus,
    // scored here without re-running the propagation
    val labels = GraphIndex.lpaLabels(spark, dir)
    val lv = labels.select(col("u").as("v"), col("lbl").as("lbl_v"))
    val twoM = edges.agg(count(lit(1)).as("two_m"))
    // ONE pass over the edge index carries both masses: degree mass =
    // endpoint count per label, intra mass = same-label endpoint count
    val dMass = edges.join(broadcast(labels), Seq("u"))
      .join(broadcast(lv), Seq("v"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("lbl") === col("lbl_v"), 1L).otherwise(0L)).as("e2_c"))
    dMass
      .crossJoin(broadcast(twoM))
      .select(col("lbl").as("community"), col("e2_c"), col("d_c"),
        col("two_m"),
        (col("e2_c").cast("double") / col("two_m").cast("double")
          - (col("d_c").cast("double") / col("two_m").cast("double"))
            * (col("d_c").cast("double") / col("two_m").cast("double")))
          .cast("float").as("q_c"))
      .orderBy(col("community"))
  }

  /** Degree cap for the walk adjacency index: a hub vertex keeps only
    * this many neighbors, so no adjacency row is ever wider than d. */
  private val walkDegreeCap = 64

  /** Deterministic degree-capped adjacency over symmetric `(u, v)`
    * edges: each vertex keeps its top-`d` neighbors ranked by
    * hash60(u:cap:v) (ties broken by v), emitted as a SORTED array.
    *
    * Why hash-ranked, not degree- or value-ranked: the kept subset
    * must be a property of the (u, v) pair alone — then any engine
    * (any partitioning, the DuckDB oracle) reproduces the identical
    * capped list, and the hash makes the kept set an unbiased uniform
    * sample of the neighborhood (what a walk sampler wants).
    *
    * Scale shape: the rank filter is a row_number-over-(u) window with
    * a `<= d` predicate — Spark rewrites that to WindowGroupLimit, so
    * each map task keeps only its local top-d per vertex BEFORE the
    * shuffle; the post-shuffle sort never sees more than d·tasks rows
    * per hub, and the collect_list is bounded at d elements. */
  private[graft] def cappedAdjacency(edges: DataFrame, d: Int): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(
      TokenHash.hash60(concat_ws(":", col("u"), lit("cap"), col("v"))), col("v"))
    edges
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= d)
      .groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
  }

  /** Deterministic random walks over the co-purchase graph: from each
    * seed vertex (id ≤ maxSeed), a `steps`-hop walk whose next hop is
    * the neighbor at index hash60(walk-position key) mod degree in the
    * vertex's SORTED adjacency list — the DeepWalk/node2vec corpus
    * sampler, made replayable: the hash-indexed choice gives the same
    * walk on any cluster, any partitioning, and in the oracle (the
    * md5-uniform discipline every sampler here uses).
    *
    * Scale shape: the sorted adjacency index is built once per corpus
    * beside the other graph components; each step joins the
    * |walks|-row frontier against it by key — walks never carry the
    * list, only (walk_id, position). Walk count scales with seeds,
    * not edges. Per-vertex lists are DEGREE-CAPPED at [[walkDegreeCap]]
    * ([[cappedAdjacency]]): on a heavy-tailed graph an uncapped
    * collect_list materializes a hub's entire neighborhood in one row;
    * the cap bounds every adjacency row while keeping the walk
    * replayable (the kept top-d set is hash-ranked, so the oracle
    * replays the same capped list). */
  def graphRandomWalks(spark: SparkSession, dir: String,
      steps: Int = 3, maxSeed: Long = 100L): DataFrame = {
    val adj = GraphIndex.cachedDf(spark,
        GraphIndex.gkey(dir, s"adjcap$walkDegreeCap")) {
      cappedAdjacency(GraphIndex.copurchaseEdgesSym(spark, dir), walkDegreeCap)
    }
    var walk = adj.filter(col("u") <= maxSeed)
      .select(col("u").as("walk_id"), col("u").as("pos"))
      .withColumn("path", array(col("pos")))
    for (step <- 1 to steps) {
      walk = walk
        .join(adj.select(col("u").as("pos"), col("nbrs")), Seq("pos"))
        .select(col("walk_id"),
          element_at(col("nbrs"),
            (TokenHash.hash60(concat_ws(":", col("walk_id"), lit(step),
              col("pos"))) % size(col("nbrs")) + 1).cast("int")).as("pos"),
          col("path"))
        .withColumn("path", concat(col("path"), array(col("pos"))))
    }
    // string path: array columns don't sort stably through the driver's
    // pandas-side canonicalization; "a->b->c" compares everywhere
    walk.select(col("walk_id"), concat_ws("->", col("path")).as("path"),
        col("pos").as("end_vertex"))
      .orderBy(col("walk_id"))
  }

  /** node2vec second-order transition table: for every walk state
    * (prev → cur) from a bounded seed panel, the biased weight and
    * normalized probability of each candidate next hop — 1/p to return
    * (next = prev), 1 to stay local (next adjacent to prev), 1/q to
    * explore — the distribution the node2vec sampler draws from, and
    * the piece that distinguishes it from DeepWalk's uniform walks
    * ([[graphRandomWalks]]).
    *
    * Exactness: with p = 2 and q = 0.5 every weight is in
    * {0.5, 1.0, 2.0} — exactly representable — so the per-state
    * normalizer (a sum of ≤cap multiples of 0.5) is order-independent
    * and exact, and each probability is ONE exact double division.
    *
    * Scale shape: both hops ride the persisted degree-capped adjacency
    * index ([[cappedAdjacency]], shared with the walk family), so the
    * fanout is ≤ cap² per seed regardless of hub degree; the "stay
    * local" test is an array_contains against prev's own capped list
    * (carried on the row — cap-bounded, never a join); the normalizer
    * is a map-side-combined (prev, cur)-key aggregate broadcast back.
    * Seeds bound the output; edges never shuffle. */
  def graphNode2vecTransitions(spark: SparkSession, dir: String,
      maxPrev: Long = 20L): DataFrame = {
    val adj = GraphIndex.cachedDf(spark,
        GraphIndex.gkey(dir, s"adjcap$walkDegreeCap")) {
      cappedAdjacency(GraphIndex.copurchaseEdgesSym(spark, dir), walkDegreeCap)
    }
    val cand = adj.filter(col("u") <= maxPrev)
      .select(col("u").as("prev"), col("nbrs").as("prev_nbrs"),
        explode(col("nbrs")).as("cur"))
      .join(adj.select(col("u").as("cur"), col("nbrs").as("cur_nbrs")),
        Seq("cur"))
      .select(col("prev"), col("cur"), col("prev_nbrs"),
        explode(col("cur_nbrs")).as("next"))
    val weighted = cand.select(col("prev"), col("cur"), col("next"),
      when(col("next") === col("prev"), lit(0.5))
        .when(array_contains(col("prev_nbrs"), col("next")), lit(1.0))
        .otherwise(lit(2.0)).as("w"))
    val norms = weighted.groupBy(col("prev"), col("cur"))
      .agg(sum(col("w")).as("z"))
    weighted.join(norms, Seq("prev", "cur"))
      .select(col("prev"), col("cur"), col("next"), col("w"),
        (col("w") / col("z")).as("prob"))
      .orderBy(col("prev"), col("cur"), col("next"))
  }

  /** Skip-gram co-occurrence counts over the random-walk corpus
    * (window ±2) — DeepWalk's second step: the walks ARE the sentences,
    * and these (center, context) counts are what a word2vec-style
    * embedding trains on. Deterministic end to end because the walks
    * are ([[graphRandomWalks]]).
    *
    * Scale shape: per-walk explode of a fixed-length path — output
    * scales with walks × window, never with edges; the count is
    * map-side combined on (center, context). */
  def graphWalkCooccurrence(spark: SparkSession, dir: String,
      window: Int = 2): DataFrame = {
    val walks = graphRandomWalks(spark, dir)
      .select(split(col("path"), "->").as("p"))
    walks
      .select(col("p"),
        explode(sequence(lit(0), size(col("p")) - 1)).as("i"))
      .select(col("p"), col("i"),
        explode(sequence(greatest(lit(0), col("i") - window),
          least(size(col("p")) - 1, col("i") + window))).as("j"))
      .filter(col("i") =!= col("j"))
      .select(element_at(col("p"), col("i") + 1).cast("long").as("center"),
        element_at(col("p"), col("j") + 1).cast("long").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("center"), col("context"))
  }

  /** Rich-club coefficient of the co-purchase graph at degree cuts
    * {10, 20, 40, 80}: φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts
    * vertices of degree > k and E_k the edges among them — "do the
    * hubs preferentially trade with each other", the structural
    * complement of [[graphAssortativity]]'s single
    * correlation number (a rich club can hide behind a neutral
    * assortativity).
    *
    * Exactness: all counts are exact integers off the persisted degree
    * and edge indexes; φ is one division per panel row, emitted as
    * NULL when the club holds fewer than 2 vertices (a top cut that
    * empties the club has no pair denominator — the
    * [[Relational.windowRollingCorr]] zero-variance rule, never 0/0 = NaN).
    *
    * Scale shape: one broadcast degree join per side of the edge list,
    * one tiny aggregate per cut (the cut panel is a 4-row literal
    * explode); rides the persisted [[GraphIndex.copurchaseEdgesSym]] /
    * degree indexes — no new corpus-scale work. */
  def graphRichClub(spark: SparkSession, dir: String,
      cuts: Seq[Int] = Seq(10, 20, 40, 80)): DataFrame = {
    import spark.implicits._
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val e0 = GraphIndex.copurchaseEdges(spark, dir)
    val cutsDf = cuts.toDF("k")
    val nK = deg.crossJoin(cutsDf).filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val eK = e0
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .crossJoin(cutsDf)
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    nK.join(eK, Seq("k"), "left")
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        when(col("n_k") >= 2L,
          (lit(2.0) * coalesce(col("e_k"), lit(0L)).cast("double") /
            (col("n_k").cast("double") * (col("n_k") - lit(1L))
              .cast("double"))).cast("float")).as("phi"))
      .orderBy(col("k"))
  }

  /** Katz centrality (attenuation α, `iters` fixed iterations) on the
    * undirected part co-purchase graph: x⁰ = 1, xⁱ(v) = 1 + α·Σ_{u∼v}
    * xⁱ⁻¹(u) — the truncated attenuated-path-count centrality, the
    * third member of the walk-centrality family beside
    * [[graphPagerank]] (stochastic walk) and HITS (bipartite
    * alternation): Katz counts ALL walks, damped geometrically, so
    * low-degree vertices near hubs still score (where PageRank's
    * degree division buries them).
    *
    * Scale shape: the [[graphPagerank]] Pregel shape verbatim
    * — per-round join of the broadcast centrality vector against the
    * persisted destination-partitioned edge index, one
    * map-side-combined aggregate per round, no degree division (Katz
    * has none), fixed iteration count keeps the plan finite. Every
    * vertex in `deg` has at least one incident edge in the SYMMETRIC
    * index (deg is derived FROM that index), so each round's
    * inflow aggregate reaches every vertex — the 1 + α·Σ base term
    * needs no left-join backstop; that invariant, not a left join, is
    * what keeps isolated-looking vertices from dropping out. */
  def graphKatzCentrality(spark: SparkSession, dir: String,
      alpha: Double = 0.05, iters: Int = 3,
      maxVertex: Long = 100L): DataFrame = {
    val deg = GraphIndex.copurchaseDeg(spark, dir)
    val nPart = spark.sparkContext.defaultParallelism
    // SAME persisted component as graphPagerank's `#wdeg` (identical
    // build → whichever of the two walk centralities runs first pays
    // it; Katz ignores the deg column and column pruning drops it from
    // the cached scan) — one destination-partitioned edge index serves
    // the whole walk family instead of a near-duplicate per member
    val wedges = GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "wdeg")) {
      GraphIndex.copurchaseEdgesSym(spark, dir)
        .join(deg, Seq("u")).repartition(nPart, col("v"))
    }
    var x = deg.select(col("u"), lit(1.0).as("x"))
    for (_ <- 1 to iters) {
      x = wedges
        .join(broadcast(x), Seq("u"))
        .groupBy(col("v"))
        .agg(sum(col("x")).as("inflow"))
        .select(col("v").as("u"),
          (lit(1.0) + lit(alpha) * col("inflow")).as("x"))
    }
    x.filter(col("u") <= maxVertex)
      .select(col("u").as("part"), col("x").cast("float").as("katz"))
      .orderBy(col("part"))
  }

  /** Everett–Borgatti ego betweenness for a deterministic vertex cohort
    * of the co-purchase graph: within z's ego network, every
    * NON-ADJACENT neighbor pair (u, v) must route through a common
    * neighbor, so z's betweenness is Σ 1/σ(u,v) over those pairs with
    * σ(u,v) = 1 + |N(u) ∩ N(v) ∩ N(z)| (z plus the other in-ego
    * couriers). The local-centrality member of the walk family —
    * [[graphPagerank]]/[[graphKatzCentrality]] score global
    * reach; this scores BROKERAGE, and on large graphs ego betweenness
    * is the standard stand-in for exact Brandes (which needs full
    * BFS from every vertex).
    *
    * Exactness: pair sets and σ are exact integer joins; the only
    * doubles are the final Σ 1/σ (REAL cast absorbs the group-order
    * ulps — the adamic_adar 1/ln rule) with the integer pair count
    * emitted beside it as the exact ranking key.
    *
    * Scale shape: centers restricted to the `% 64` cohort (the
    * [[graphCommonNeighbors]] wedge-census discipline,
    * sparser here because the per-center cost is ego-CUBIC — deg²
    * pairs × deg couriers — on a graph whose mean degree is ~120);
    * one wedge self-join on the center builds the pair list, one
    * anti-join drops adjacent pairs, one three-way neighbor join
    * counts couriers (all shuffles on vertex keys over the persisted
    * symmetric-edge index), one map-side-combined rollup per center. */
  def graphEgoBetweenness(spark: SparkSession, dir: String,
      cohortMod: Int = 64,
      broadcastMaxEdges: Long = 8L * 1000 * 1000): DataFrame = {
    val sym = GraphIndex.copurchaseEdgesSym(spark, dir)
    val e0 = GraphIndex.copurchaseEdges(spark, dir)
    // Explicit partition count on the pair-fanout input: the cohort ego
    // table is SMALL on the wire (~0.6 MB at sf0.1), so AQE coalesces
    // its exchange to ONE partition — but the z-keyed self-join below
    // EXPANDS it ~40× (quadratic neighborhood pairs, 25 MB of shuffle
    // write measured on one core: 0.9 s of the query's 2.2 s). Input
    // size is the wrong signal for a fanout stage; pin the width to the
    // machine (the graphPagerank wedges discipline).
    val ego = sym.filter(col("u") % cohortMod === 0)
      .select(col("u").as("z"), col("v").as("n"))
      .repartition(spark.sparkContext.defaultParallelism, col("z"))
    val pairs = ego.as("a")
      .join(ego.as("b"), col("a.z") === col("b.z")
        && col("a.n") < col("b.n"))
      .select(col("a.z").as("z"), col("a.n").as("u"), col("b.n").as("v"))
    val nonadj = pairs.join(e0, Seq("u", "v"), "left_anti")
    // couriers: w ∈ N(u) ∩ N(v) ∩ N(z), w ≠ z (w ≠ u, v automatically —
    // w is adjacent to both endpoints of a NON-edge). Scale gate: |E_sym|
    // counted once per (dir, fingerprint) — the house scale-gate
    // discipline (union-find ≤4M edges, hubness 64 MB, theil_sen ≤4096
    // h); GateCheck proves both paths hash-identical, Round17Spec
    // forces both branches.
    val sigma =
      if (GraphIndex.symEdgeCount(spark, dir) <= broadcastMaxEdges) {
        // Below the gate: per-pair courier counts as ONE linear merge of
        // three broadcast adjacency lists (the triangle-counting
        // adjacency-intersection kernel, one set deeper). r20 shipped
        // this as a ~300 M-row three-join courier STREAM whose two
        // sym-table broadcast builds (2×2.4 M hashed rows) alone cost
        // ~1.4 s of the query's 1.9 s wall at sf0.1; the |V|-row
        // adjacency index broadcasts instead (2|E| longs — the same
        // envelope the 8M-edge gate already budgets), the courier rows
        // never exist, and the courier groupBy + left-join epilogue
        // collapse into one projected expression.
        graft.GraftExtensions.register(spark)
        val adj = GraphIndex.copurchaseAdj(spark, dir)
        nonadj
          .join(broadcast(adj.select(col("u"), col("nbrs").as("nu"))),
            Seq("u"))
          .join(broadcast(adj.select(col("u").as("v"),
            col("nbrs").as("nv"))), Seq("v"))
          .join(broadcast(adj.select(col("u").as("z"),
            col("nbrs").as("nz"))), Seq("z"))
          .select(col("z"), (lit(1L) +
            expr("intersect3_count_sorted_excl(nu, nv, nz, z)")).as("sigma"))
      } else {
        // Past the gate: the hash-partitioned SMJ Pregel shape — the
        // courier stream joins exchange on vertex keys, the billion-edge
        // fallback (decided by the edge count, not by a human edit).
        val couriers = nonadj
          .join(sym.select(col("u"), col("v").as("w")), Seq("u"))
          .filter(col("w") =!= col("z"))
          .join(sym.select(col("u").as("v"), col("v").as("w"))
            .as("nv"), Seq("v", "w"), "left_semi")
          .join(ego.select(col("z"), col("n").as("w")),
            Seq("z", "w"), "left_semi")
          .groupBy(col("z"), col("u"), col("v"))
          .agg(count(lit(1)).as("extra"))
        nonadj.join(couriers, Seq("z", "u", "v"), "left")
          .select(col("z"),
            (lit(1L) + coalesce(col("extra"), lit(0L))).as("sigma"))
      }
    sigma.groupBy(col("z").as("part"))
      .agg(count(lit(1)).as("n_broker_pairs"),
        sum(lit(1.0) / col("sigma").cast("double")).cast("float")
          .as("ego_betweenness"))
      .orderBy(col("part"))
  }

  // ---- Page's CUSUM against a fixed target --------------------------------

  /** Weighted SSSP from a deterministic 4-source panel over the
    * co-purchase graph, `rounds` frontier-pruned relaxation rounds —
    * the weighted sibling of [[graphReachability]]'s BFS
    * (which counts hops; this sums integer edge lengths, so a 2-hop
    * path of strong ties can beat a 1-hop weak tie). Edge length is
    * the integer 1 + 1000 div weight (shared-order count from the
    * persisted weighted projection): monotone-decreasing in tie
    * strength, exact BIGINT arithmetic end to end.
    *
    * Spark has no recursive CTE, so the engine runs the delta-stepping
    * relaxation as BSP rounds: each round relaxes ONLY the frontier
    * (vertices whose distance improved last round) against the
    * persisted length-carrying symmetric edge index, min-combines the
    * offers map-side, and admits strict improvements. Frontier-pruned
    * rounds produce EXACTLY the Bellman-Ford prefix (dist after round
    * k = min over ≤k-edge paths): a vertex's offers are re-sent only
    * the round after it improves, and an unchanged vertex's offers
    * were all absorbed when last sent — so the DuckDB oracle is the
    * same relaxation UNROLLED (one min-combine CTE stage per round).
    *
    * Scale shape: per round one frontier⨝edges equi-join (frontier
    * broadcasts while small, shuffles on vertex id once it isn't) and
    * ONE map-side-combined min((d, o)) aggregate that merges the offers
    * into the distance table — the improved-flag tiebreak makes the
    * next frontier a FILTER of the same materialization instead of a
    * second join+anti-join pass (measured 5.1 → ~2 s at bench scale).
    * One localCheckpoint per round is the
    * [[graphReachability]] BSP superstep barrier (merged
    * feeds both the next base and the frontier; a lazy formulation
    * re-evaluates every earlier round's aggregate). Offer work per
    * round is O(|frontier|·d̄) plus the |dist| merge; fixed rounds keep
    * the plan finite, the iteration dial exactly as in delta-stepping's
    * bucket bound. */
  def graphSsspWeighted(spark: SparkSession, dir: String,
      rounds: Int = 4, nSources: Int = 4): DataFrame = {
    // pinned to a hash(u) layout: every relaxation round equi-joins on
    // the SOURCE endpoint, so the persisted index satisfies the join's
    // required distribution and only the small frontier exchanges per
    // round (the graphPagerank #wdeg pinned-layout rationale — unlike
    // BFS/LPA this loop moves |frontier|·d̄ offer rows, which earns it)
    val ew = GraphIndex.cachedDf(spark, GraphIndex.gkey(dir, "symlen")) {
      val e = GraphIndex.copurchaseWeighted(spark, dir)
        .select(col("u"), col("v"),
          (lit(1L) + expr("CAST(1000 AS BIGINT) div weight")).as("len"))
      e.unionAll(e.select(col("v").as("u"), col("u").as("v"), col("len")))
        .repartition(spark.sparkContext.defaultParallelism, col("u"))
    }
    // deterministic source panel: the nSources vertices ranked first by
    // md5 hash of their id (the detSeeds pseudo-random draw — both
    // engines replay it) out of the persisted vertex set
    val sources = GraphIndex.copurchaseDeg(spark, dir)
      .orderBy(TokenHash.hash60(col("u").cast("string")), col("u"))
      .limit(nSources)
      .select(col("u").as("src"))
    val nPart = spark.sparkContext.defaultParallelism
    // dist rides a STABLE hash(src, v) layout from round 1 on: the
    // per-round merge is a co-partitioned full-outer join, so only the
    // frontier's offers (min-combined on the same key layout) exchange
    // each round — the |V|·|sources| distance table itself never
    // re-shuffles. At 100 TB that is the difference between moving the
    // offers (frontier-sized, shrinking) and moving the whole distance
    // table every round.
    var dist = sources.select(col("src"), col("src").as("v"),
        lit(0L).as("d"))
      .repartition(nPart, col("src"), col("v"))
      .localCheckpoint(true)
    var frontier = dist
    for (_ <- 1 to rounds) {
      // frontier is a checkpointed LogicalRDD (no stats): unhinted, the
      // relaxation join planned SMJ and re-exchanged+re-sorted the
      // PERSISTED 17 MB edge index every round (r21 QProf; the
      // [[GraphIndex.hintVertexScale]] rationale) — hinted, each round
      // streams the persisted layout through one broadcast-hash probe
      val offers = ew.select(col("u").as("v"), col("v").as("w"), col("len"))
        .join(GraphIndex.hintVertexScale(spark, dir, frontier), Seq("v"))
        .groupBy(col("src"), col("w").as("v"))
        .agg(min(col("d") + col("len")).as("d_new"))
      val merged = dist
        .join(offers.repartition(nPart, col("src"), col("v")),
          Seq("src", "v"), "full_outer")
        .select(col("src"), col("v"),
          least(coalesce(col("d"), col("d_new")),
            coalesce(col("d_new"), col("d"))).as("d"),
          // strict improvement ⟺ the offer wins against the (possibly
          // absent) current distance — the next frontier is a FILTER of
          // the same materialization, not a second join pass
          (col("d_new") < coalesce(col("d"), lit(Long.MaxValue)) ||
            col("d").isNull).as("o"))
        .localCheckpoint(true) // the BSP superstep barrier: merged
      // feeds both next round's base and the frontier filter, and a
      // lazy formulation re-evaluates every prior round's join
      frontier = merged.filter(col("o"))
        .select(col("src"), col("v"), col("d"))
      dist = merged.select(col("src"), col("v"), col("d"))
    }
    dist.select(col("src"), col("v").as("part"), col("d").as("dist"))
      .orderBy(col("src"), col("part"))
  }

  /** Behavioral transition matrix: per-user consecutive event-type pairs
    * (a first-order Markov model of the event stream) with transition
    * counts and probabilities — the session-modeling / next-event
    * feature every clickstream pipeline derives.
    *
    * Scale shape: one shuffle on user_id for the lag window (ordered by
    * (ts, event_id) — total and deterministic), then a map-side-combined
    * count on the (prev, next) pair — a domain of |event_type|² keys.
    * The probability normalizer is a window over that tiny matrix, not
    * the events. Counts are exact longs; the probability is one double
    * division of exact integers — cross-engine deterministic. */
  def pathTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type")))
            .cast("double")).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }
}
