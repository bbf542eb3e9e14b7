package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** The co-purchase graph-index kernel shared by the graph, warehouse and
  * ANN families: the session-cached edge lists, degrees, adjacency and
  * weights of the part co-purchase graph ([[cachedDf]] / [[gkey]]), the
  * vertex-scale hint, label propagation ([[lpaLabels]]) and the one
  * connected-components kernel ([[componentsOf]]), which graph
  * components and dedup groups both call. */
object GraphIndex {

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
    * NOT pinned to a hash(v) layout: unlike [[Graph.graphPagerank]]'s wedges
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
  private[query] def copurchaseOriented(spark: SparkSession, dir: String): DataFrame = {
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
    * [[Graph.graphEgoBetweenness]] hint discipline extended to the
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

  /** Size-gated component labeling of a `(u, v)` edge list into
    * `(u, lbl)`, lbl = the smallest id reachable from u — the one
    * connected-components kernel of graph components (batch and
    * incremental) and dedup groups: at or under the gate a driver
    * union-find labels the graph in one collect; above it the
    * distributed pointer-jumping fixpoint runs for at most `maxRounds`
    * rounds. Round12Spec and NorthStarSpec pin both paths to identical
    * output. */
  private[query] def componentsOf(spark: SparkSession, e0: DataFrame,
      maxRounds: Int, driverUnionFindMax: Long): DataFrame = {
    val nEdges = e0.count()
    if (nEdges <= driverUnionFindMax) unionFindComponents(spark, e0)
    else distributedComponents(spark, e0, maxRounds)
  }

  /** Driver union-find over the collected edge list (≤ 64 MB of ids
    * beats ~3 shuffle stages per propagation round; union attaches the
    * larger root under the smaller, so min-id roots give identical labels
    * to the fixpoint loop and the recursive-CTE oracle). Round12Spec and
    * NorthStarSpec pin both paths to the same output. */
  private[query] def unionFindComponents(spark: SparkSession,
      e0: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    e0.select(col("u"), col("v")).as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    parent.keys.toSeq.map(x => (x, find(x))).toDF("u", "lbl")
  }

  /** Distributed fixpoint: min-label propagation + pointer jumping.
    * Each round is one edges⨝labels equi-join with a map-side-combined
    * min aggregation, then a labels⨝labels self-join — the POINTER-
    * JUMPING step (l(u) ← min(l(u), l(l(u)))), which contracts label
    * chains by half each round, so convergence is O(log diameter) rounds
    * instead of O(diameter). Every round's label vector is
    * localCheckpoint'ed (it feeds the next join AND the convergence
    * count) and carries the previous label as `old`, so the convergence
    * test is a filter on the same materialization — no extra join. */
  private def distributedComponents(spark: SparkSession, e0: DataFrame,
      maxRounds: Int): DataFrame = {
    val edges = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var lbl = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      round += 1
      val nbrMin = edges
        .join(lbl.select(col("u").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("lbl")).as("nlbl"))
      val prop = lbl.join(nbrMin, Seq("u"), "left")
        .select(col("u"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      val nxt = prop
        .join(prop.select(col("u").as("lbl"), col("lbl").as("ll")),
          Seq("lbl"), "left")
        .select(col("u"), col("old"),
          least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      changed = nxt.filter(col("lbl") < col("old")).count()
      lbl = nxt.select(col("u"), col("lbl"))
    }
    lbl
  }
}
