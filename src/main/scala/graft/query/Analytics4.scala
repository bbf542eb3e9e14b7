package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** Round-13 analytics: ranking-quality evaluation (PR-AUC), graph link
  * prediction and assortativity over the shared co-purchase index,
  * marketing attribution, per-group regression, matryoshka-embedding
  * truncation evaluation, and nearest-event as-of joins.
  *
  * Reference scope note: the reference (api/api.py) serves point ML
  * predictions only; these are the surrounding evaluation/analytics
  * surface a production deployment of the same pipeline needs. Every
  * operator is a declarative Catalyst plan (windows, map-side-combined
  * aggregates, broadcast joins) — no driver-side loops, no UDFs.
  */
object Analytics4 {

  // ---- evaluation --------------------------------------------------------

  /** Average precision (area under the precision-recall curve by the
    * step-interpolation convention): AP = (1/P) Σ_{k: y_k=1} TP@k / k
    * over the score-descending ranking, ties broken by vec_id. The PR
    * companion of [[Analytics3.evalAucRoc]] — preferred on imbalanced
    * labels where ROC-AUC saturates.
    *
    * Scale shape: the (score desc, vec_id) total order is ranked by
    * a [[TwoLevel]] descending prefix (rank and true positives) over
    * ≤ 4097 fixed [0, 0.9999] score-range buckets — no unpartitioned
    * window ever sees row grain. Every per-row (k, tp) is identical to
    * the single-window form, so the AP is bit-identical. */
  def evalPrAuc(spark: SparkSession, dir: String): DataFrame = {
    val score = least(greatest(
      element_at(col("embedding"), 1).cast("double") * 2.0 + 0.5,
      lit(0.0)), lit(0.9999))
    val s = table(spark, dir, "embeddings")
      .select(col("vec_id"), score.as("score"),
        when(col("label") % 2 === 1, 1).otherwise(0).as("y"))
    val ranked = TwoLevel.prefix(s,
        floor(col("score") * lit(4096.0)).cast("long"),
        Seq(col("score").desc, col("vec_id")), bucketDesc = true,
        rowNumber = Some("k"), sums = Seq("y" -> "tp"))
      .select(col("y"), col("k").cast("double").as("k"),
        col("tp").cast("double").as("tp"))
    ranked.filter(col("y") === 1)
      .agg(count(lit(1)).as("npos"),
        sum(col("tp") / col("k")).as("sprec"))
      .select(col("npos").cast("long").as("npos"),
        (col("sprec") / col("npos").cast("double"))
          .cast("float").as("avg_precision"))
  }

  // ---- graph -------------------------------------------------------------

  /** Common-neighbor / Jaccard link prediction over the co-purchase
    * graph: the top-k non-adjacent vertex pairs most likely to be
    * connected next, scored by shared-neighbor count. Candidate pairs
    * are generated for the `pk % 16 == 0` vertex cohort — the
    * scale-invariant sampling that bounds wedge fanout to 1/256 of the
    * full enumeration (298 M wedges at sf0.1; the full quadratic-in-
    * degree enumeration is exactly what a 100 TB deployment must not
    * run). Degrees in the Jaccard denominator are the FULL graph's.
    *
    * Scale shape: reuses the persisted [[Analytics.copurchaseEdgesSym]]
    * index; the wedge join shuffles on the (uniform) center vertex;
    * candidate dedup + count is one map-side-combined aggregate; the
    * adjacency check is a left-anti equi-join; TakeOrdered top-k. */
  def graphCommonNeighbors(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    // base indexes resolve OUTSIDE the cache thunk (recursive-update
    // rule); the top-k candidate-link table is itself a derived index —
    // the recommendation candidates a serving layer reads repeatedly
    val sym = Analytics.copurchaseEdgesSym(spark, dir)
    val deg = Analytics.copurchaseDeg(spark, dir)
    val e0 = Analytics.copurchaseEdges(spark, dir)
    Analytics.cachedDf(spark, Analytics.gkey(dir, s"linkcand$k")) {
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
    val sym = Analytics.copurchaseEdgesSym(spark, dir)
    val deg = Analytics.copurchaseDeg(spark, dir)
    val e0 = Analytics.copurchaseEdges(spark, dir)
    Analytics.cachedDf(spark, Analytics.gkey(dir, s"adamicadar$k")) {
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
    val sym = Analytics.copurchaseEdgesSym(spark, dir)
    val deg = Analytics.copurchaseDeg(spark, dir)
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

  /** Per-group ordinary-least-squares fit of extendedprice ~ quantity:
    * slope, intercept, and R² per returnflag, computed closed-form from
    * the five sufficient-statistic sums in a single map-side-combined
    * aggregate — the one-pass GROUP BY regression a monitoring pipeline
    * runs per segment, never a per-group solver loop.
    *
    * Scale shape: one scan, one aggregation on a tiny key; all moments
    * combine associatively so the map side does nearly all the work.
    * Float casts absorb partial-sum reassociation. */
  def aggLinregByGroup(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").cast("double").as("x"),
        col("l_extendedprice").cast("double").as("y"))
    val a = li.groupBy(col("rf"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val r2 = ((col("n") * col("sxy") - col("sx") * col("sy"))
        * (col("n") * col("sxy") - col("sx") * col("sy"))) /
      ((col("n") * col("sxx") - col("sx") * col("sx"))
        * (col("n") * col("syy") - col("sy") * col("sy")))
    a.select(col("rf"), col("n").cast("long").as("n"),
        slope.cast("float").as("slope"),
        ((col("sy") - slope * col("sx")) / col("n"))
          .cast("float").as("intercept"),
        r2.cast("float").as("r2"))
      .orderBy(col("rf"))
  }

  // ---- embeddings --------------------------------------------------------

  /** Matryoshka truncation evaluation: recall@k of dot-product top-k
    * retrieval using only the first d dimensions (d ∈ dims) against the
    * full-width ground truth, averaged over the `vec_id < nQ` query
    * cohort. The measurement that decides how far MRL-style embeddings
    * can be truncated before retrieval quality collapses — run before
    * committing a cheaper index width.
    *
    * Scale shape: queries broadcast against one corpus scan; every
    * per-width dot product is computed in the same pass (codegen'd
    * [[graft.functions.FloatVecDot]] over `slice`); per-query ranks are
    * bounded windows keyed by qid. Recall is a count ratio — exact, no
    * float noise. */
  def embMatryoshkaRecall(spark: SparkSession, dir: String,
      dims: Seq[Int] = Seq(8, 16, 32), nQ: Int = 20,
      k: Int = 10): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val dotCols: Seq[Column] = expr("float_dot(embedding, qe)").as("dot_full") +:
      dims.map(d =>
        expr(s"float_dot(slice(embedding, 1, $d), slice(qe, 1, $d))")
          .as(s"dot_$d"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid") +: col("vec_id") +: dotCols: _*)
    def rk(c: String): Column = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col(c).desc, col("vec_id")))
    val ranked = dims.foldLeft(
        scored.withColumn("r_full", rk("dot_full"))) {
      (df, d) => df.withColumn(s"r_$d", rk(s"dot_$d"))
    }
    val hits = ranked.agg(
      sum(when(col("r_full") <= k, 1L)).as("truth"),
      dims.map(d =>
        sum(when(col("r_full") <= k && col(s"r_$d") <= k, 1L))
          .as(s"hit_$d")): _*)
    hits.select(explode(array(dims.map(d =>
        struct(lit(d).as("dim"),
          (col(s"hit_$d").cast("double") / col("truth").cast("double"))
            .as("recall_at_k"))): _*)).as("s"))
      .select(col("s.dim").as("dim"), col("s.recall_at_k").as("recall_at_k"))
      .orderBy(col("dim"))
  }

  // ---- as-of -------------------------------------------------------------

  /** Nearest-event as-of join: each `purchase` is matched to the SAME
    * user's temporally nearest `error` event, looking both directions
    * (ties at equal distance resolve backward — the direction-complete
    * sibling of the backward-only `join_asof`). Expressed as one
    * interleaved per-user ordered window (prev/next error via
    * ignoreNulls frames) — never an event×event range join.
    *
    * Scale shape: one shuffle on user_id, two frame scans over the
    * interleaved sequence, a per-row arithmetic pick. State never
    * exceeds the window frame; at 100 TB this is the sort-merge as-of
    * shape every tick-data engine uses. */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val base = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val errTs = when(col("event_type") === "error", col("ts"))
    val n = e
      .withColumn("prev_err",
        last(errTs, ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_err",
        first(errTs, ignoreNulls = true)
          .over(base.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
    val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_err"))
    val dNext = unix_micros(col("next_err")) - unix_micros(col("ts"))
    val nearest = when(col("prev_err").isNull && col("next_err").isNull,
        lit(null).cast("timestamp"))
      .when(col("next_err").isNull, col("prev_err"))
      .when(col("prev_err").isNull, col("next_err"))
      .when(dPrev <= dNext, col("prev_err"))
      .otherwise(col("next_err"))
    n.select(col("user_id"), col("event_id"), col("ts"),
        nearest.as("nearest_err_ts"),
        (unix_micros(nearest) - unix_micros(col("ts"))).as("delta_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ---- forecasting -------------------------------------------------------

  /** Holt double-exponential smoothing per user over the ordered event
    * value series: final level, trend, and the 3-step-ahead forecast.
    * The recursion l_t = α·x_t + (1−α)(l+b), b_t = γ(l_t−l) + (1−γ)b is
    * inherently order-dependent, so it runs as ONE sequential in-memory
    * fold per key (`aggregate` over the sorted value array) — the exact
    * fixed-order evaluation both engines replay identically, the same
    * discipline as `window_ewma`. Initialization: level = first value,
    * trend = 0.
    *
    * Scale shape: one shuffle to group by key; each key's series folds
    * inside its row (array ops, no window state). Keys are users —
    * bounded series; an unbounded series would stream through
    * mapGroupsWithState instead (the [[graft.streaming]] sessionizer
    * shape). Nulls are excluded before folding on both engines. */
  def tsHoltForecast(spark: SparkSession, dir: String): DataFrame = {
    val a = 0.5; val oma = 0.5; val g = 0.3; val omg = 0.7
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("value")).as("s"))
    val per = e.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("user_id"),
        transform(col("arr"), s => s.getField("value")).as("vals"))
    val st = aggregate(
      slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
      struct(element_at(col("vals"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val nl = lit(a) * x + lit(oma) * (acc.getField("l") + acc.getField("b"))
        struct(nl.as("l"),
          (lit(g) * (nl - acc.getField("l"))
            + lit(omg) * acc.getField("b")).as("b"))
      })
    per.filter(size(col("vals")) >= 1)
      .select(col("user_id"), size(col("vals")).cast("long").as("n_events"),
        st.getField("l").cast("float").as("level"),
        st.getField("b").cast("float").as("trend"),
        (st.getField("l") + lit(3.0) * st.getField("b"))
          .cast("float").as("forecast_3"))
      .orderBy(col("user_id"))
  }

  /** Rolling-origin backtest of the Holt forecaster: at every step t the
    * model fitted on values 1..t forecasts value t+1, and the absolute
    * errors accumulate — the honest out-of-sample evaluation a
    * forecasting pipeline reports (in-sample fit always flatters).
    * Emits per-user n_forecasts, MAE, and the naive-baseline MAE
    * (forecast = last value) whose ratio is the skill score.
    *
    * The error accumulators ride INSIDE the same sequential fold as the
    * Holt state ((l, b, errSum, naiveSum) struct), so the whole
    * backtest is one pass — the oracle replays it as one recursive CTE
    * carrying the same four columns. */
  def tsHoltBacktest(spark: SparkSession, dir: String): DataFrame = {
    val a = 0.5; val oma = 0.5; val g = 0.3; val omg = 0.7
    val per = graft.schema.Schemas.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("value")).as("s"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("user_id"),
        transform(col("arr"), s => s.getField("value")).as("vals"))
      .filter(size(col("vals")) >= 2)
    val st = aggregate(
      slice(col("vals"), lit(2), size(col("vals")) - 1),
      struct(element_at(col("vals"), 1).as("l"), lit(0.0).as("b"),
        element_at(col("vals"), 1).as("prev"),
        lit(0.0).as("errsum"), lit(0.0).as("naivesum")),
      (acc, x) => {
        val fc = acc.getField("l") + acc.getField("b")
        val nl = lit(a) * x + lit(oma) * fc
        struct(nl.as("l"),
          (lit(g) * (nl - acc.getField("l"))
            + lit(omg) * acc.getField("b")).as("b"),
          x.as("prev"),
          (acc.getField("errsum") + abs(x - fc)).as("errsum"),
          (acc.getField("naivesum") + abs(x - acc.getField("prev")))
            .as("naivesum"))
      })
    per.select(col("user_id"),
        (size(col("vals")) - 1).cast("long").as("n_forecasts"),
        (st.getField("errsum")
          / (size(col("vals")) - 1).cast("double"))
          .cast("float").as("mae_holt"),
        (st.getField("naivesum")
          / (size(col("vals")) - 1).cast("double"))
          .cast("float").as("mae_naive"))
      .orderBy(col("user_id"))
  }

  // ---- retrieval quality -------------------------------------------------

  /** nDCG@k of dot-product retrieval per query: binary relevance (the
    * candidate shares the query's label), log2-discounted cumulative
    * gain over the score ranking, normalized by the ideal ordering —
    * the graded companion of [[Similarity]]'s recall@k/MRR evaluation.
    *
    * Scale shape: identical to [[embMatryoshkaRecall]] — queries
    * broadcast against one corpus scan, two bounded windows per qid
    * (score rank, ideal rank), one aggregate. */
  def retrievalNdcg(spark: SparkSession, dir: String, nQ: Int = 20,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("float_dot(embedding, qe)").as("dot"),
        when(col("label") === col("qlabel"), 1.0).otherwise(0.0).as("rel"))
    val byScore = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    val ideal = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("vec_id"))
    val ranked = scored
      .withColumn("r", row_number().over(byScore))
      .withColumn("ri", row_number().over(ideal))
    def gain(rank: Column): Column =
      col("rel") / (log(rank.cast("double") + 1.0) / log(lit(2.0)))
    val per = ranked.groupBy(col("qid"))
      .agg(sum(col("rel")).cast("long").as("n_rel"),
        sum(when(col("r") <= k, gain(col("r"))).otherwise(0.0)).as("dcg"),
        sum(when(col("ri") <= k, gain(col("ri"))).otherwise(0.0)).as("idcg"))
    per.select(col("qid"), col("n_rel"),
        col("dcg").cast("float").as("dcg"),
        col("idcg").cast("float").as("idcg"),
        (col("dcg") / col("idcg")).cast("float").as("ndcg"))
      .orderBy(col("qid"))
  }

  // ---- spectral ----------------------------------------------------------

  /** Dominant principal component of the embedding corpus by three
    * matrix-free power-iteration rounds from the deterministic uniform
    * start v₀ = (1/8,…,1/8): v ← normalize(Σᵢ xᵢ·(xᵢ·v)). Emits the
    * 64 loadings and the Rayleigh-quotient eigenvalue estimate — the
    * direction every embedding-whitening / anisotropy diagnosis needs
    * first. Uncentered (corpus second moment), deterministic: no RNG,
    * fixed iteration count, sign fixed by the positive start.
    *
    * Scale shape: each round is one corpus scan computing xᵢ·v (ordered
    * in-row fold), then a (dim,contrib) explode aggregated per dim —
    * map-side combined, 64 output rows — and a 1-row norm broadcast
    * folded into the next round's literal-free plan. Never a driver
    * collect of the matrix; only the 64-vector round-trips, exactly how
    * distributed power iteration runs at any scale. */
  def embPowerIteration(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), f => f.cast("double")).as("x"))
    val dim = 64
    // v is DIM-sized — corpus-independent by construction — so each
    // round collects the 64 partial sums to the driver (the bounded-
    // panel discipline, textBpeEncode precedent) and inlines the
    // normalized vector as literals into the next round. An earlier
    // form chained v through 1-row DataFrames instead: the final plan
    // nested all `iters` rounds (3 embedded scans + 64-wide expression
    // trees per level), costing ~0.7 s of pure optimizer time per run.
    // Every double op below replays the in-plan evaluation order (the
    // aggregate HOF's left fold; one sqrt; one division per element),
    // so the emitted vector is bit-identical.
    var v: Array[Double] = Array.fill(dim)(1.0 / 8.0)
    for (_ <- 1 to iters) {
      val vCol = array(v.toIndexedSeq.map(lit): _*)
      val scoreCol = aggregate(
        zip_with(col("x"), vCol, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t)
      // Σᵢ xᵢⱼ·scoreᵢ for all 64 dims as ONE map-side-combined
      // aggregate row (64 sum expressions) — no per-dim explode, no
      // dim-keyed shuffle, and the dense vector arrives already in dim
      // order. Each round is scan → partial agg → 1-row final agg.
      val sums = (0 until dim).map(j =>
        sum(element_at(col("x"), j + 1) * col("score")).as(s"s$j"))
      val row = emb
        .select(col("x"), scoreCol.as("score"))
        .agg(sums.head, sums.tail: _*)
        .collect()(0)
      // empty-corpus guard: sum() of zero rows is NULL — the final
      // frame is empty then anyway (emb has no rows), v just must not
      // throw while being built
      val u = Array.tabulate(dim)(j =>
        if (row.isNullAt(j)) 0.0 else row.getDouble(j))
      val norm = math.sqrt(u.map(t => t * t).foldLeft(0.0)(_ + _))
      // degenerate guard (r20 advice): an all-zero sum vector (possible
      // only on an all-zero-embedding corpus) must not become NaN
      // literals — keep the zero vector; every later round then sums
      // exact zeros, a fixed point
      v = if (norm == 0.0) u else u.map(_ / norm)
    }
    val vCol = array(v.toIndexedSeq.map(lit): _*)
    val rayleigh = aggregate(
      zip_with(col("x"), vCol, (a, b) => a * b),
      lit(0.0), (acc, t) => acc + t)
    emb.withColumn("v", vCol)
      .select(explode(expr(
        "transform(v, (vj, i) -> struct(i + 1 as j, vj as loading))"))
        .as("e"), rayleigh.as("score"))
      .groupBy(col("e.j").as("dim"), col("e.loading").as("ld"))
      .agg(sum(col("score") * col("score")).as("lam"))
      .select(col("dim"), col("ld").cast("float").as("loading"),
        col("lam").cast("float").as("eigenvalue"))
      .orderBy(col("dim"))
  }

  /** Intra-label embedding cohesion: the EXACT mean pairwise dot
    * product inside each label — the mode-collapse / cluster-cohesion
    * signal (a label whose members all point the same way scores near
    * its mean norm; a diverse one near zero) — computed WITHOUT a pair
    * join via the sum-vector identity Σᵢ≠ⱼ xᵢ·xⱼ = ‖Σx‖² − Σ‖x‖².
    * Embeddings are ×10³-quantized to BIGINTs first (the
    * [[embCovarianceInt]] discipline), so both moments are exact
    * integers and the mean is ONE double division, de-scaled by 10⁶.
    *
    * Scale shape: one map-side-combined aggregate per label (64 dim
    * sums + one norm sum) — O(n·d) with no shuffle wider than the
    * label key; the pairwise n(n−1) denominator never materializes
    * pairs. Long bound: |Σ_d| ≤ n·2·10³ ⇒ S_d² exact to n ≈ 1.5e6
    * per label; beyond that the sums move to DECIMAL(38,0). */
  def embLabelCohesion(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val q = table(spark, dir, "embeddings")
      .select(col("label"),
        transform(col("embedding"),
          e => round(e.cast("double") * 1000.0).cast("long")).as("v"))
    val sums = (0 until dim).map(d =>
      sum(element_at(col("v"), d + 1)).as(s"s$d"))
    val aggs = Seq(count(lit(1)).as("n"),
      sum(aggregate(col("v"), lit(0L), (acc, x) => acc + x * x))
        .as("sum_sq")) ++ sums
    val g = q.groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
    val outer = (0 until dim).map(d => col(s"s$d") * col(s"s$d"))
      .reduce(_ + _)
    g.filter(col("n") >= 2)
      .select(col("label"), col("n"), outer.as("sum_outer"),
        col("sum_sq"),
        (((outer - col("sum_sq")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")) / lit(1000000.0))
          .cast("float").as("avg_pair_dot"))
      .orderBy(col("label"))
  }

  /** Between-label separation — [[embLabelCohesion]]'s contrast: the
    * exact mean CROSS-label pairwise dot, again without a pair join
    * (Σᵢ∈a,ⱼ∈b xᵢ·xⱼ = Sₐ·S_b on the same quantized per-label sum
    * vectors). A healthy labeling has within ≫ between; emitted per
    * unordered label pair so the confusable pairs are visible.
    *
    * Scale shape: the per-label sum vectors are one map-side-combined
    * aggregate (shared shape with the cohesion op); the pair panel is
    * |labels|² scalar math on broadcast-sized state. */
  def embLabelSeparation(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val q = table(spark, dir, "embeddings")
      .select(col("label"),
        transform(col("embedding"),
          e => round(e.cast("double") * 1000.0).cast("long")).as("v"))
    val sums = (0 until dim).map(d =>
      sum(element_at(col("v"), d + 1)).as(s"s$d"))
    val aggs = count(lit(1)).as("n") +: sums
    val g = q.groupBy(col("label"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("label"), col("n"),
        array((0 until dim).map(d => col(s"s$d")): _*).as("sv"))
    val a = g.select(col("label").as("label_a"), col("n").as("n_a"),
      col("sv").as("sa"))
    val b = g.select(col("label").as("label_b"), col("n").as("n_b"),
      col("sv").as("sb"))
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("cross_dot",
        aggregate(zip_with(col("sa"), col("sb"), (x, y) => x * y),
          lit(0L), (acc, t) => acc + t))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("cross_dot"),
        ((col("cross_dot").cast("double") /
          (col("n_a") * col("n_b")).cast("double")) / lit(1000000.0))
          .cast("float").as("avg_cross_dot"))
      .orderBy(col("label_a"), col("label_b"))
  }

  // ---- behavioral entropy ------------------------------------------------

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity score (bots and stuck clients collapse to
    * near-zero entropy; engaged users spread across types). One
    * aggregation to (user, type) counts, one rollup with the Σ −p·ln p
    * fold; both shuffles share the user_id prefix.
    *
    * At 100 TB the same two-level shape holds: the (user, type) grain
    * is the only wide state and it map-side combines. */
  def aggEntropyByKey(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.schema.Schemas.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("user_id"))
      .agg(sum(col("n")).as("ntot"), count(lit(1)).as("n_types"))
    c.join(tot, Seq("user_id"))
      .select(col("user_id"), col("n_types"),
        (col("n").cast("double") / col("ntot").cast("double")).as("p"))
      .groupBy(col("user_id"))
      .agg(first(col("n_types")).as("n_types"),
        sum(negate(col("p") * log(col("p")))).cast("float")
          .as("entropy_nats"))
      .orderBy(col("user_id"))
  }

  // ---- divergence --------------------------------------------------------

  /** Jensen-Shannon divergence between each source's token distribution
    * and the corpus-wide distribution — the bounded, symmetric "which
    * source drifted" monitor for text (KL explodes on unseen tokens;
    * JS never does). Distributions share the persisted token index;
    * output is one row per source, ordered.
    *
    * Scale shape: per-source and corpus token totals are map-side
    * combined over the index; the JS fold joins them ON TOKEN (uniform
    * key) and rolls up per source. */
  def textJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tf = TextAnalysis.tokenTf(spark, dir)
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val bySrc = tf.join(docs, Seq("doc_id"))
      .groupBy(col("source"), col("tok"))
      .agg(sum(col("tf")).as("c"))
    val srcTot = bySrc.groupBy(col("source")).agg(sum(col("c")).as("ct"))
    val corpus = bySrc.groupBy(col("tok")).agg(sum(col("c")).as("g"))
    val gTot = corpus.agg(sum(col("g")).as("gt"))
    val joined = bySrc
      .join(srcTot, Seq("source"))
      .join(corpus, Seq("tok"))
      .crossJoin(broadcast(gTot))
      .select(col("source"),
        (col("c").cast("double") / col("ct").cast("double")).as("p"),
        (col("g").cast("double") / col("gt").cast("double")).as("q"))
    // JS(p||q) = H(m) − (H(p)+H(q))/2 over the tokens present in p;
    // absent-in-p tokens contribute only to the q half, folded via the
    // per-source coverage term: compute with the pointwise form
    // 0.5·Σ p·ln(2p/(p+q)) + 0.5·Σ q·ln(2q/(p+q)) restricted to the
    // source's support plus the q-mass outside it (ln 2 weighted).
    val inSupport = joined.groupBy(col("source"))
      .agg(
        sum(lit(0.5) * col("p")
          * log(lit(2.0) * col("p") / (col("p") + col("q")))).as("pterm"),
        sum(lit(0.5) * col("q")
          * log(lit(2.0) * col("q") / (col("p") + col("q")))).as("qterm"),
        sum(col("q")).as("qcov"))
    inSupport
      .select(col("source"),
        (col("pterm") + col("qterm")
          + lit(0.5) * (lit(1.0) - col("qcov")) * log(lit(2.0)))
          .cast("float").as("js_divergence"))
      .orderBy(col("source"))
  }

  // ---- rolling regression ------------------------------------------------

  /** Rolling OLS slope of value vs time (value-units per hour) over each
    * user's trailing 8 events — the local-trend monitor a metrics
    * pipeline attaches per entity. The frame's x/y series are collected
    * as ordered lists and ALL five moments come from explicit
    * sequential folds over them (the [[Analytics.windowEwma]]
    * discipline): the closed-form slope suffers catastrophic
    * cancellation at epoch-hour magnitudes, so the only way two engines
    * agree is to make every double op bit-identical, not just
    * mathematically equal.
    *
    * Scale shape: one shuffle on user_id; frames are bounded (8), so
    * state is O(frame) per row and the folds are in-row arithmetic. */
  def windowRollingSlope(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id",
        """collect_list(CAST(unix_micros(ts) AS DOUBLE) / 3600000000.0)
          |  OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fx""".stripMargin,
        """collect_list(value) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fy""".stripMargin)
      .selectExpr("event_id", "user_id",
        "CAST(size(fx) AS DOUBLE) AS n",
        "aggregate(fx, CAST(0.0 AS DOUBLE), (a, e) -> a + e) AS sx",
        "aggregate(fy, CAST(0.0 AS DOUBLE), (a, e) -> a + e) AS sy",
        """aggregate(sequence(1, size(fx)), CAST(0.0 AS DOUBLE),
          |  (a, i) -> a + element_at(fx, i) * element_at(fy, i))
          |AS sxy""".stripMargin,
        """aggregate(fx, CAST(0.0 AS DOUBLE),
          |  (a, e) -> a + e * e) AS sxx""".stripMargin)
      .selectExpr("event_id", "user_id", "CAST(n AS BIGINT) AS n_frame",
        """CAST(CASE WHEN n * sxx - sx * sx <> 0.0
          |  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
          |  ELSE NULL END AS FLOAT) AS slope_per_hour""".stripMargin)
      .orderBy(col("event_id"))

  // ---- running extrema ---------------------------------------------------

  /** Per-user running peak and drawdown over the ordered value series —
    * the standard running-max monitor (portfolio drawdown, watermark
    * lag, capacity headroom). One bounded window pass; ties ordered by
    * event_id so the peak is deterministic. */
  def windowDrawdown(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("event_id"), col("user_id"), col("value"),
        max(col("value")).over(w).as("peak"))
      .select(col("event_id"), col("user_id"),
        col("value").cast("float").as("value"),
        col("peak").cast("float").as("peak"),
        (col("peak") - col("value")).cast("float").as("drawdown"))
      .orderBy(col("event_id"))
  }

  // ---- concentration -----------------------------------------------------

  /** Pareto concentration of revenue over parts: how many parts carry
    * 80% of revenue, and what share the top decile of parts holds.
    * Revenue is summed in CENTS (exact integers) so the threshold
    * comparisons are deterministic under any partitioning — a double
    * cumulative sum could flip the boundary row between engines.
    *
    * Scale shape: one map-side-combined aggregate to per-part cents,
    * then a [[TwoLevel]] descending rank/cumsum over the part grain
    * (part cardinality is itself unbounded, so no unpartitioned window
    * may touch it), parts bucketed by cents range. Ties (equal cents)
    * share a bucket by construction, so ranks match the single-window
    * form exactly. */
  def aggParetoConcentration(spark: SparkSession, dir: String): DataFrame = {
    val perPart = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("cents"))
    val ranked = TwoLevel.prefix(perPart, floor(col("cents") / lit(4096L)),
      Seq(col("cents").desc, col("l_partkey")), bucketDesc = true,
      rowNumber = Some("rk"), sums = Seq("cents" -> "cum"))
    val tot = perPart.agg(sum(col("cents")).as("t"),
      count(lit(1)).as("p"))
    // a part is needed for the 80% budget when the revenue BEFORE it is
    // still under the threshold; all comparisons on exact cent integers
    // (scaled by 10 vs 8·t to stay integral)
    ranked.crossJoin(broadcast(tot))
      .agg(first(col("p")).as("n_parts"),
        sum(when((col("cum") - col("cents")) * 10 < col("t") * 8, 1L)
          .otherwise(0L)).as("n_parts_80pct"),
        sum(when(col("rk") <= ceil(col("p").cast("double") / 10.0),
          col("cents")).otherwise(0L)).as("top_decile_cents"),
        first(col("t")).as("t2"))
      .select(col("n_parts").cast("long").as("n_parts"),
        col("n_parts_80pct").cast("long").as("n_parts_80pct"),
        (col("top_decile_cents").cast("double") / col("t2").cast("double"))
          .as("top_decile_share"))
  }

  // ---- as-of with tolerance ----------------------------------------------

  /** Backward as-of join with a max-gap tolerance: each purchase matches
    * the same user's most recent PRIOR error only when it happened
    * within `toleranceUs` — the tick-data semantics where a stale quote
    * must not match. Same one-window shape as [[joinAsofNearest]]. */
  def joinAsofTolerance(spark: SparkSession, dir: String,
      toleranceUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = e.withColumn("prev_err",
        last(when(col("event_type") === "error", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
    val gap = unix_micros(col("ts")) - unix_micros(col("prev_err"))
    withPrev.select(col("user_id"), col("event_id"), col("ts"),
        when(gap <= toleranceUs, col("prev_err")).as("matched_err_ts"),
        when(gap <= toleranceUs, gap).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ---- local clustering --------------------------------------------------

  /** Local clustering coefficient for the `pk % 128 == 0` vertex cohort:
    * closed wedges at the vertex / all wedges at the vertex — the
    * per-vertex companion of [[Analytics.graphTriangles]]'s global
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
    val sym = Analytics.copurchaseEdgesSym(spark, dir)
    val deg = Analytics.copurchaseDeg(spark, dir)
    val e0 = Analytics.copurchaseEdges(spark, dir)
    Analytics.cachedDf(spark, Analytics.gkey(dir, s"localcc$mod")) {
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

  /** Lag-1 autocorrelation of each user's value series (Pearson over the
    * (x_t, x_{t−1}) pairs) — the "is this metric trending or noise"
    * one-number diagnostic, and the stationarity check run before any
    * forecasting model. Closed form from one lag window + one
    * map-side-combined moment aggregate per user; float cast absorbs
    * partial-sum reassociation.
    *
    * Scale shape: one shuffle on user_id for the lag ordering, one
    * aggregation on the same key — the second stage reuses the first's
    * partitioning. */
  def tsAutocorrLag1(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("value").as("y"),
        lag(col("value"), 1).over(w).as("x"))
      .filter(col("x").isNotNull)
    val a = lagged.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    a.select(col("user_id"), col("n").cast("long").as("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .cast("float").as("autocorr_lag1"))
      .orderBy(col("user_id"))
  }

  // ---- weighted projection -----------------------------------------------

  /** Weighted bipartite projection: the strongest co-purchase part pairs
    * by SHARED ORDER COUNT — the weighted edges the unweighted
    * [[Analytics.copurchaseEdges]] index collapses. Top-k by weight
    * with id tie-breaks; at scale the same plan emits the full weighted
    * edge list for a downstream similarity join.
    *
    * Scale shape: the pair fanout is the per-order basket square
    * (bounded by basket size, not degree); one map-side-combined count
    * on the uniform pair key; TakeOrdered top-k. */
  def graphCopurchaseWeights(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame =
    Analytics.copurchaseWeighted(spark, dir)
      .orderBy(col("weight").desc, col("u"), col("v"))
      .limit(k)

  // ---- clustering quality ------------------------------------------------

  /** Simplified (centroid) silhouette per label: s = (b−a)/max(a,b)
    * with a = distance to the own-label centroid and b = distance to
    * the nearest other centroid — the O(n·k) clustering-quality score
    * that replaces the O(n²) full silhouette at scale (medoid variant
    * of Rousseeuw). Positive mean ⇒ labels are geometrically separable
    * in embedding space; ≈0 ⇒ labels are noise w.r.t. the geometry.
    *
    * Scale shape: centroids are ONE 64-sum map-side-combined aggregate
    * per label (10 rows, broadcast); each corpus vector computes k
    * distances in-row (fold dot products); two tiny rollups. Corpus
    * vectors never shuffle. */
  def evalSilhouetteCentroid(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), f => f.cast("double")).as("x"))
    val sums = (0 until dim).map(j =>
      sum(element_at(col("x"), j + 1)).as(s"s$j"))
    val cents = emb.groupBy(col("label"))
      .agg(count(lit(1)).cast("double").as("cn"), sums: _*)
      .select(col("label").as("clabel"),
        transform(array((0 until dim).map(j => col(s"s$j")): _*),
          e => e / col("cn")).as("c"))
    def dot(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, t) => acc + t)
    val d2 = dot(col("x"), col("x")) - lit(2.0) * dot(col("x"), col("c")) +
      dot(col("c"), col("c"))
    val dists = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(greatest(d2, lit(0.0))).as("dist"))
    val ab = dists.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("label") === col("clabel"), col("dist"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
    ab.select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        avg(col("s")).cast("float").as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** Per-dimension embedding statistics (mean, population variance,
    * extrema) — the anisotropy/energy-spectrum diagnostic read beside
    * [[embPowerIteration]]: a few dominant-variance dims mean the
    * corpus embeddings are effectively low-rank. One explode + one
    * map-side-combined aggregate on the 64-value dim key. */
  def embDimStats(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("j0", "xf")))
      .select((col("j0") + 1).as("dim"), col("xf").cast("double").as("v"))
    e.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .select(col("dim"), col("n"),
        (col("s") / col("n").cast("double")).cast("float").as("mean"),
        (col("ss") / col("n").cast("double")
          - (col("s") / col("n").cast("double"))
            * (col("s") / col("n").cast("double")))
          .cast("float").as("variance"),
        col("vmin").cast("float").as("vmin"),
        col("vmax").cast("float").as("vmax"))
      .orderBy(col("dim"))
  }

  // ---- hubness -----------------------------------------------------------

  /** Reverse-kNN hubness statistics: how often each vector appears in
    * other vectors' dot-product top-k, summarized as an in-degree
    * histogram — the high-dimensional "hub" pathology diagnostic every
    * vector index should be checked for (hubs dominate retrieval and
    * poison downstream kNN classifiers; skewed in-degree = trouble).
    *
    * Scale shape: the all-pairs scoring here is the sf-bounded
    * diagnostic form; at corpus scale the same rollup consumes the ANN
    * index's candidate lists instead (scores per probed pair), keeping
    * the histogram exact over retrieved neighborhoods. Ranks are
    * per-query bounded windows; the in-degree rollup and histogram are
    * map-side-combined counts. */
  def embHubnessStats(spark: SparkSession, dir: String, k: Int = 5,
      matrixGateBytes: Long = 64L << 20): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    // empty corpus: no vectors, no histogram — and no dim to probe
    if (dimRow.isEmpty)
      return emb.select(lit(0L).as("in_degree"), lit(0L).as("n_vectors"))
        .limit(0)
    val dim = dimRow(0).getInt(0)
    val n = emb.count()
    // Matrix path gate: brute-force reverse-kNN is only defensible while
    // the corpus broadcasts (the cross-join form needed broadcast(q)
    // just the same); past the gate, fall back to the map-side-
    // combinable top-k aggregate — still exact, no n²-row shuffle.
    // Spec hook: Round14Spec forces the fallback with gate 0 and proves
    // both paths byte-identical.
    val ranked = if (n * dim * 4L <= matrixGateBytes) {
      // (ids, flat matrix) broadcasts per (session, dir, fingerprint) —
      // pass 2 of a bench run must not re-collect the corpus
      val (bIds, bMat) = IndexCache(spark, "hubness.matrix", dir,
          Seq(s"$dir/embeddings.parquet")) {
        val rows = emb.collect()
        val ids = new Array[Long](rows.length)
        val mat = new Array[Float](rows.length * dim)
        var j = 0
        rows.foreach { r =>
          ids(j) = r.getLong(0)
          val v = r.getSeq[Float](1)
          var i = 0
          while (i < dim) { mat(j * dim + i) = v(i); i += 1 }
          j += 1
        }
        (spark.sparkContext.broadcast(ids),
          spark.sparkContext.broadcast(mat))
      } { case (i0, m0) => i0.destroy(); m0.destroy() }
      // temp-function builder closes over THIS corpus' broadcasts;
      // Datasets analyze eagerly on creation, so the select below binds
      // the current registration permanently — later re-registrations
      // for another dir cannot retarget it
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_topk_dot_ids",
        exprs => graft.functions.TopKDotIds(exprs(0), exprs(1),
          bIds, bMat, dim, k), "scala_udf")
      emb.select(
        explode(expr("graft_topk_dot_ids(embedding, vec_id)")).as("vec_id"))
    } else {
      val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val topk = udaf(new graft.functions.TopKByScore(k))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          expr("float_dot(embedding, qe)").as("dot"), col("vec_id"))
        .groupBy(col("qid"))
        .agg(topk(col("dot"), col("vec_id")).as("nn"))
        .select(explode(col("nn")).as("vec_id"))
    }
    val indeg = ranked.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    // vectors never retrieved have in-degree 0 — keep them via the left
    // join so the histogram's mass equals the corpus size
    emb.select(col("vec_id")).join(indeg, Seq("vec_id"), "left_outer")
      .select(coalesce(col("in_degree"), lit(0L)).as("d"))
      .groupBy(col("d").as("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("in_degree"))
  }

  // ---- re-aggregatable exact distinct ------------------------------------

  /** EXACT distinct counting through mergeable bitmap partials: per
    * (nation, key-bucket) bitmaps OR-merge up to regions, and the
    * summed bitmap_count equals exact COUNT(DISTINCT) — asserted in
    * the output row. The production replacement for count-distinct at
    * 100 TB: unlike HLL ([[Analytics.aggSketchMerge]]) the partials
    * are exact, and unlike COUNT(DISTINCT) they re-aggregate across
    * days/partitions/rollups without a re-scan. Bucketing by
    * `bitmap_bucket_number` keeps each bitmap ≤ 32k bits regardless of
    * key range. */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val j = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(table(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("n_nationkey"), col("c_custkey"),
        expr("bitmap_bucket_number(c_custkey)").as("bkt"))
    val perNation = j.groupBy(col("n_regionkey"), col("n_nationkey"),
        col("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))")
        .as("bm"))
    val perRegion = perNation.groupBy(col("n_regionkey"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("n_regionkey"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_customers_bitmap"))
    val exact = j.groupBy(col("n_regionkey"))
      .agg(countDistinct(col("c_custkey")).as("n_customers_exact"))
    exact.join(perRegion, Seq("n_regionkey"))
      .select(col("n_regionkey"), col("n_customers_exact"),
        col("n_customers_bitmap"),
        (col("n_customers_exact") === col("n_customers_bitmap"))
          .as("bitmap_is_exact"))
      .orderBy(col("n_regionkey"))
  }

  // ---- inequality --------------------------------------------------------

  /** Gini coefficient of revenue over parts, on exact cent integers:
    * G = (2·Σ i·xᵢ) / (n·Σx) − (n+1)/n over the ascending-sorted
    * revenue sequence — the inequality companion of
    * [[aggParetoConcentration]] (same index, one number). Integer rank
    * products keep the sort-position sum deterministic; the final
    * ratio is one double division.
    *
    * Scale shape: per-part cents is a map-side-combined aggregate; the
    * ascending rank is a [[TwoLevel]] row number over the part grain
    * (part cardinality is unbounded — no unpartitioned window touches
    * it), parts bucketed by cents range. Equal cents share a bucket, so
    * ranks match the single-window form exactly; the moment fold is one
    * row. (Σ i·xᵢ can exceed 2⁶³ only past ~10¹⁰ parts·cents — cast to
    * double at that scale, accepting float noise in the ratio.) */
  def aggGiniCents(spark: SparkSession, dir: String): DataFrame = {
    val perPart = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("cents"))
    val ranked = TwoLevel.rowNumber(perPart, floor(col("cents") / lit(4096L)),
      Seq(col("cents"), col("l_partkey")), bucketDesc = false, "i")
    ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).as("sx"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("n").cast("long").as("n_parts"),
        ((lit(2.0) * col("six").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n").cast("double") + 1.0) / col("n").cast("double"))
          .as("gini"))
  }

  // ---- prefix duplicates -------------------------------------------------

  /** Prefix-duplicate groups: documents sharing their first `k`
    * normalized tokens — the boilerplate-intro detector (template
    * headers, scraped navigation preambles) that full-document hashing
    * misses once bodies diverge. Groups keyed by the md5-60 hash of the
    * joined prefix so the oracle replays the grouping bit-identically.
    *
    * Scale shape: one scan, map-side-combined count on the uniform
    * prefix-hash key, groups-only output (HAVING > 1). */
  def dedupPrefixGroups(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        Dedup.hash60(concat_ws(" ", slice(col("t"), 1, k))).as("pfx"))
    docs.groupBy(col("pfx"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("pfx"))
  }

  // ---- calibration -------------------------------------------------------

  /** Murphy decomposition of the Brier score over 10 equal-width
    * probability bins: BS = reliability − resolution + uncertainty.
    * Reliability isolates miscalibration (what [[Analytics3
    * .evalCalibrationBins]] shows per bin, here aggregated), resolution
    * rewards discrimination, uncertainty is the label-entropy floor.
    * The emitted `brier` is the direct mean((p−y)²), so the identity
    * itself is checkable downstream.
    *
    * Scale shape: one scan feeding a 10-key map-side-combined bin
    * aggregate plus a 1-row global aggregate; the decomposition folds
    * the tiny bin table against the broadcast total. */
  def evalBrierDecomp(spark: SparkSession, dir: String): DataFrame = {
    val p = least(greatest(
      element_at(col("embedding"), 1).cast("double") * 2.0 + 0.5,
      lit(0.0)), lit(0.9999))
    val s = table(spark, dir, "embeddings")
      .select(p.as("p"),
        when(col("label") % 2 === 1, 1.0).otherwise(0.0).as("y"))
      .withColumn("bin", least(floor(col("p") * 10.0), lit(9.0)).cast("int"))
    val tot = s.agg(count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("sumy"),
      sum((col("p") - col("y")) * (col("p") - col("y"))).as("sumsq"))
    val bins = s.groupBy(col("bin"))
      .agg(count(lit(1)).cast("double").as("nb"),
        sum(col("p")).as("sp"), sum(col("y")).as("sy"))
    val pbar = col("sp") / col("nb"); val ybar = col("sy") / col("nb")
    val ybarAll = col("sumy") / col("n")
    bins.crossJoin(broadcast(tot))
      .select(col("n"), col("sumsq"), col("sumy"),
        (col("nb") * (pbar - ybar) * (pbar - ybar)).as("relterm"),
        (col("nb") * (ybar - ybarAll) * (ybar - ybarAll)).as("resterm"))
      .groupBy(col("n"), col("sumsq"), col("sumy"))
      .agg(sum(col("relterm")).as("rel"), sum(col("resterm")).as("res"))
      .select(col("n").cast("long").as("n"),
        (col("sumsq") / col("n")).cast("float").as("brier"),
        (col("rel") / col("n")).cast("float").as("reliability"),
        (col("res") / col("n")).cast("float").as("resolution"),
        ((col("sumy") / col("n")) * (lit(1.0) - col("sumy") / col("n")))
          .cast("float").as("uncertainty"))
  }

  /** Per-user non-parametric trend panel: the Mann–Kendall S statistic
    * with the tie-corrected variance, the continuity-corrected normal
    * z score, and the Theil–Sen slope (exact median of pairwise
    * slopes) — the robust monotone-trend battery (is this user's value
    * drifting?) that ordinary least squares gets wrong under outliers.
    *
    * Exactness: S, n, and the ×18-scaled variance are integers
    * (division by 18 deferred into the z denominator); z is
    * division → IEEE sqrt → division, deterministic; each Sen slope is
    * ONE double division, the median picks by rank (even counts
    * average TWO doubles — addition of two doubles is commutative, so
    * the aggregate order cannot change the bits).
    *
    * Scale shape (the r12-advised O(k log k) form): ONE exchange on
    * user_id, engine-side sort by (ts, event_id), then a per-group
    * merge-sort inversion count — S = C(k,2) − T − 2·inv where inv =
    * #time-ordered pairs with a strict value decrease and T = Σ t(t−1)/2
    * tie pairs — so S costs O(k log k) per user, never O(k²), and a
    * 10⁵-event hot key is ~1.7 M comparisons, not 5×10⁹ pairs
    * (pinned by the hot-key spec). Sen keeps the EXACT pairwise median
    * for k ≤ `exactSenMax` (the entire driver corpus — the regime the
    * DuckDB oracle replays hash-exact) and above it switches to a
    * deterministic sampled-pair median (`senSamples` splitmix64-drawn
    * pairs seeded by user_id — reproducible, documented contract: the
    * sampled median is a √senSamples-consistent estimator, the
    * standard Theil–Sen scale form). The in-group recurrence rides
    * `flatMapSortedGroups` like the Kadane/debounce/FFD family; the
    * z/variance arithmetic stays in Catalyst on exact integers. */
  def tsMannKendall(spark: SparkSession, dir: String,
      exactSenMax: Int = 4096, senSamples: Int = 20000): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * lit(1e6)).cast("long").as("v6"))
      .as[(Long, Long, Long, Long)]
    val panel = ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        val rows = it.toArray // (user, us, id, v6) in pair order
        val k = rows.length
        val vs = Array.tabulate(k)(i => rows(i)._4)
        val inv = countInversions(vs.clone())
        var tiePairs = 0L; var tie18 = 0L
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var i = 0
        while (i < k) {
          counts(vs(i)) = counts.getOrElse(vs(i), 0L) + 1L; i += 1
        }
        counts.foreach { case (_, t) =>
          tiePairs += t * (t - 1) / 2
          tie18 += t * (t - 1) * (2 * t + 5)
        }
        val nPairs = k.toLong * (k - 1) / 2
        val s = nPairs - tiePairs - 2L * inv
        // Sen slopes over time-distinct pairs: each slope is ONE double
        // division — identical numerics to the oracle's pair join
        val slopes = scala.collection.mutable.ArrayBuffer.empty[Double]
        if (k <= exactSenMax) {
          var a = 0
          while (a < k) {
            var b = a + 1
            while (b < k) {
              if (rows(a)._2 != rows(b)._2)
                slopes += (rows(b)._4 - rows(a)._4).toDouble /
                  (rows(b)._2 - rows(a)._2).toDouble
              b += 1
            }
            a += 1
          }
        } else {
          // deterministic sampled-pair regime: splitmix64 stream seeded
          // by user_id — same user, same corpus ⇒ same sample, no RNG
          // state shared across keys
          var state = user * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
          def next(): Long = {
            state += 0x9E3779B97F4A7C15L
            var z = state
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^ (z >>> 31)
          }
          var drawn = 0
          while (drawn < senSamples) {
            val a = ((next() >>> 1) % k).toInt
            val b = ((next() >>> 1) % k).toInt
            if (a != b && rows(a)._2 != rows(b)._2) {
              val (lo, hi) = if (a < b) (a, b) else (b, a)
              slopes += (rows(hi)._4 - rows(lo)._4).toDouble /
                (rows(hi)._2 - rows(lo)._2).toDouble
            }
            drawn += 1
          }
        }
        if (slopes.isEmpty) Iterator.empty
        else {
          val arr = slopes.toArray
          java.util.Arrays.sort(arr)
          val m = arr.length
          val sen =
            if (m % 2 == 1) arr(m / 2)
            else (arr(m / 2 - 1) + arr(m / 2)) / 2.0
          Iterator.single((user, k.toLong, s, tie18, sen))
        }
      }
      .toDF("user_id", "n", "s_stat", "tie18", "sen_slope")
    panel
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie18"))
      .select(col("user_id"), col("n"), col("s_stat"), col("var18"),
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)))
          .otherwise(lit(0.0)).as("z"),
        col("sen_slope"))
      .orderBy(col("user_id"))
  }

  /** Merge-sort inversion count: #pairs i < j with a(j) < a(i),
    * strict — ties contribute nothing (they're the Mann–Kendall tie
    * term, counted separately). Destroys `a`; O(k log k), O(k) scratch. */
  private[graft] def countInversions(a: Array[Long]): Long = {
    val buf = new Array[Long](a.length)
    def merge(lo: Int, mid: Int, hi: Int): Long = {
      var inv = 0L
      var i = lo; var j = mid; var o = lo
      while (i < mid && j < hi) {
        if (a(j) < a(i)) { inv += mid - i; buf(o) = a(j); j += 1 }
        else { buf(o) = a(i); i += 1 }
        o += 1
      }
      while (i < mid) { buf(o) = a(i); i += 1; o += 1 }
      while (j < hi) { buf(o) = a(j); j += 1; o += 1 }
      System.arraycopy(buf, lo, a, lo, hi - lo)
      inv
    }
    def sort(lo: Int, hi: Int): Long =
      if (hi - lo < 2) 0L
      else {
        val mid = lo + (hi - lo) / 2
        sort(lo, mid) + sort(mid, hi) + merge(lo, mid, hi)
      }
    sort(0, a.length)
  }

  /** Embedding covariance (upper triangle of the first `dims` dims) from
    * ×10⁶-scaled INTEGER moments — the second-moment matrix a whitening /
    * ZCA / PCA-preprocessing step estimates over the corpus, in the
    * exact-rational form (n·Σxy − Σx·Σy as BIGINT, one double division
    * at the end) that makes a distributed covariance bit-identical to
    * any single-node computation regardless of partitioning or
    * aggregation order — the agg_skew_kurtosis discipline applied to a
    * matrix.
    *
    * Scale shape: each vector expands map-side to its dims·(dims+1)/2
    * pair products (a literal pair-index array — no self-join, no
    * per-dim shuffle) and everything combines map-side into
    * dims·(dims+1)/2 grouped rows. Envelope: the per-row products and
    * their sums stay BIGINT (~10¹² per product, exact to ~10⁶ rows),
    * but the epilogue cross-terms n·Σxy and Σx·Σy square the row count
    * in — they crossed 2⁶³ at the x10 corpus (n = 2·10⁵), so the
    * moment COMBINATION rides DECIMAL(38,0)/HUGEINT while the shuffled
    * sums stay narrow. */
  def embCovarianceInt(spark: SparkSession, dir: String,
      dims: Int = 8): DataFrame = {
    val pairIdx = array((for {
      i <- 1 to dims; j <- i to dims
    } yield struct(lit(i).as("i"), lit(j).as("j"))): _*)
    val q = graft.schema.Schemas.table(spark, dir, "embeddings")
      .select(expr(s"transform(slice(embedding, 1, $dims), " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
        .as("q6"))
    q.select(explode(pairIdx).as("p"), col("q6"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        element_at(col("q6"), col("p.i")).as("xi"),
        element_at(col("q6"), col("p.j")).as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("xi") * col("xj")).as("sxy"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"))
      .select(col("i"), col("j"), col("n"), col("sxy"), col("sx"),
        col("sy"),
        ((col("n") * col("sxy").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
          - col("sx").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))
            * col("sy")).cast("double") /
          ((col("n") * col("n")).cast("double") * lit(1e12))).as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** Ljung–Box portmanteau terms: per (user, lag ≤ 5) the lag-k sample
    * autocorrelation (the Pearson-over-pairs form [[tsAutocorrLag1]]
    * established) and its Q-statistic term n(n+2)·ρ²/(n−k) — the
    * is-this-series-white-noise battery a forecasting pipeline runs
    * before trusting residuals. The consumer sums q_term over the lags
    * it tests; per-lag rows keep every emitted double a fixed-order
    * computation (a grouped sum of float terms would be
    * engine-order-dependent).
    *
    * Scale shape: ONE per-user window (sort by ts, event_id) carries
    * all five lag columns, the stack/unpivot is map-only, and the
    * moment aggregate is map-side-combined on (user, lag). The REAL
    * cast on ρ absorbs the last-ulp group-sum order difference, the
    * house convention for Pearson-form statistics. */
  /** Per-(user, lag ≤ maxLag) Pearson-over-pairs autocorrelation —
    * the shared front end of [[tsLjungBoxTerms]] and
    * [[tsPacfDurbinLevinson]]: ONE per-user window carries all lag
    * columns, the stack is map-only, the moment aggregate combines
    * map-side, and ρ is REAL-cast (house convention). */
  private def lagRho(spark: SparkSession, dir: String,
      maxLag: Int, maxUser: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagCols = (1 to maxLag).map(k =>
      lag(col("value"), k).over(w).as(s"x$k"))
    val lagged = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id") +: col("value").as("y") +: lagCols: _*)
    val stacked = lagged.select(col("user_id"), col("y"),
      expr(s"stack($maxLag, " + (1 to maxLag)
        .map(k => s"$k, x$k").mkString(", ") + ") AS (lag, x)"))
      .filter(col("x").isNotNull)
    val a = stacked.groupBy(col("user_id"), col("lag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val rho = ((col("n") * col("sxy") - col("sx") * col("sy"))
      / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
        * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
      .cast("float")
    a.select(col("user_id"), col("lag"),
      col("n").cast("long").as("n_pairs"), rho.as("rho"))
  }

  def tsLjungBoxTerms(spark: SparkSession, dir: String,
      maxLag: Int = 5, maxUser: Long = 100L): DataFrame = {
    lagRho(spark, dir, maxLag, maxUser)
      .withColumn("nser", (col("n_pairs") + col("lag")).cast("double"))
      .select(col("user_id"), col("lag"), col("n_pairs"), col("rho"),
        ((col("nser") * (col("nser") + lit(2.0)))
          * (col("rho").cast("double") * col("rho").cast("double"))
          / (col("nser") - col("lag").cast("double")))
          .cast("float").as("q_term"))
      .orderBy(col("user_id"), col("lag"))
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch: estimate the second frequency
    * moment Σ f_u² of the per-user event counts from 16 independent
    * ±1-hashed counters S_c = Σ_u f_u·sign(u, c) — E[S_c²] = F₂, the
    * classic one-pass self-join-size / skew estimator, emitted beside
    * the exact F₂ so the sketch's error is visible per counter. Signs
    * come from the cross-engine [[graft.query.Dedup.hash60]], so every
    * counter (and therefore the estimate) is bit-identical in the
    * oracle — the HLL/count-min companion completing the sketch family
    * with the frequency-moment member.
    *
    * Scale shape: the per-user count is one map-side-combined
    * aggregate; the 16 counters expand from it (16 rows per USER, not
    * per event) and combine map-side into 16 grouped rows — the
    * partial-counter merge IS the AMS mergeability property that makes
    * the sketch work across partitions at 100 TB. All integers until
    * the final mean division. */
  def aggAmsF2(spark: SparkSession, dir: String,
      nCounters: Int = 16): DataFrame = {
    val perUser = graft.schema.Schemas.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("f"))
    val exact = perUser.agg(sum(col("f") * col("f")).as("f2_exact"))
    perUser
      .select(col("user_id"), col("f"),
        explode(sequence(lit(0), lit(nCounters - 1))).as("counter"))
      .select(col("counter"),
        (when(Dedup.hash60(concat(col("user_id").cast("string"),
          lit(":ams:"), col("counter").cast("string"))) % 2 === 0, col("f"))
          .otherwise(-col("f"))).as("term"))
      .groupBy(col("counter"))
      .agg(sum(col("term")).as("s"))
      .crossJoin(broadcast(exact))
      .select(col("counter"), col("s"), (col("s") * col("s")).as("s2"),
        col("f2_exact"),
        ((col("s") * col("s") - col("f2_exact")).cast("double") /
          col("f2_exact").cast("double")).as("rel_err"))
      .orderBy(col("counter"))
  }

  /** Hourly OHLC (open/high/low/close) candles over the event stream —
    * the time-bucketed summary every telemetry/market pipeline emits.
    * Open/close are argmin/argmax by a FIXED-WIDTH lexicographic
    * (epoch-micros, event_id) key — the dedup_semantic string-key trick
    * that makes ordered-first/last a plain min_by/max_by aggregate
    * (map-side-combined, partitioning-invariant) instead of a sorted
    * window; high/low/count are plain aggregates. One shuffle on the
    * hour bucket; no window function anywhere.
    *
    * Exactness: open/high/low/close are PICKED doubles (exact); the
    * mean is a group sum → REAL cast (house convention). */
  def tsOhlcHourly(spark: SparkSession, dir: String): DataFrame = {
    val skey = concat(
      format_string("%020d", unix_micros(col("ts"))),
      format_string("%010d", col("event_id")))
    graft.schema.Schemas.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour_ts"),
        col("value"), skey.as("skey"))
      .groupBy(col("hour_ts"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("skey")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("skey")).as("close"),
        (sum(col("value")) / count(lit(1))).cast("float").as("mean_value"))
      .orderBy(col("hour_ts"))
  }

  /** 1-D Kalman filter (local-level model) per user: the optimal
    * recursive estimator for a random-walk signal observed under noise
    * — predict P ← P + Q, gain K = P/(P+R), update x ← x + K(z − x),
    * P ← (1−K)P — THE online smoother telemetry/sensor pipelines run
    * (EWMA with a principled, observation-noise-aware gain that
    * converges to the steady-state Riccati fixed point). Initial state
    * is the first observation with P₀ = 1, K₁ ≡ 1.
    *
    * Exactness: the recurrence is a fixed sequence of double ops per
    * event — both engines (flatMapSortedGroups here, a recursive CTE
    * in the oracle) evaluate the identical parenthesization in the
    * identical (ts, event_id) order, so every filtered value is
    * bit-identical; no libm beyond division.
    *
    * Scale shape: ONE exchange on user_id, engine-side sort, O(1)
    * state per key — the Kadane/debounce/FFD sorted-group recurrence
    * family; output is bounded by the user filter. */
  def tsKalman1d(spark: SparkSession, dir: String, q: Double = 1.0,
      r: Double = 4.0, maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    ev.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        var rn = 0L
        var x = 0.0
        var p = 0.0
        it.map { case (_, _, id, z) =>
          rn += 1
          if (rn == 1L) { x = z; p = 1.0; (user, id, rn, z, 1.0, x) }
          else {
            val k = (p + q) / (p + q + r)
            x = x + k * (z - x)
            p = (1.0 - k) * (p + q)
            (user, id, rn, z, k, x)
          }
        }
      }
      .toDF("user_id", "event_id", "rn", "z", "k_gain", "x_filt")
      .orderBy(col("user_id"), col("rn"))
  }

  /** Bollinger bands with INTEGER-EXACT breakout flags: per user, the
    * rolling 20-event mean ± 2σ envelope and whether the current value
    * breaks out — the volatility-banded anomaly gate (trading,
    * telemetry) in a form where no float can flip a verdict. The band
    * test is cross-multiplied onto ×10³-scaled integers (dev = v·n − s;
    * breakout ⇔ dev² > 4·(n·Σv² − s²)), the rolling sums are BIGINT
    * (order-independent, so DuckDB's segment-tree sliding windows and
    * Spark's frame folds agree bit for bit — a double rolling sum would
    * NOT), and mean/sd are single divisions / one IEEE sqrt of exact
    * integers. Flags are FALSE until the window fills
    * (a breakout verdict needs the full envelope). The ×10³
    * scale is the overflow envelope: dev² peaks at (n·v₃ᵐᵃˣ)² ≈ 10¹⁴
    * for |v| ≤ 490 at n = 20 (×10⁶ scaling overflows s² at this value
    * range — caught by the ANSI overflow error, not silent).
    *
    * Scale shape: one exchange on user_id; one sliding frame over it;
    * everything else map-only. */
  def windowBollingerBands(spark: SparkSession, dir: String,
      win: Int = 20, maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(win - 1), Window.currentRow)
    val dev = col("v3") * col("n_win") - col("s")
    val varTerm = col("n_win") * col("q") - col("s") * col("s")
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s", sum(col("v3")).over(w))
      .withColumn("q", sum(col("v3") * col("v3")).over(w))
      .select(col("user_id"), col("event_id"), col("value"), col("n_win"),
        (col("s").cast("double") / (col("n_win").cast("double") * lit(1e3)))
          .as("mean"),
        (sqrt(varTerm.cast("double")) / col("n_win").cast("double")
          / lit(1e3)).as("sd"),
        when(col("n_win") < win, lit(false))
          .otherwise(dev > 0 && dev * dev > lit(4L) * varTerm)
          .as("above_upper"),
        when(col("n_win") < win, lit(false))
          .otherwise(dev < 0 && dev * dev > lit(4L) * varTerm)
          .as("below_lower"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hampel filter: the rolling-median/MAD outlier cleaner — a point
    * is an outlier iff |x − median₇| > 3·1.4826·MAD₇ over the centered
    * 7-event window, and the cleaned series replaces outliers with the
    * window median (the standard telemetry despiker, robust where the
    * mean/σ z-score family breaks under the very spikes it hunts).
    *
    * Exactness: median and MAD are PICKS from sorted ×10³-scaled
    * integers (odd window ⇒ single middle element — no averaging
    * anywhere), so the verdict comparison is one double multiply
    * against an exact integer deviation: cross-multiplied as
    * 10³·|dev| > 3·1.4826·10³·MAD computed identically both engines —
    * no sums, no aggregation order, nothing to drift.
    *
    * Scale shape: one exchange on user_id; one centered frame; picks
    * via `element_at(array_sort(collect_list(...)), 4)` over exactly 7
    * values per frame. Edge rows (< 7 in frame) pass through
    * unflagged — the standard boundary contract. Frames with < 4 rows
    * (a user with ≤ 3 events total) have no 4th order statistic: the
    * picks are `when`-guarded to NULL there — under Spark 4 ANSI mode
    * an unguarded `element_at` past the end THROWS, while the DuckDB
    * oracle's `vals[4]` returns NULL, so the guard is both a
    * data-dependent-crash fix and the cross-engine NULL contract
    * (median/mad NULL, row unflagged, value passed through). */
  def windowHampelFilter(spark: SparkSession, dir: String,
      maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    val nWin = count(lit(1)).over(w)
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
      .withColumn("n_win", nWin)
      .withColumn("med3", when(col("n_win") >= 4,
        element_at(array_sort(collect_list(col("v3")).over(w)), 4)))
      .withColumn("mad3", when(col("n_win") >= 4, element_at(array_sort(
        transform(collect_list(col("v3")).over(w),
          x => abs(x - col("med3")))), 4)))
      .select(col("user_id"), col("event_id"), col("value"),
        (col("med3").cast("double") / lit(1e3)).as("median"),
        (col("mad3").cast("double") / lit(1e3)).as("mad"),
        when(col("n_win") < 7, lit(false))
          .otherwise(abs(col("v3") - col("med3")).cast("double") >
            lit(3.0) * lit(1.4826) * col("mad3").cast("double"))
          .as("is_outlier"))
      .withColumn("cleaned",
        when(col("is_outlier"), col("median")).otherwise(col("value")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Partial autocorrelation at lags 1..5 via the Durbin–Levinson
    * recursion — the AR-order diagnostic read beside the ACF (PACF
    * cutting off after lag p is the textbook AR(p) signature). The
    * recursion over the FIVE lag-ρ values is unrolled into explicit
    * fixed-parenthesization column layers (φ_{k,k} =
    * (ρ_k − Σ φ_{k−1,j}ρ_{k−j}) / (1 − Σ φ_{k−1,j}ρ_j), then
    * φ_{k,j} = φ_{k−1,j} − φ_{k,k}φ_{k−1,k−j}) — both engines evaluate
    * the identical expression tree over the identical REAL-cast ρ
    * inputs, so every PACF value is bit-identical with no recurrence
    * to replay. PACF is REAL-cast on output.
    *
    * Scale shape: everything downstream of [[lagRho]]'s one exchange
    * is a ≤ 5-column map-only pivot + scalar arithmetic per user. */
  def tsPacfDurbinLevinson(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    val rCols = (1 to 5).map(k =>
      max(when(col("lag") === k, col("rho").cast("double"))).as(s"r$k"))
    val piv = lagRho(spark, dir, maxLag = 5, maxUser)
      .groupBy(col("user_id"))
      .agg(rCols.head, rCols.tail: _*)
    val l1 = piv.withColumn("p11", col("r1"))
    val l2 = l1
      .withColumn("p22",
        (col("r2") - col("p11") * col("r1")) /
          (lit(1.0) - col("p11") * col("r1")))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
    val l3 = l2
      .withColumn("p33",
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) /
          (lit(1.0) - (col("p21") * col("r1") + col("p22") * col("r2"))))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
    val l4 = l3
      .withColumn("p44",
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2")
          + col("p33") * col("r1"))) /
          (lit(1.0) - (col("p31") * col("r1") + col("p32") * col("r2")
            + col("p33") * col("r3"))))
      .withColumn("p41", col("p31") - col("p44") * col("p33"))
      .withColumn("p42", col("p32") - col("p44") * col("p32"))
      .withColumn("p43", col("p33") - col("p44") * col("p31"))
    val l5 = l4
      .withColumn("p55",
        (col("r5") - (col("p41") * col("r4") + col("p42") * col("r3")
          + col("p43") * col("r2") + col("p44") * col("r1"))) /
          (lit(1.0) - (col("p41") * col("r1") + col("p42") * col("r2")
            + col("p43") * col("r3") + col("p44") * col("r4"))))
    l5.select(col("user_id"),
      expr("stack(5, 1, p11, 2, p22, 3, p33, 4, p44, 5, p55)" +
        " AS (lag, pacf0)"))
      .select(col("user_id"), col("lag"),
        col("pacf0").cast("float").as("pacf"))
      .orderBy(col("user_id"), col("lag"))
  }

  /** Median-of-means: the heavy-tail-robust mean estimator — rows hash
    * into 16 deterministic buckets, each bucket's mean is an exact
    * integer-rational division, and the estimate is the MEDIAN of the
    * 16 bucket means (even count ⇒ average of the two middle picks).
    * Sub-Gaussian deviation bounds under only a variance assumption —
    * the estimator sketch/streaming systems use where one corrupt
    * shard would poison a plain mean. Emitted beside the plain mean so
    * the robustness gap is visible.
    *
    * Scale shape: one 16-key map-side-combined aggregate; the median
    * picks from a sorted 16-element collect — nothing scales with the
    * corpus beyond the first combine. All inputs ×10³-scaled exact
    * integers; each mean is ONE division. */
  def aggMedianOfMeans(spark: SparkSession, dir: String,
      buckets: Int = 16): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(round(col("value") * lit(1e3)).cast("long").as("v3"),
        pmod(Dedup.hash60(concat(col("event_id").cast("string"),
          lit(":mom"))), lit(buckets.toLong)).as("b"))
    val means = ev.groupBy(col("b"))
      .agg(count(lit(1)).as("n_b"), sum(col("v3")).as("s_b"))
      .select(col("b"), col("n_b"),
        (col("s_b").cast("double") / (col("n_b").cast("double") * lit(1e3)))
          .as("mean_b"))
    val tot = ev.agg(count(lit(1)).as("n"), sum(col("v3")).as("s"))
      .select(col("n"),
        (col("s").cast("double") / (col("n").cast("double") * lit(1e3)))
          .as("plain_mean"))
    // middle picks derive from the REALIZED bucket-mean count
    // size(ms), not the `buckets` parameter: a tiny corpus can leave
    // hash buckets empty, where the hardcoded buckets/2 pick would
    // throw under ANSI (element_at past the end) and stop being the
    // median of the realized means. Even count → average of the two
    // middle picks; odd → the single middle element.
    val m = size(col("ms"))
    means.agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(col("mean_b"))).as("ms"))
      .crossJoin(tot)
      .select(col("n"), col("n_buckets"),
        when(m % 2 === 0,
          (element_at(col("ms"), (m / 2).cast("int")) +
            element_at(col("ms"), (m / 2 + 1).cast("int"))) / lit(2.0))
          .otherwise(element_at(col("ms"), ((m + 1) / 2).cast("int")))
          .as("median_of_means"),
        col("plain_mean"))
  }

  /** pass@k — the unbiased estimator every code/agent eval reports:
    * for a problem with n trials of which c succeeded,
    * pass@k = 1 − C(n−c,k)/C(n,k), computed in the numerically-stable
    * product form 1 − Π_{i<k}(n−c−i)/(n−i) (the form the published
    * estimator uses — never raw factorials). Problems here are users,
    * trials their events, success = value ≥ 50 — the stand-in mapping
    * for a (problem_id, trial, passed) eval table; the estimator
    * arithmetic is what this operator pins.
    *
    * Exactness: n and c are exact integers; each product term is one
    * double division and the k=5 product multiplies left-to-right in
    * fixed order, so both engines land identical bits. pass@1 reduces
    * to c/n. pass@5 is NULL where n < 5 (the estimator needs k ≤ n) and
    * exactly 1.0 where fewer than k trials failed (C(n−c,k) = 0).
    *
    * Scale shape: one map-side-combined (n, c) aggregate per problem,
    * then scalar arithmetic — no window, no second shuffle, no skew
    * (hot problems still aggregate to one row). */
  def evalPassAtK(spark: SparkSession, dir: String,
      threshold: Double = 50.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
    val counts = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= threshold, 1L).otherwise(0L)).as("c"))
    val nD = col("n").cast("double"); val cD = col("c").cast("double")
    val f = col("n") - col("c") // failures
    val fD = f.cast("double")
    val prod5 = (0 until 5).map(i =>
      (fD - lit(i.toDouble)) / (nD - lit(i.toDouble)))
      .reduceLeft(_ * _)
    counts.select(col("user_id"), col("n"), col("c"),
      (cD / nD).as("pass1"),
      when(col("n") < 5, lit(null).cast("double"))
        .when(f < 5, lit(1.0))
        .otherwise(lit(1.0) - prod5).as("pass5"))
      .orderBy(col("user_id"))
  }
}
