package graft.query
package stats

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** The stats family's sampling queries (`sample_`): weighted,
  * stratified, systematic, hash-deterministic, domain-mixture and
  * coreset samples, all reproducible from md5-derived draws. */
object Sampling {

  /** Deterministic weighted Bernoulli sampling: keep a row with
    * probability value/max(value), decided by the row's md5-derived
    * 60-bit hash — reproducible across engines, runs, and partitionings
    * (never rand()), the importance-sampling primitive of corpus
    * curation. Map-only apart from the 1-row max broadcast. */
  def samplePropValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("value"))
    val mx = ev.agg(max(col("value")).as("vmax"))
    val u = TokenHash.hash60(concat(col("event_id").cast("string"), lit(":w")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    ev.crossJoin(broadcast(mx))
      .filter(u < col("value") / col("vmax"))
      .select(col("event_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ExpJ
    * order form): each order draws an exponential key Exp(w) =
    * -ln(u)/w from a DETERMINISTIC md5-derived uniform u ∈ (0, 1], and
    * the k smallest keys form an exact weighted sample — heavier
    * o_totalprice → proportionally higher inclusion odds. The md5
    * derivation (the corpus-wide [[TokenHash.hash60]] discipline) makes the
    * draw reproducible run-to-run and replayable bit-for-bit by the
    * DuckDB oracle — the property a training-data subsampling pass
    * needs for lineage.
    *
    * Scale shape: one scan, per-row key arithmetic inside codegen, and
    * a TakeOrdered top-k — no global sort, no shuffle beyond the k-row
    * reduction. At 100 TB the same plan streams map-side heaps of size
    * k to the driver-side merge. */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // (hash60 + 1) / 2^60 ∈ (0, 1]: never 0, so ln(u) is finite
    val u = (TokenHash.hash60(col("o_orderkey").cast("string")) + 1).cast("double") /
      lit(1152921504606846976.0)
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (-log(u) / col("o_totalprice")).as("es_key"))
      .orderBy(col("es_key"), col("o_orderkey"))
      .limit(k)
      // float cast absorbs last-ulp ln()/division divergence across
      // libm implementations; the RANKING is safe at double precision
      // (adjacent keys differ by ~1e-6 relative, ulp noise is ~1e-16)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("es_key").cast("float").as("es_key"))
  }

  // ---- weighted order statistics -----------------------------------------

  /** Systematic probability-proportional-to-size sampling — the survey
    * sampler a pipeline uses when it needs inclusion probability ∝
    * weight WITH the low-variance systematic spacing (one random
    * anchor, points every W/n along the cumulative weight axis), not
    * independent draws. Weights are o_totalprice cents; an order can
    * be selected with multiplicity > 1 if its weight spans several
    * points (the PPS-with-replacement convention, reported in the
    * `multiplicity` column).
    *
    * Integer-exact: work scaled ×n so the points sit at
    * a + k·W (a = hash60(pps:anchor) mod W): an item's multiplicity is
    * ⌈(n·Cᵢ − a)/W⌉ − ⌈(n·Cᵢ₋₁ − a)/W⌉, all nonneg BIGINT floor
    * division — no real-valued step anywhere, bit-identical
    * cross-engine, and Σ multiplicity = n by construction.
    *
    * Scale shape: the global cumulative sum is a [[TwoLevel]] prefix
    * (bucket = o_orderkey range, so the only unpartitioned window runs
    * over |orders|/4096 histogram rows, never the fact table). Then a
    * map-only multiplicity expression with the 1-row (W, a) panel
    * broadcast. */
  def samplePpsSystematic(spark: SparkSession, dir: String,
      n: Int = 20): DataFrame = {
    val orders = table(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("w"))
    val o = TwoLevel.prefix(orders, floor(col("o_orderkey") / lit(4096L)),
        Seq(col("o_orderkey")), sums = Seq("w" -> "c_hi"))
      .withColumn("c_lo", col("c_hi") - col("w"))
    val tot = o.agg(max(col("c_hi")).as("big_w"))
      .select(col("big_w"),
        (TokenHash.hash60(lit("pps:anchor")) % col("big_w")).as("a"))
    def cnt(x: String): Column =
      expr(s"IF($x <= a, 0L, 1L + ($x - a - 1) DIV big_w)")
    o.crossJoin(broadcast(tot))
      .withColumn("multiplicity",
        cnt(s"c_hi * ${n}L") - cnt(s"c_lo * ${n}L"))
      .filter(col("multiplicity") >= 1)
      .select(col("o_orderkey"), col("w"), col("c_lo"), col("c_hi"),
        col("multiplicity"))
      .orderBy(col("o_orderkey"))
  }

  /** Domain-mixture rebalancing plan (the DoReMi/Pile recipe step): given
    * a UNIFORM target share per source, size each source's contribution
    * to a same-total-size mixed corpus — downsample rate for
    * oversupplied domains, repetition factor (epochs) for undersupplied
    * ones, and the residual deficit a data-buying decision would act on.
    * Supply is measured in n_chars (the table's exact integer volume
    * column), so every allocation quantity is BIGINT arithmetic:
    * target = total div k (floor), achieved = least(supply, target),
    * deficit = greatest(0, target − supply). The only doubles are the
    * reported rate/epochs, each ONE IEEE division of two BIGINTs (and
    * one `least` against 1.0) — bit-identical cross-engine.
    *
    * Scale shape: one map-side-combined (count, sum) aggregate per
    * source (≤ dozens of rows), a 1-row total broadcast back onto the
    * panel; nothing downstream of the first aggregate scales with the
    * corpus. The same plan shape sizes a 100 TB mixture: the per-source
    * supply census is the scan, the plan is driver-sized. */
  def sampleDomainMixture(spark: SparkSession, dir: String): DataFrame = {
    val supply = table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("supply_chars"))
    val tot = supply.agg(sum(col("supply_chars")).as("total_chars"),
      count(lit(1)).as("k"))
    supply.crossJoin(broadcast(tot))
      .withColumn("target_chars",
        expr("total_chars div k").cast("long"))
      .select(col("source"), col("n_docs"), col("supply_chars"),
        col("target_chars"),
        least(lit(1.0), col("target_chars").cast("double")
          / col("supply_chars").cast("double")).as("sample_rate"),
        (col("target_chars").cast("double")
          / col("supply_chars").cast("double")).as("epochs"),
        least(col("supply_chars"), col("target_chars"))
          .as("achieved_chars"),
        greatest(lit(0L), col("target_chars") - col("supply_chars"))
          .as("deficit_chars"))
      .orderBy(col("source"))
  }

  /** Deterministic hash sampling: keep rows whose md5-derived hash60 of
    * the key ≡ 0 (mod 10) — a reproducible ~10% sample that any engine
    * (and any rerun) selects identically, unlike TABLESAMPLE. This is the
    * sampling primitive a 100 TB pipeline wants: push-down-able, stable
    * across retries, joins consistently (same keys sampled in every
    * table). */
  def sampleHashDet(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(TokenHash.hash60(col("o_orderkey").cast("string")) % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Stratified deterministic sampling: a different hash-sample rate per
    * stratum (event_type) — the training-data idiom for rebalancing
    * source mixes (keep 1/8 of clicks, 1/4 of views, every purchase).
    * Hash-deterministic (md5 of the key), so the sample is reproducible
    * across engines, runs, and partitionings — never rand(). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val h = TokenHash.hash60(col("event_id").cast("string"))
    graft.schema.Schemas.events(spark, dir)
      .filter(
        when(col("event_type") === "click", h % 8 === 0)
          .when(col("event_type") === "view", h % 4 === 0)
          .otherwise(lit(true)))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Neyman-optimal stratified sample allocation: per stratum
    * (event_type), the allocation n_h of a fixed sample budget
    * proportional to N_h·σ_h — the design that minimizes the variance
    * of the stratified mean estimator — computed from ×10³-scaled
    * INTEGER moments (N·Σv² − (Σv)² exact in BIGINT; envelope ~10⁶
    * rows/stratum at |v| ≤ 10², DECIMAL(38) beyond) with
    * largest-remainder rounding so the integer allocations sum to the
    * budget EXACTLY (floor everything, hand the leftover to the
    * largest fractional remainders, ties by stratum name).
    *
    * Scale shape: one map-side-combined moment aggregate per stratum
    * (≤ 5 rows), a 1-row total broadcast, and a window over the ≤ 5
    * allocation rows — nothing downstream of the first aggregate
    * scales with the corpus. sd is one IEEE sqrt; shares are fixed-
    * order double divisions; the rounding is integer-exact. */
  def sampleNeymanAllocation(spark: SparkSession, dir: String,
      budget: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_h"), sum(col("v3")).as("s1"),
        sum(col("v3") * col("v3")).as("s2"))
      .select(col("event_type"), col("n_h"),
        // population sd on the ×10³ scale: √((N·Σv² − (Σv)²)/N²)/10³;
        // the N·Σv² cross-term squares the stratum size in and crossed
        // 2⁶³ at the x10 corpus — the moment combination rides
        // DECIMAL(38,0)/HUGEINT while the shuffled sums stay BIGINT
        (sqrt((col("n_h").cast(dec38) * col("s2")
          - col("s1").cast(dec38) * col("s1"))
          .cast("double")) / col("n_h").cast("double") / lit(1e3))
          .as("sd"))
      .withColumn("mass", col("n_h").cast("double") * col("sd"))
    // tmass folds the ≤5 stratum masses in SORTED (event_type) order —
    // an unordered double sum() would be engine-order-dependent in the
    // last ulp, and a flipped ulp here could flip an integer allocation
    // at a floor/remainder boundary
    val tot = m.agg(expr(
      """aggregate(transform(array_sort(collect_list(
        |  struct(event_type, mass))), s -> s.mass), 0D, (a, x) -> a + x)"""
        .stripMargin).as("tmass"))
    val ideal = m.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_h"), col("sd"),
        (lit(budget.toDouble) * (col("mass") / col("tmass"))).as("ideal"))
      .withColumn("n_floor", floor(col("ideal")).cast("long"))
      .withColumn("rem", col("ideal") - col("n_floor").cast("double"))
    val leftover = ideal.agg((lit(budget) - sum(col("n_floor"))).as("lo"))
    val w = Window.orderBy(col("rem").desc, col("event_type"))
    ideal.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(w))
      .select(col("event_type"), col("n_h"), col("sd").cast("float").as("sd"),
        col("ideal").cast("float").as("ideal"),
        (col("n_floor") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
          .as("n_alloc"))
      .orderBy(col("event_type"))
  }

  /** Fixed-size deterministic sample per group — k rows per event_type in
    * md5 order (uniform "random" but reproducible across engines, runs,
    * and partitionings). Two-phase for scale: low-cardinality groups make
    * a single per-group window one task per group over n/k rows, so
    * phase 1 takes each (group, salt) slice's local top-k (parallel,
    * bounded) and phase 2 re-ranks only the surviving salts·k candidate
    * rows per group — provably the same rows as a single global window
    * (every global top-k row is in its salt's local top-k; a spec
    * cross-checks). */
  def sampleTopkPerGroup(spark: SparkSession, dir: String,
      k: Int = 20, salts: Int = 8): DataFrame = {
    val h = TokenHash.hash60(concat(col("event_id").cast("string"), lit(":smp")))
    val base = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"))
      .withColumn("h", h)
      .withColumn("salt", col("h") % salts)
    val w1 = Window.partitionBy(col("event_type"), col("salt"))
      .orderBy(col("h"), col("event_id"))
    val w2 = Window.partitionBy(col("event_type"))
      .orderBy(col("h"), col("event_id"))
    base
      .withColumn("local_rn", row_number().over(w1))
      .filter(col("local_rn") <= k)
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col("event_type"), col("rn").cast("int").as("rn"),
        col("event_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** The persisted normed-embeddings index: columns `(vec_id, embedding,
    * nrm = float_dot(e, e))` — the base [[sampleKcenterCoreset]]'s
    * rounds ride so round k never re-reads parquet or re-computes
    * self-dots. Built once per (session, corpus generation) and served
    * warm to every round. ~16 MB at sf0.1; at
    * cluster scale this is the canonical pre-computed auxiliary column
    * a vector table carries anyway. */
  private def normedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    IndexCache(spark, "similarity.norms", dir,
      Seq(s"$dir/embeddings.parquet"))(
      table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          call_function("float_dot", col("embedding"), col("embedding"))
            .as("nrm"))
        .persist())(_.unpersist(false))
  }

  /** Greedy k-center (farthest-point) coreset selection: starting from
    * a seed vector, each round picks the point FARTHEST from every
    * already-chosen center (max of min squared L2) — the 2-approximate
    * k-center cover that data-selection pipelines use to pick a small,
    * diverse, representative training subset (and ANN indexes use to
    * seed balanced cells). `dist2` is the selection radius: its
    * monotone decrease is the coverage-guarantee curve.
    *
    * Exactness: d² = ‖a‖² + ‖b‖² − 2·a·b from three float_dot calls in
    * one fixed parenthesization; min/max over exact doubles with id
    * tie-breaks — no libm, hash-exact as raw DOUBLEs.
    *
    * Scale shape: per round ONE map-only single-stage job — a scan of
    * the persisted [[normedEmbeddings]] index where the chosen panel
    * (≤ k centers, each a 64-float embedding + its norm) is inlined as
    * LITERALS, the min-over-centers is a per-row `least(...)` (no
    * crossJoin, no groupBy shuffle, no broadcast exchange), and the
    * argmax is a TakeOrdered(1) whose single row is collected. Every
    * round's plan is the same constant-size shape, so round k never
    * re-executes rounds 1..k−1 — the materialize-between-rounds
    * discipline of [[graft.query.Graph]]'s `bfsDistances` and the
    * `dedup_semantic` panel. (Unioning lazy lineage here instead, each
    * round referencing the previous rounds' plans twice, multiplies
    * leaf scans ~3^k and was a measured 179 s at sf0.1 before this
    * form — r12 verdict; this form is k map-only scans, full stop.)
    * `least` over exact doubles is order-independent, so the inlined
    * min is bit-identical to the former min aggregate. */
  def sampleKcenterCoreset(spark: SparkSession, dir: String,
      k: Int = 8, seedId: Long = 0L): DataFrame = {
    graft.GraftExtensions.register(spark)
    val base = normedEmbeddings(spark, dir)
    // EAGER by design: this function runs up to k Spark jobs (the seed
    // lookup + one TakeOrdered per round) BEFORE the caller executes
    // the returned DataFrame — the returned panel is driver-held data,
    // not a lazy plan, so plan-inspection tooling will not see the
    // corpus scans. A missing seed fails here with a clear message
    // rather than an opaque NoSuchElementException.
    val seed = base.filter(col("vec_id") === seedId)
      .select(col("embedding"), col("nrm")).take(1).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"sample_kcenter_coreset: seed vector $seedId not found in $dir/embeddings"))
    // driver-held chosen panel: (id, order, dist2, embedding, ‖c‖²)
    val picked = scala.collection.mutable.ArrayBuffer(
      (seedId, 1, 0.0, seed.getSeq[Float](0).toArray, seed.getDouble(1)))
    var exhausted = false
    for (step <- 2 to k if !exhausted) {
      val ids = picked.map(t => Long.box(t._1)).toSeq
      val md2 = picked.map { c =>
        col("nrm") + lit(c._5) - lit(2.0) *
          call_function("float_dot", col("embedding"),
            lit(c._4.map(Float.box)))
      }.reduceLeft(least(_, _))
      base
        .filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          md2.as("md2"))
        .orderBy(col("md2").desc, col("vec_id")).limit(1)
        .take(1).headOption match {
        case Some(row) =>
          picked += ((row.getLong(0), step, row.getDouble(3),
            row.getSeq[Float](1).toArray, row.getDouble(2)))
        case None => exhausted = true // corpus smaller than k: degrade to fewer centers
      }
    }
    import spark.implicits._
    picked.toSeq.map(t => (t._1, t._2, t._3))
      .toDF("vec_id", "pick_order", "dist2")
      .orderBy(col("pick_order"))
  }
}
