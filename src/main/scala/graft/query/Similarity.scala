package graft.query

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** The ANN family: similarity search, retrieval and embedding
  * diagnostics over the `embeddings` table (unit-norm 64-dim float
  * vectors ⇒ cosine = dot product).
  *
  * Three tiers:
  *   - [[bruteForceTopK]]: exact one-pass scan — the correctness baseline.
  *     O(n·d) work, TakeOrdered top-k (no global sort, no shuffle of
  *     vectors). This is also the right plan at 100 TB when k is small:
  *     each partition reduces to k candidates before the driver merge.
  *   - [[ivfTopK]]: IVF — KMeans coarse quantizer (seed 42), probe the
  *     `nProbe` nearest centroids, exact re-rank inside probed cells.
  *     Scan cost drops to ~nProbe/k of the corpus; partition by cell at
  *     scale so a probe touches only matching partitions.
  *   - LSH bucketing (shared with [[Dedup.dedupEmbeddingCosine]]) for the
  *     pairwise-join form of the problem.
  */
object Similarity {

  /** Dot product in double, sequential fold (bit-reproducible). Kept as the
    * built-in-composition reference; hot paths use the codegen'd
    * [[graft.functions.FloatVecDot]] with identical numerics. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** The query vector: embedding of `queryId` (driver fetch of ONE row —
    * the query literal, not data movement). */
  private def queryVector(spark: SparkSession, dir: String, queryId: Long): Array[Float] =
    table(spark, dir, "embeddings")
      .filter(col("vec_id") === queryId)
      .select(col("embedding"))
      .head().getSeq[Float](0).toArray

  /** Exact cosine top-k against the embedding of `queryId`. */
  def bruteForceTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    graft.GraftExtensions.register(spark)
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Binary-code Hamming top-k — the RAM-efficiency tier of the ANN
    * family: each vector compresses to a 60-bit SIGN code (bit i set
    * iff dim i+1 > 0; 60 bits keeps the code positive in a signed
    * BIGINT on both engines, the [[TokenHash.hash60]] rule), and
    * similarity is popcount(xor) — 64× smaller than float vectors and
    * a single CPU instruction per comparison, the regime binary
    * embeddings / Matryoshka-binarized indexes run at billion scale.
    * Top-k per probe over the first `probes` vectors, distance ties
    * broken by vec_id.
    *
    * Exactness: codes and distances are pure integers — nothing to
    * round anywhere.
    *
    * Scale shape: code construction is map-only; probing broadcasts
    * the ≤`probes` code panel against the code column (never the
    * reverse) and the per-probe top-k is a window over the panel-keyed
    * fanout — probes×corpus rows of (BIGINT, BIGINT), the cheapest
    * possible brute force. The certified sub-linear path at 100 TB is
    * multi-index hashing (split the code into 4×15-bit bands, bucket
    * join on any-band equality — the MinHash banding machinery on
    * integer slices); this operator is its exact-reference tier. */
  def annHammingTopK(spark: SparkSession, dir: String, probes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = 60
    val code = expr(
      s"aggregate(sequence(0, ${bits - 1}), 0L, " +
        "(acc, i) -> acc + IF(element_at(embedding, i + 1) > 0F, " +
        "shiftleft(1L, i), 0L))")
    val coded = table(spark, dir, "embeddings")
      .select(col("vec_id"), code.as("code"))
    val probePanel = coded.filter(col("vec_id") < probes)
      .select(col("vec_id").as("probe_id"), col("code").as("pcode"))
    val ranked = coded
      .join(broadcast(probePanel), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("pcode"))).as("hamming"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("hamming"), col("vec_id"))))
      .filter(col("rank") <= k)
    ranked.select(col("probe_id"), col("rank"), col("vec_id"),
        col("hamming").cast("int").as("hamming"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Multi-index-hashing Hamming search — [[annHammingTopK]]'s
    * certified sub-linear path made real: the 60-bit sign code splits
    * into 4 disjoint 15-bit bands indexed separately; a candidate is
    * any vector sharing ≥ 1 band with the probe, and only candidates
    * pay the full popcount rerank. Pigeonhole guarantee: a code within
    * Hamming distance 3 of the probe cannot differ in all 4 bands, so
    * every ≤3-distance neighbor is RECALLED BY CONSTRUCTION (the
    * Norouzi–Punjani–Fleet MIH contract); farther vectors appear only
    * if they happen to collide. Emits the per-probe candidate count
    * beside the top-k so the pruning ratio is auditable in the output.
    *
    * Scale shape: the band index is ONE map-only projection + a
    * 4-way-fanout equi-join on (band_slot, band_value) — the MinHash
    * banding machinery on integer slices; candidates per probe are a
    * vanishing fraction of the corpus at real code entropy, and the
    * rerank touches only them. Pure integers end to end.
    *
    * The declared corpus plants two near-duplicates per probe (1 and 3
    * sign flips — the dedup_simhash planted-corpus idiom): random sign
    * codes have no ≤3-distance neighbors, so without plants the
    * guarantee would be vacuously exercised; with them, every planted
    * neighbor MUST surface (pigeonhole) and the spec pins it. */
  def annHammingMih(spark: SparkSession, dir: String, probes: Int = 5,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = 60
    val code = expr(
      s"aggregate(sequence(0, ${bits - 1}), 0L, " +
        "(acc, i) -> acc + IF(element_at(embedding, i + 1) > 0F, " +
        "shiftleft(1L, i), 0L))")
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probeRows = emb.filter(col("vec_id") < probes)
    val plant1 = probeRows.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> IF(i = 3, -x, x))")
        .as("embedding"))
    val plant3 = probeRows.select(
      (col("vec_id") + 2000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "IF(i = 3 OR i = 13 OR i = 23, -x, x))").as("embedding"))
    val coded = emb.unionAll(plant1).unionAll(plant3)
      .select(col("vec_id"), code.as("code"))
    def bands(c: Column): Column = array((0 until 4).map(j =>
      struct(lit(j).as("slot"),
        shiftright(c, 15 * j).bitwiseAND(lit(0x7fffL)).as("band"))): _*)
    val corpusBands = coded
      .select(col("vec_id"), col("code"), explode(bands(col("code"))).as("b"))
      .select(col("vec_id"), col("code"),
        col("b.slot").as("slot"), col("b.band").as("band"))
    val probeBands = coded.filter(col("vec_id") < probes)
      .select(col("vec_id").as("probe_id"), col("code").as("pcode"),
        explode(bands(col("code"))).as("b"))
      .select(col("probe_id"), col("pcode"),
        col("b.slot").as("slot"), col("b.band").as("band"))
    val cands = corpusBands
      .join(broadcast(probeBands), Seq("slot", "band"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("code"), col("pcode"))
      .distinct()
    val scored = cands
      .select(col("probe_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("pcode"))).as("hamming"))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("probe_id"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("hamming"), col("vec_id"))))
      .filter(col("rank") <= k)
    scored.select(col("probe_id"), col("rank"), col("vec_id"),
        col("hamming").cast("int").as("hamming"), col("n_candidates"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Radius (range) similarity search: every vector with cosine ≥ `tau`
    * to the query vector — the recall-guaranteed form of similarity
    * search (dedup gating, near-duplicate retrieval, compliance "find
    * everything this close") that top-k cannot express because the
    * result size is the data's, not the caller's.
    *
    * Scale shape: one map-only scan with the codegen'd float_dot —
    * vectors never shuffle, the radius filter is a scan-side predicate,
    * and the per-partition result is final (no merge step at all,
    * unlike top-k's driver-side k-way merge). This exact scan IS the
    * certified-recall path at 100 TB; when a recall < 1 contract
    * allows, the sign-LSH bucket prefilter ([[lshTopK]]'s machinery)
    * prunes partitions first. */
  def annRadiusSearch(spark: SparkSession, dir: String, queryId: Long = 0L,
      tau: Double = 0.15): DataFrame = {
    graft.GraftExtensions.register(spark)
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), expr("float_dot(embedding, qv)").as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("vec_id"))
  }

  // one coarse quantizer per (session, test dir, embeddings generation),
  // analogous to ModelStore
  private def quantizer(spark: SparkSession, dir: String, nCells: Int): KMeansModel =
    IndexCache(spark, "similarity.kmeans", (dir, nCells),
        Seq(s"$dir/embeddings.parquet")) {
      // Standard IVF practice: the coarse quantizer trains on a corpus
      // SAMPLE (deterministic hash-sample, ~2k vectors is plenty for 16
      // centroids), then the full corpus is assigned. Full-corpus
      // kmeans|| (init = 2 extra passes + a collect) was the dominant
      // cost of ivfTopK and buys nothing at quantizer granularity;
      // random init over the sample with a fixed seed is deterministic.
      val emb = table(spark, dir, "embeddings")
      val sample = emb
        .filter(pmod(xxhash64(col("vec_id")), lit(32)) === 0)
        .select(array_to_vector(col("embedding")).as("features"))
      val trainSet =
        if (sample.limit(nCells * 4).count() >= nCells * 4L) sample
        else emb.select(array_to_vector(col("embedding")).as("features"))
      new KMeans().setK(nCells).setSeed(42).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(trainSet)
    }(_ => ())

  /** LSH-bucketed top-k (oracle-exact ANN): every vector gets a
    * `numPlanes`-bit sign bucket from hash60-derived random hyperplanes
    * (the same deterministic family as
    * [[Dedup.dedupEmbeddingCosine]] — DuckDB replays planes, buckets,
    * and dot products bit-identically); at query time probe every
    * bucket within Hamming distance `maxHamming` of the query's bucket
    * (multi-probe: sign flips near a hyperplane are the common miss)
    * and re-rank exactly inside the probed buckets. Unlike the KMeans
    * IVF path there is NO training step; bucket assignment is a
    * map-only projection, and at scale the table is partitioned by
    * bucket so a probe touches ~(probed buckets / 2^numPlanes) of the
    * corpus. */
  def lshTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, numPlanes: Int = 8, maxHamming: Int = 1): DataFrame = {
    graft.GraftExtensions.register(spark)
    val dim = 64
    val planes: Seq[Array[Double]] = (0 until numPlanes).map(p =>
      Array.tabulate(dim)(i =>
        graft.functions.SimHashImpl.hash60(s"$p:$i".getBytes("UTF-8")).toDouble
          / 576460752303423488.0 - 1.0)) // 2^59, as dedupEmbeddingCosine
    val qv = queryVector(spark, dir, queryId).map(_.toDouble)
    // query bucket: same sequential-fold dot product the engines use
    val qBucket = planes.zipWithIndex.map { case (plane, p) =>
      var s = 0.0; var j = 0
      while (j < dim) { s += plane(j) * qv(j); j += 1 }
      if (s >= 0) 1L << p else 0L
    }.sum
    val signBits = (0 until numPlanes).map { p =>
      when(expr(s"float_dot(embedding, plane_$p)") >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val emb = planes.zipWithIndex.foldLeft(
        table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))) {
        case (df, (plane, p)) =>
          df.withColumn(s"plane_$p", array(plane.toIndexedSeq.map(lit): _*))
      }
      .withColumn("bucket", signBits)
    val q = array(qv.toIndexedSeq.map(x => lit(x.toFloat)): _*)
    emb
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= maxHamming)
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), col("bucket"),
        expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-label embedding centroids, emitted as (label, pos, component)
    * rows: the class-prototype computation behind nearest-centroid
    * classification, cluster drift monitoring, and IVF-style coarse
    * quantization — expressed as a plain aggregate so it stays
    * oracle-exact (no KMeans internals).
    *
    * Scale shape: posexplode fans each vector to 64 (label, pos, value)
    * rows that partial-aggregate map-side down to |labels|·64 cells —
    * the shuffle carries only the per-partition partial sums, never the
    * vectors. Component means are computed in double and cast to float32
    * (group-sum order is engine-dependent in the last double ulp; the
    * REAL cast absorbs it — and downstream consumers get exactly these
    * float values, so both engines agree bit-for-bit). */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        avg(col("x").cast("double")).cast("float").as("centroid"))
      .orderBy(col("label"), col("pos"))

  /** Nearest-centroid classification: assign every vector to the label
    * whose centroid (from [[embeddingCentroids]] — float32 components,
    * so both engines fold identical values) has the highest dot product.
    * The |labels| centroid arrays are rebuilt from the aggregate rows
    * (sort-by-position transform) and BROADCAST; the corpus scan is
    * map-only — one codegen'd float_dot per (vector, label) and a 10-way
    * per-row argmax, no shuffle of embeddings at any scale. Ties break
    * on label asc (exact float compares make ties reproducible). */
  def centroidClassify(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val centroidArrs = embeddingCentroids(spark, dir)
      .groupBy(col("label").as("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        x => x.getField("centroid")).as("c_vec"))
    table(spark, dir, "embeddings")
      .crossJoin(broadcast(centroidArrs))
      .withColumn("cosine", expr("float_dot(embedding, c_vec)"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cosine"),
        (-col("c_label")).as("neg"))).as("best"))
      .select(col("vec_id"), col("label"),
        (-col("best.neg")).as("pred_label"),
        col("best.cosine").cast("float").as("best_cosine"))
      .withColumn("correct", col("pred_label") === col("label"))
      .orderBy(col("vec_id"))
  }

  /** IVF top-k: assign every vector to its nearest of `nCells` centroids
    * (KMeans, deterministic seed); at query time probe the `nProbe`
    * centroids nearest to the query and re-rank exactly within them.
    *
    * Correctness witness note: this query stays rows-only in the driver
    * gate BY DESIGN — the cell assignment depends on Spark ML KMeans
    * internals no SQL engine replays. The oracle-exact ANN witness is
    * [[lshTopK]] (hash-exact vs DuckDB); IVF's contract is pinned by
    * specs instead: nProbe = nCells degenerates to exactly the brute-force
    * top-k, and partial probes return only probed-cell ids (recall@k
    * behavior) — see NorthStarSpec "ann IVF". */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val model = quantizer(spark, dir, nCells)
    val qv = queryVector(spark, dir, queryId).map(_.toDouble)
    val probes = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val arr = c.toArray
        var s = 0.0; var j = 0
        while (j < arr.length) { s += arr(j) * qv(j); j += 1 }
        (i, s)
      }
      .sortBy(-_._2).take(nProbe).map(_._1)
    graft.GraftExtensions.register(spark)
    val q = array(qv.toIndexedSeq.map(x => lit(x.toFloat)): _*)
    val assigned = model.transform(
      table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          array_to_vector(col("embedding")).as("features")))
    assigned
      .filter(col("cell").isin(probes.toIndexedSeq: _*))
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), col("cell"), expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic-cell IVF top-k — the same coarse-quantize → probe →
    * exact-re-rank machinery as [[ivfTopK]], with the KMeans quantizer
    * replaced by a DETERMINISTIC one so the whole pipeline is
    * DuckDB-oracle exact (the [[annPqAdcTopk]] trick applied to
    * the cell stage):
    *
    *   - seed panel: the `nCells` corpus vectors ranked first by
    *     md5-hash of their id ([[TokenHash.hash60]] — a deterministic
    *     pseudo-random draw both engines replay) serve as cell anchors,
    *     i.e. Forgy initialization without the Lloyd iterations;
    *   - assignment: every vector joins the broadcast seed panel and
    *     takes argmax dot (ties → lower cell) — one map-side-combined
    *     aggregation, never a window over the ×nCells fanout;
    *   - probe: the `nProbe` cells whose anchors score highest against
    *     the query; re-rank is exact within probed cells only.
    *
    * The KMeans variant stays registered for recall realism; this one
    * gives the approximate path a hash-exact CORRECTNESS row. At scale
    * the corpus is written partitioned by cell, so a probe reads
    * nProbe/nCells of the data — identical layout story to [[ivfTopK]].
    */
  /** Deterministic seed panel: the `nCells` corpus vectors ranked first
    * by md5-hash of their id, with stable 0-based cell ids. TakeOrdered
    * top-nCells (no global sort), then a single-partition row_number
    * over nCells rows. Shared by [[ivfDetTopK]] and the IVF-PQ
    * composite ([[annIvfPqTopk]]). */
  private def detSeeds(spark: SparkSession, dir: String,
      nCells: Int): DataFrame = {
    graft.GraftExtensions.register(spark)
    seedPanel(table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")), nCells)
  }

  /** The `nCells` rows of `emb` (vec_id, embedding) ranked first by
    * md5-hash of their id, as (seed_vid, seed_e, cell) with stable
    * 0-based cell ids — the md5-ranked Forgy anchors every IVF path
    * seeds from. */
  private def seedPanel(emb: DataFrame, nCells: Int): DataFrame =
    emb
      .orderBy(TokenHash.hash60(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("seed_vid"), col("embedding").as("seed_e"))
      .withColumn("cell",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(TokenHash.hash60(col("seed_vid").cast("string")),
            col("seed_vid"))) - 1).cast("long"))

  /** Deterministic cell assignment: every vector's argmax-dot seed
    * (ties → lower cell) — one map-side-combined aggregation over the
    * broadcast seed panel. */
  private def detCellAssignment(spark: SparkSession, dir: String,
      nCells: Int): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb
      .crossJoin(broadcast(detSeeds(spark, dir, nCells)))
      .withColumn("dp", expr("float_dot(embedding, seed_e)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("dp"), (-col("cell")).as("negc"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), (-col("best.negc")).as("cell"))
  }

  /** The `nProbe` cells whose seed anchors score highest against the
    * query vector (ties → lower cell). */
  private def detProbes(spark: SparkSession, dir: String,
      queryId: Long, nCells: Int, nProbe: Int): DataFrame = {
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    detSeeds(spark, dir, nCells)
      .withColumn("qv", q)
      .withColumn("qdp", expr("float_dot(seed_e, qv)"))
      .orderBy(col("qdp").desc, col("cell"))
      .limit(nProbe)
      .select(col("cell"))
  }

  /** Deterministic-Forgy LLOYD'S IVF top-k: the full k-means training
    * loop — Forgy init from [[detSeeds]]' md5-ranked anchors, then
    * `iters` genuine Lloyd refinements (assign to nearest centroid →
    * recompute centroids from members) — followed by the standard
    * probe + exact-re-rank tail. This is what [[ivfTopK]]'s MLlib
    * KMeans does, re-expressed so EVERY step is cross-engine exact and
    * the query earns a hash-exact oracle row (r13 verdict #3: the
    * KMeans variant was the last non-RF allowlist member):
    *
    *   - centroid components are exact integer-rational means — member
    *     components quantize to ×10³ longs, sum order-free, and the
    *     single double division + float cast lands identical bits in
    *     any engine (the emb_covariance_int discipline);
    *   - per-iteration assignment scores every vector against the ≤
    *     nCells centroid panel INLINED AS LITERALS (the
    * [[graft.query.stats.Sampling.sampleKcenterCoreset]] scalar-plan-constant
    * discipline):
    *     map-only, no join, argmax via one `greatest` over (dot, −cell)
    *     structs so ties break to the lower cell exactly like the
    *     oracle's row_number;
    *   - the centroid recompute is ONE map-side-combined (cell, dim)
    *     aggregation per iteration whose ≤ nCells·dims rows land on
    *     the driver — constant-size panels, jobs linear in `iters`.
    *
    * EAGER like [[graft.query.stats.Sampling.sampleKcenterCoreset]]: the
    * training loop runs 2·iters jobs before the returned DataFrame executes. At
    * 100 TB the same loop holds — the panel is still nCells·dims no matter the
    * corpus, and each iteration is one scan + one combine. */
  def ivfLloydTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
      iters: Int = 2): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    // assignment against a literal centroid panel: argmax dot, ties →
    // lower cell (max of (dp, −cell) structs)
    def assign(panel: Seq[(Long, Array[Float])]): DataFrame = {
      val structs = panel.map { case (c, v) =>
        struct(
          call_function("float_dot", col("embedding"),
            lit(v.map(Float.box))).as("dp"),
          lit(-c).as("negc"))
      }
      emb.withColumn("best", greatest(structs: _*))
        .select(col("vec_id"), col("embedding"),
          (-col("best.negc")).as("cell"))
    }

    // exact integer-rational centroids of an assignment: ×10³-quantized
    // per-dim member sums (order-free), one double division, float cast
    def centroidPanel(assigned: DataFrame): Seq[(Long, Array[Float])] =
      assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg(sum(round(col("x").cast("double") * lit(1000.0)).cast("long"))
          .as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1))
            .map(r => (r.getLong(2).toDouble / (1000.0 * r.getLong(3)))
              .toFloat).toArray
        }
        .toSeq.sortBy(_._1)

    var assigned = detCellAssignment(spark, dir, nCells)
    var panel = Seq.empty[(Long, Array[Float])]
    for (_ <- 1 to iters) {
      panel = centroidPanel(assigned)
      assigned = assign(panel)
    }
    // probe selection replays float_dot's exact fold driver-side
    val qv = queryVector(spark, dir, queryId)
    def dotf(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val probes = panel.map { case (c, v) => (c, dotf(v, qv)) }
      .sortBy { case (c, s) => (-s, c) }.take(nProbe).map(_._1)
    val q = array(qv.toIndexedSeq.map(lit): _*)
    assigned
      .filter(col("cell").isin(probes.map(Long.box): _*))
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), col("cell"),
        expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  def ivfDetTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    graft.GraftExtensions.register(spark)
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    detCellAssignment(spark, dir, nCells)
      .join(broadcast(detProbes(spark, dir, queryId, nCells, nProbe)),
        Seq("cell"))
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"), col("cell"),
        expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Filtered vector search: exact cosine top-k among only the vectors
    * passing a metadata predicate (here `label % 2 = 0`) — the
    * "filtered ANN" query every vector store serves (search within a
    * tenant / date range / doc type).
    *
    * The predicate applies BEFORE scoring — pre-filtering keeps top-k
    * semantics exact (post-filtering an unfiltered top-k silently
    * returns < k or misses qualifying neighbors). At 100 TB the same
    * shape holds over the bucketed/IVF layouts: push the predicate into
    * the per-bucket scan, then score survivors only; with partition
    * pruning on the predicate column the scan skips non-qualifying
    * files entirely. Map-only scoring + TakeOrdered — no global sort,
    * no shuffle of scores. */
  def annFilteredTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    graft.GraftExtensions.register(spark)
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId && pmod(col("label"), lit(2)) === 0)
      .withColumn("qv", q)
      .select(col("vec_id"), col("label"),
        expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF): the standard
    * way a curation/RAG pipeline merges LEXICAL (BM25) and SEMANTIC
    * (embedding-cosine) rankings without score calibration — fused
    * score = Σ 1/(rrfK + rank) over the rankings that retrieved the
    * doc (Cormack et al.'s rank-based fusion; rrfK=60 is the
    * conventional damping).
    *
    * Text side: per-doc BM25 summed over the fixed query terms; each
    * term's score lands in its own column and the sum is a FIXED-ORDER
    * chain of double adds (coalesce(t1,0)+coalesce(t2,0)+…), so both
    * engines — and the oracle — evaluate bit-identical doubles (a
    * groupBy sum's order is engine-dependent in the last ulp; a rank
    * flip there would change the output). Vector side: the
    * [[bruteForceTopK]] scan against vec_id 0. Ranks are row_numbers
    * with doc-id tiebreaks, so every downstream value is exact-integer
    * derived.
    *
    * Scale shape: both arms end in a top-`poolK` reduce (window over
    * score — at 100 TB the BM25 arm is the inverted-index/impact-ordered
    * scan and the ANN arm any index in this file; the fusion join then
    * touches 2·poolK ROWS TOTAL, broadcast regardless of corpus size.
    * Nothing in the fusion step scales with the data. */
  def retrievalRrfHybrid(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("table", "join", "query"),
      queryId: Long = 0L, poolK: Int = 20, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    // term statistics probe the shared persisted token index
    // ([[TokenHash.tokenTf]]) — the BM25 arm touches the query
    // terms' index rows plus one tiny dl aggregate, never re-tokenizing
    // the corpus (df for a term == docs with tf>0, recoverable from the
    // filtered index). The two scalar corpus constants (N, avgdl) are
    // driver-fetched ONCE and inlined as literals — query constants,
    // not data movement (the [[queryVector]] convention); as literals
    // they are the same doubles either engine computes, and two 1-row
    // crossJoin stages drop out of the plan.
    val dl = TokenHash.docLengths(spark, dir)
    // N counts DOCUMENTS (the oracle's count(*) FROM documents), not dl
    // rows; avgdl is an exact-integer sum / count, identical doubles in
    // either engine — both served from the fingerprint-keyed scalar
    // cache (no per-call driver jobs)
    val (nDocs, avgdlV) =
      graft.query.Similarity.corpusConstants(spark, dir)
    val tf = TokenHash.tokenTf(spark, dir)
      .filter(col("tok").isin(queryTerms: _*))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = log((lit(nDocs) - col("df") + lit(0.5))
      / (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
      + lit(0.75) * col("dl") / lit(avgdlV))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("tok"),
        (idf * col("tf") * lit(2.2) / norm).as("bm25"))
    // one column per query term via conditional aggregation (a single
    // doc-keyed shuffle — no outer-join chain), fused in declaration
    // order so the double adds are bit-identical in both engines; max
    // over the singleton (doc, term) score is the score itself
    val perDoc = scored.groupBy(col("doc_id")).agg(
      queryTerms.zipWithIndex.map { case (t, i) =>
        max(when(col("tok") === t, col("bm25"))).as(s"s_$i")
      }.head,
      queryTerms.zipWithIndex.tail.map { case (t, i) =>
        max(when(col("tok") === t, col("bm25"))).as(s"s_$i")
      }: _*)
    val joined = perDoc
    val textScore = queryTerms.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0)))
      .reduce(_ + _)
    // top-poolK FIRST via orderBy+limit (TakeOrderedAndProject — a
    // per-partition k-reduce, never a global sort), so the ranking
    // row_number window runs over ≤ poolK rows, not the corpus
    val textPool = joined
      .select(col("doc_id"), textScore.as("text_score"))
      .orderBy(col("text_score").desc, col("doc_id"))
      .limit(poolK)
    val textRank = textPool
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("text_score").desc, col("doc_id"))))
      .select(col("doc_id"), col("text_rank").cast("long").as("text_rank"))
    val q = array(queryVector(spark, dir, queryId).toIndexedSeq.map(lit): _*)
    val vecPool = table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id").as("doc_id"),
        expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(poolK)
    val vecRank = vecPool
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id"))))
      .select(col("doc_id"), col("vec_rank").cast("long").as("vec_rank"))
    textRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .cast("float").as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** JL-accelerated top-k: rank the corpus by dot product in the
    * [[graft.functions.JlProject]] 16-dim space (4× cheaper per
    * candidate than full-dim — and at index scale, 4× less memory
    * traffic), keep the top `k`·`candMult` candidates, then re-rank
    * EXACTLY in the original space and return the top `k` — the
    * approximate-rank → exact-re-rank pattern shared with
    * `ann_pq_adc_topk`. Both stages are TakeOrdered (no global sort);
    * the projected query vector is computed on the driver from the
    * same cached plane matrix the executors use, so the whole
    * pipeline — planes, projections, both rankings — replays
    * bit-exactly in the SQL oracle. Recall vs brute force is pinned by
    * spec; misses are exactly the true-top-k members whose projected
    * rank falls outside the candidate set (JL distortion). */
  def annJlTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, outDim: Int = 16, candMult: Int = 8): DataFrame = {
    graft.GraftExtensions.register(spark)
    val qv = queryVector(spark, dir, queryId)
    val planes = graft.functions.JlProjectImpl.planes(outDim, qv.length)
    val qProj = planes.map { p =>
      var s = 0.0; var i = 0
      while (i < qv.length) { s += qv(i).toDouble * p(i); i += 1 }
      s
    }
    val cand = table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .withColumn("pq", typedLit(qProj.toIndexedSeq))
      .select(col("vec_id"), col("embedding"),
        expr(s"float_dot(jl_project(embedding, $outDim), pq)").as("cp"))
      .orderBy(col("cp").desc, col("vec_id"))
      .limit(k * candMult)
    cand
      .withColumn("qv", array(qv.toIndexedSeq.map(lit): _*))
      .select(col("vec_id"), expr("float_dot(embedding, qv)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Johnson–Lindenstrauss reduced-dimension retrieval with an exact
    * recall audit: project every embedding 64→`outDim` dims through the
    * codegen'd [[graft.functions.JlProject]] (md5-derived planes a SQL
    * oracle replays bit-exactly), rank candidates per query vector in
    * BOTH the full and the projected space, and report per-query
    * `hits_at_k` — how many of the full-space top-k survive in the
    * projected top-k. Output is integer-only (robustness discipline).
    *
    * Scale shape: the projection is a map-only Project over the scan
    * (no shuffle, no plane literals in the plan); at corpus scale the
    * projected vectors are what the ANN index stores — outDim/dim of
    * the memory and dot-product cost (64→16 = 4×) with JL-bounded
    * distortion — and this query IS the offline recall audit a 100 TB
    * deployment runs on a sample before committing to the index. The
    * ranking here is brute-force on purpose (it audits the projection
    * alone, not a bucketing scheme); the query panel is broadcast and
    * the per-query top-k is window-ranked, shuffling (qid, vec_id,
    * two doubles) only. */
  def embJlRecall(spark: SparkSession, dir: String, outDim: Int = 16,
      nQueries: Int = 20, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr(s"jl_project(embedding, $outDim)").as("pe"))
    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("pe").as("pqe"))
    val scored = emb.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("float_dot(embedding, qe)").as("cf"),
        // projected-space score: float_dot's dotDD tight loop over the
        // two jl_project outputs — bit-identical to list_dot_product
        expr("float_dot(pe, pqe)").as("cp"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("cf").desc, col("vec_id"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cp").desc, col("vec_id"))
    scored
      .withColumn("rf", row_number().over(wf))
      .withColumn("rp", row_number().over(wp))
      .filter(col("rp") <= k)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("rf") <= k, 1L).otherwise(0L)).as("hits_at_k"))
      .orderBy(col("qid"))
  }

  /** Cell-occupancy balance of the deterministic-cell IVF quantizer:
    * vectors per cell and share of corpus — the index-health diagnostic
    * read before trusting [[annRecallCurve]]'s cost numbers (a skewed
    * quantizer makes nProbe meaningless: one hot cell IS the corpus).
    *
    * Scale shape: the argmax assignment is one broadcast join + one
    * map-side-combined aggregate; the histogram is nCells rows. */
  def embCellBalance(spark: SparkSession, dir: String,
      nCells: Int = 16): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val seeds = seedPanel(emb, nCells)
    val tot = emb.agg(count(lit(1)).as("n_total"))
    emb.crossJoin(broadcast(seeds))
      .withColumn("dp", expr("float_dot(embedding, seed_e)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("dp"), (-col("cell")).as("negc"))).as("best"))
      .select((-col("best.negc")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total").cast("double"))
          .as("share"))
      .orderBy(col("cell"))
  }

  /** Recall@k vs probe-count curve for the deterministic-cell IVF
    * index ([[ivfDetTopK]]'s quantizer): over a fixed query panel,
    * sweep nProbe ∈ {1, 2, 4, 8} of 16 cells in ONE plan and report
    * average recall against the exact top-k plus the average candidate
    * volume — the tuning curve that decides an ANN deployment's
    * recall/cost point. Deterministic end to end (md5-seeded anchors,
    * argmax cells, exact re-rank), so the whole sweep is
    * DuckDB-hash-exact — unusual for ANN evaluation, and exactly why
    * the det-cell variant exists beside the KMeans one.
    *
    * r21 measured-and-REVERTED: three one-pass variants (bounded
    * per-(query, cell) top-k partials re-merged into exact + every
    * probe level — selection under the (−score, id) total order is
    * associative — with the scores subtree built once and spread, and
    * seeds inlined as literals or as one HOF literal) all ran 1.3–1.7 s
    * at sf0.1/32 vs 0.59 s for this shape: the duplicated exact/
    * per-level subtrees OVERLAP on idle cores while every one-pass form
    * serializes behind checkpoint/collect jobs, inline seed literals
    * cost ~0.6 s of analyzer time, and the HOF-literal argmax trips an
    * AQE attribute-resolution bug at sf0.001. The two-consumer shape
    * stays; at a scale where two corpus scans dominate, reintroduce
    * the per-cell partial panel WITH a checkpoint (oracle-exact form
    * verified here).
    *
    * Scale shape: the panel×corpus score table is computed ONCE; both
    * the exact and per-level IVF top-k ride the map-side-combinable
    * [[graft.functions.TopKByScore]] aggregate (no ×levels rescan —
    * levels explode only the aggregation key); candidate volume per
    * level is a byproduct count. At 100 TB the corpus side is the
    * cell-partitioned layout and each level reads its probed cells. */
  def annRecallCurve(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 20, nCells: Int = 16): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // deterministic Forgy anchors (the ivfDetTopK seed panel)
    val seeds = seedPanel(emb, nCells)
    val assigned = emb
      .crossJoin(broadcast(seeds))
      .withColumn("dp", expr("float_dot(embedding, seed_e)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("dp"), (-col("cell")).as("negc"))).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("cell"))
    val panel = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // per-query cell ranking (which cells probe first)
    val cellRank = panel.crossJoin(broadcast(seeds))
      .withColumn("qdp", expr("float_dot(qe, seed_e)"))
      .select(col("qid"), col("cell"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("qdp").desc, col("cell"))).as("cell_rank"))
    // panel × corpus scores, each carrying its vector's probe rank
    val topk = udaf(new graft.functions.TopKByScore(k))
    val scores = emb.crossJoin(broadcast(panel))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("float_dot(embedding, qe)").as("dot"))
      .join(assigned, Seq("vec_id"))
      .join(broadcast(cellRank), Seq("qid", "cell"))
    val exact = scores.groupBy(col("qid"))
      .agg(topk(col("dot"), col("vec_id")).as("exact_ids"))
    val levels = Seq(1, 2, 4, 8)
    val perLevel = scores
      .crossJoin(broadcast(spark.range(1).select(
        explode(array(levels.map(lit): _*)).as("nprobe"))))
      .filter(col("cell_rank") <= col("nprobe"))
      .groupBy(col("nprobe"), col("qid"))
      .agg(topk(col("dot"), col("vec_id")).as("ivf_ids"),
        count(lit(1)).as("n_candidates"))
    perLevel.join(broadcast(exact), Seq("qid"))
      .select(col("nprobe"),
        size(array_intersect(col("ivf_ids"), col("exact_ids")))
          .cast("long").as("hits"),
        col("n_candidates"))
      .groupBy(col("nprobe"))
      .agg((sum(col("hits")).cast("double") /
          lit(k.toDouble * nQueries)).as("avg_recall"),
        (sum(col("n_candidates")).cast("double") / nQueries)
          .as("avg_candidates"))
      .orderBy(col("nprobe"))
  }

  /** Hard-negative mining for contrastive training: for each anchor in
    * a fixed panel (vec_id < `nAnchors`), the `k` most-similar corpus
    * vectors whose LABEL differs from the anchor's — the highest-loss
    * negatives a triplet/InfoNCE trainer wants in its batch.
    *
    * Scale shape: the anchor panel broadcasts (bounded, user-chosen);
    * one corpus scan scores all anchors with the codegen'd float_dot;
    * the per-anchor top-k is a rank-window with a `<= k` predicate, so
    * WindowGroupLimit keeps each map task's local top-k per anchor
    * before the (nAnchors-key) shuffle — corpus vectors never shuffle.
    * At recall<1 contracts the same sign-LSH bucket prefilter as
    * [[lshTopK]] prunes the scan first. */
  def annHardNegatives(spark: SparkSession, dir: String,
      nAnchors: Long = 10L, k: Int = 5): DataFrame = {
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
    val anchors = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"),
        col("embedding").as("anchor_emb"), col("label").as("anchor_label"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("vec_id"),
        expr("float_dot(embedding, anchor_emb)").as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Late-interaction (ColBERT-style) MaxSim retrieval: the query and
    * each document are viewed as `nSub` token-vectors (contiguous
    * `subDim`-dim slices of the stored embedding), and a document's
    * score is Σ over query tokens of the MAX dot against any document
    * token — the multi-vector scoring that beats single-vector cosine
    * on fine-grained relevance, scored here exactly, corpus-wide.
    *
    * Determinism: each slice dot is one [[graft.functions.FloatVecDot]]
    * (float→double products, index order), `greatest` is exact max, and
    * the i-sum is unrolled left-associated in both engines — every
    * score is the bit-identical double in Spark and the oracle.
    *
    * Scale shape: the query's token slices are literals broadcast into
    * a map-only corpus scan (all 64 slice-dots fuse into one
    * whole-stage-codegen projection — no explode, no shuffle of
    * vectors), and top-k is TakeOrdered (per-partition k-candidate
    * reduce, driver k-way merge). At 100 TB the same PLAID-style
    * recipe as single-vector ANN applies in front: sign-LSH buckets on
    * the full vector prune the scan, MaxSim re-ranks survivors. */
  def retrievalColbertMaxsim(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10, nSub: Int = 8): DataFrame = {
    graft.GraftExtensions.register(spark)
    val qArr = queryVector(spark, dir, queryId)
    val subDim = qArr.length / nSub
    def qSlice(i: Int): Column =
      array(qArr.slice(i * subDim, (i + 1) * subDim).toIndexedSeq.map(lit): _*)
    def dSlice(j: Int): Column = slice(col("embedding"), j * subDim + 1, subDim)
    val maxsim = (0 until nSub).map { i =>
      greatest((0 until nSub).map(j =>
        call_function("float_dot", dSlice(j), qSlice(i))): _*)
    }.reduce(_ + _)
    table(spark, dir, "embeddings")
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), maxsim.as("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id"))
      .limit(k)
  }

  /** Mutual-kNN graph over a bounded vector panel: edge (a, b) exists
    * iff b is in a's exact k-nearest AND a is in b's — the symmetric
    * neighborhood graph that seeds graph-based ANN indexes (HNSW
    * construction), density clustering, and duplicate-cluster
    * discovery, where mutuality prunes hub-induced false edges.
    *
    * Scale shape: the panel (vec_id < `maxId`) broadcasts against
    * itself — bounded by the caller, never corpus²; per-vector top-k is
    * a rank window with a `<= k` predicate (WindowGroupLimit keeps
    * map-local top-k before the a-key shuffle); mutuality is a
    * self-semi-join on the k·|panel|-row kNN set. At corpus scale the
    * same shape runs per LSH bucket (the [[Dedup.dedupEmbeddingCosine]]
    * banding) — candidates within buckets, exact kNN + mutual filter
    * inside — keeping candidate generation linear in occupancy-capped
    * buckets. */
  def annKnnGraphMutual(spark: SparkSession, dir: String,
      maxId: Long = 512L, k: Int = 5): DataFrame = {
    graft.GraftExtensions.register(spark)
    val sub = table(spark, dir, "embeddings")
      .filter(col("vec_id") < maxId)
    val pairs = sub.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(broadcast(sub.select(col("vec_id").as("b"),
        col("embedding").as("eb"))))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        call_function("float_dot", col("ea"), col("eb")).as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b"))
    val knn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a"), col("b"), col("cosine"))
    knn
      .join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"),
        "left_semi")
      .filter(col("a") < col("b"))
      .orderBy(col("a"), col("b"))
  }

  /** Maximal-marginal-relevance top-k: greedy diversified retrieval —
    * pick 1 = argmax relevance to the query; each later pick maximizes
    * `λ·rel − (1−λ)·max-sim-to-already-picked` over the remaining
    * pool. THE standard redundancy-killer between a similarity search
    * and a context window (RAG result diversification, near-dup-aware
    * retrieval). `score` is relevance for pick 1 and the MMR objective
    * for later picks.
    *
    * Scale shape: the corpus-sized work is exactly one brute-force
    * top-`pool` scan ([[bruteForceTopK]]'s TakeOrdered plan); one
    * further job computes the pool² pairwise dots (codegen'd
    * float_dot). Both land a ≤ pool-row / ≤ pool²-entry panel on the
    * driver, and the greedy unroll runs THERE — O(pool²·select) double
    * arithmetic on ≤ 10 rows, the same driver-held-panel discipline as
    * [[graft.query.stats.Sampling.sampleKcenterCoreset]]. The former DataFrame
    * fold referenced `selected` twice per round (the argmax join and the
    * left_anti), so its plan doubled per pick — harmless at depth 2 over a
    * broadcast pool, but the exact lazy-lineage recursion class that cost
    * `sample_kcenter_coreset` 179 s (r12); this form's plan is TWO
    * constant-size jobs regardless of `select` (pinned by the round-13
    * job-count spec). Numerics are unchanged: the collected rel/sim doubles are
    * the plan's own codegen'd values, and the driver replays the identical IEEE
    * ops (λ·rel − μ·msim, max with id tie-break) the Catalyst fold ran — the
    * spec's bit-exact replay still passes untouched.
    *
    * The diversity coefficient is an EXPLICIT parameter `mu`, not
    * `1.0 - lambda`: `1.0 - 0.7` rounds to 0.30000000000000004, one
    * ulp away from the literal 0.3 the oracle SQL and spec replay use,
    * so deriving it would make the hash-exact match corpus-dependent
    * (r12 advice). All three sites — this plan, the oracle SQL, the
    * spec replay — now share the same double literal. */
  def retrievalMmrTopk(spark: SparkSession, dir: String,
      queryId: Long = 0L, pool: Int = 10, select: Int = 3,
      lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    // lambda and mu are a PAIR (mu stands in for 1−lambda as an exact
    // literal — see the scaladoc); overriding one without the other
    // silently scores with inconsistent weights, so reject it here.
    require(math.abs(lambda + mu - 1.0) < 1e-9,
      s"retrieval_mmr_topk: lambda ($lambda) + mu ($mu) must sum to 1 " +
        "— mu is the exact-literal form of 1-lambda, pass both together")
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
    val pe = emb
      .join(broadcast(bruteForceTopK(spark, dir, queryId, pool)
        .withColumnRenamed("cosine", "rel")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("rel"))
    val rel = pe.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = pe.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(broadcast(pe.select(col("vec_id").as("b"),
        col("embedding").as("eb"))))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), expr("float_dot(ea, eb)").as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    // degrade gracefully to fewer picks when the realized pool is
    // smaller than `select` (small corpus / caller over-asks) — the
    // pre-r13 Catalyst fold did, and minBy on empty would throw
    (1 to select).takeWhile { step =>
      val cand = rel.keys.filterNot(id => selected.exists(_._1 == id))
      if (cand.isEmpty) false
      else {
        val scored = cand.map { id =>
          val score =
            if (step == 1) rel(id)
            else lambda * rel(id) -
              mu * selected.map(s => sim((id, s._1))).max
          id -> score
        }
        val (id, score) = scored.minBy { case (i, sc) => (-sc, i) }
        selected += ((id, step, score))
        true
      }
    }
    import spark.implicits._
    selected.toSeq.toDF("vec_id", "pick_order", "score")
      .orderBy(col("pick_order"))
  }

  /** HNSW-style layered ANN seed: every vector draws a level from a
    * deterministic geometric distribution (p = 1/16 per level, from the
    * cross-engine [[TokenHash.hash60]] of its id — the hash-derived stand-in
    * for HNSW's `floor(-ln(U)/ln(M))` draw), and each upper layer
    * ℓ ≥ 1 gets exact top-`m` neighbor edges among its members — the
    * coarse navigation skeleton a layered graph-ANN search descends
    * before handing off to the base layer (whose edges are
    * [[graft.query.TextAnalysis]]'s `ann_knn_graph_mutual`; this
    * operator deliberately emits layers ≥ 1 only).
    *
    * Scale shape: layer populations shrink geometrically (n/16^ℓ), so
    * the pairwise join is over ~n/16 rows at worst and the edge count
    * is m·n/16 — at bench scale a broadcast self-join; at 10⁹ vectors
    * layer 1 is ~6×10⁷ nodes, where the same top-m-per-src rides the
    * sign-LSH bucket machinery ([[lshTopK]]) instead of all-pairs —
    * the layer ASSIGNMENT (a map-only hash) and the edge schema are
    * unchanged, which is the contract this operator pins. Exactness:
    * levels are integer hash arithmetic; cosines are the codegen'd
    * float_dot doubles; ranks break ties by dst id. */
  def annHnswLayers(spark: SparkSession, dir: String,
      maxLevel: Int = 3, m: Int = 4): DataFrame = {
    graft.GraftExtensions.register(spark)
    val lv = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        TokenHash.hash60(col("vec_id").cast("string")).as("h"))
      .withColumn("level",
        when(col("h") % 4096 === 0, 3)
          .when(col("h") % 256 === 0, 2)
          .when(col("h") % 16 === 0, 1)
          .otherwise(0))
    val members = lv.filter(col("level") >= 1)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(1), least(col("level"), lit(maxLevel))))
          .as("layer"))
    val a = members.select(col("layer"), col("vec_id").as("src"),
      col("embedding").as("ea"))
    val b = members.select(col("layer"), col("vec_id").as("dst"),
      col("embedding").as("eb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("layer"), col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    a.join(broadcast(b), Seq("layer"))
      .filter(col("src") =!= col("dst"))
      .select(col("layer"), col("src"), col("dst"),
        expr("float_dot(ea, eb)").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select(col("layer"), col("src"), col("rank"), col("dst"),
        col("cosine"))
      .orderBy(col("layer"), col("src"), col("rank"))
  }

  /** Cross-encoder-shaped reranking: take the ANN top-`pool` for the
    * query, then re-score each (query, candidate) PAIR with an
    * interaction scorer over both texts — the standard two-stage
    * retrieval architecture (cheap recall pass over the corpus, an
    * expensive pairwise scorer over the bounded pool). The scorer here
    * is a deterministic feature blend — wCos·cosine +
    * wJac·token-Jaccard + wLen·length-ratio — standing in the exact
    * slot a learned cross-encoder occupies: scoring touches ONLY the
    * ≤ pool pairs, so swapping in a real model (a `mapInPandas` batch
    * scorer, the [[graft.query.Multimodal]] discipline) changes no
    * plan shape. This operator pins that plumbing: pool recall →
    * pair-text join → per-pair score → total rerank.
    *
    * Scale shape: corpus-sized work is exactly [[bruteForceTopK]]'s
    * one TakeOrdered scan; the candidate texts arrive by joining the
    * ≤ pool ids against `documents` (broadcast the ids, prune the
    * scan), and the rerank window sorts ≤ pool rows. Exactness: the
    * Jaccard is one division of exact integer set sizes (union =
    * |d| + |q| − |∩|, computed from counts so both engines agree),
    * the length ratio is an exact integer division, and the blend is
    * fixed-order double arithmetic. */
  def retrievalRerankCrossenc(spark: SparkSession, dir: String,
      queryId: Long = 0L, pool: Int = 10, wCos: Double = 0.6,
      wJac: Double = 0.3, wLen: Double = 0.1): DataFrame = {
    val cand = bruteForceTopK(spark, dir, queryId, pool)
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
    val qt = docs.filter(col("doc_id") === queryId)
      .select(array_distinct(col("toks")).as("qset"),
        size(col("toks")).as("qlen"))
    val feat = cand
      .join(docs.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"))
      .crossJoin(broadcast(qt))
      .select(col("vec_id"), col("cosine"),
        size(array_intersect(array_distinct(col("toks")), col("qset")))
          .as("ni"),
        size(array_distinct(col("toks"))).as("nd"),
        size(col("qset")).as("nq"),
        size(col("toks")).as("dlen"), col("qlen"))
    val scored = feat.select(col("vec_id"), col("cosine"),
      (col("ni").cast("double") /
        (col("nd") + col("nq") - col("ni")).cast("double")).as("jaccard"),
      (least(col("dlen"), col("qlen")).cast("double") /
        greatest(col("dlen"), col("qlen")).cast("double")).as("len_ratio"))
      .withColumn("score",
        lit(wCos) * col("cosine") + lit(wJac) * col("jaccard") +
          lit(wLen) * col("len_ratio"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("vec_id"))
    // limit(pool) is a data no-op (the inner join emits exactly one row
    // per ≤pool candidate) that DECLARES the panel bound in the plan:
    // the ranking window provably sees ≤pool rows, not doc grain —
    // the structural guarantee WindowGateSpec's strict walk checks,
    // instead of an allowlist justification it has to take on faith.
    scored.limit(pool).withColumn("rank", row_number().over(w))
      .select(col("rank"), col("vec_id"), col("cosine"), col("jaccard"),
        col("len_ratio"), col("score"))
      .orderBy(col("rank"))
  }

  /** Delta-batch assignment into the PERSISTED IVF cell structure — the
    * continuous-embedding-ingest maintenance step: new vectors
    * (vec_id % 5 == 0, the [[Dedup.dedupIncremental]] delta
    * convention) are assigned to the STANDING corpus-trained coarse
    * cells WITHOUT rebuilding the quantizer (the incremental-index
    * discipline applied to [[ivfDetTopK]]'s deterministic cells), and
    * the per-cell occupancy drift ships beside the exact counts so a
    * rebuild trigger is auditable (a cell whose share moved is where
    * probe recall decays first).
    *
    * Assignment is pointwise given the seed panel, so the incremental
    * path is EXACTLY what a full re-assignment over corpus∪delta with
    * the same corpus-trained seeds would produce (NorthStar parity
    * spec) — the property that makes "assign the delta, skip the
    * rebuild" sound.
    *
    * Exactness: cells are [[detSeeds]]' md5-ranked deterministic
    * anchors over the CORPUS slice; occupancies are exact BIGINTs;
    * shares and drift are single divisions/subtractions of exact
    * integers against broadcast 1-row totals, REAL-cast.
    *
    * Scale shape: the corpus assignment is computed once and persisted
    * per (session, corpus) — the standing index; the delta pass is one
    * broadcast-seed-panel argmax aggregate over ONLY the delta rows
    * (work ∝ |delta|·nCells, never corpus-shaped), then a ≤nCells-row
    * epilogue. At 100 TB the delta batch is the only thing scanned. */
  def annIvfDeltaAssign(spark: SparkSession, dir: String,
      nCells: Int = 16): DataFrame = {
    graft.GraftExtensions.register(spark)
    val seeds = ivfSeedPanel(spark, dir, nCells)
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def assign(rows: DataFrame): DataFrame = rows
      .crossJoin(broadcast(seeds))
      .withColumn("dp", expr("float_dot(embedding, seed_e)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("dp"), (-col("cell")).as("negc"))).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("cell"))
    val deltaOcc = assign(emb.filter(col("vec_id") % 5 === 0))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_delta"))
    ivfOccReport(spark, dir, seeds, deltaOcc, nCells)
  }

  /** The corpus-trained IVF seed panel — md5-ranked Forgy anchors drawn
    * from the STANDING corpus only (the delta must not move the
    * quantizer). Shared by [[annIvfDeltaAssign]] and its streaming twin
    * [[graft.streaming.StreamQueries.streamAnnIvfAssign]]. */
  private[graft] def ivfSeedPanel(spark: SparkSession, dir: String,
      nCells: Int): DataFrame =
    seedPanel(table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 5 =!= 0), nCells)

  /** Occupancy-drift epilogue shared by the batch and streaming IVF
    * maintenance paths: joins a (cell, n_delta) table against the
    * PERSISTED per-cell corpus occupancy (fingerprint-cached on the
    * embeddings table) and emits exact counts + REAL-cast share/drift
    * columns on a ≤nCells-row panel. */
  private[graft] def ivfOccReport(spark: SparkSession, dir: String,
      seeds: DataFrame, deltaOcc: DataFrame, nCells: Int): DataFrame = {
    graft.GraftExtensions.register(spark)
    // the persisted standing index: per-cell corpus occupancy
    val corpusOcc = GraphIndex.cachedDf(spark,
        GraphIndex.gkey(dir, s"ivfocc$nCells"), srcTable = "embeddings") {
      table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 5 =!= 0)
        .crossJoin(broadcast(seeds))
        .withColumn("dp", expr("float_dot(embedding, seed_e)"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("dp"), (-col("cell")).as("negc"))).as("best"))
        .select(col("vec_id"), (-col("best.negc")).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_corpus"))
    }
    val occ = seeds.select(col("cell"))
      .join(corpusOcc, Seq("cell"), "left_outer")
      .join(deltaOcc, Seq("cell"), "left_outer")
      .select(col("cell"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"))
    val tot = occ.agg(sum(col("n_corpus")).as("tc"),
      sum(col("n_delta")).as("td"))
    occ.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_corpus"), col("n_delta"),
        (col("n_corpus").cast("double") / col("tc").cast("double"))
          .cast("float").as("share_before"),
        ((col("n_corpus") + col("n_delta")).cast("double")
          / (col("tc") + col("td")).cast("double"))
          .cast("float").as("share_after"),
        ((col("n_corpus") + col("n_delta")).cast("double")
          / (col("tc") + col("td")).cast("double")
          - col("n_corpus").cast("double") / col("tc").cast("double"))
          .cast("float").as("drift"))
      .orderBy(col("cell"))
  }

  /** Exact Euclidean (L2) top-k nearest neighbors to the `queryId`
    * embedding via the norm expansion ‖a−q‖² = a·a − 2·a·q + q·q — three
    * sequential-fold double dot products with the same operation order as
    * the DuckDB oracle's `list_dot_product` arithmetic, so the distances
    * are bit-identical. The metric companion to `ann_brute_force_topk`
    * (cosine): L2 is the metric FAISS-style IVF indexes default to.
    *
    * Scale shape: identical to brute-force cosine — one scan, codegen'd
    * [[graft.functions.FloatVecDot]], TakeOrdered top-k (per-partition
    * k-reduction, no global sort, vectors never shuffle). The q·q scalar
    * folds into the expression as a literal. */
  def annL2TopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    graft.GraftExtensions.register(spark)
    val base = table(spark, dir, "embeddings")
    // degrade to a well-formed empty result when the query vector is
    // absent (empty corpus / deleted id) instead of head() crashing
    val qrow = base.filter(col("vec_id") === queryId)
      .select(col("embedding")).head(1)
    if (qrow.isEmpty)
      return base.select(col("vec_id"), lit(0.0).as("dist2")).limit(0)
    val qvec = qrow(0).getSeq[Float](0).toArray
    val q = array(qvec.toIndexedSeq.map(lit): _*)
    base
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", q)
      .select(col("vec_id"),
        (expr("float_dot(embedding, embedding)")
          - lit(2.0) * expr("float_dot(embedding, qv)")
          + expr("float_dot(qv, qv)")).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(k)
  }

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

  /** Per-vector symmetric int8 quantization of the embedding column —
    * the 4× memory/bandwidth compression an ANN serving tier applies
    * before indexing (scale = 127/max|v|, q_i = round(v_i·scale)).
    * Emits the scale plus exact integer summaries of the code vector;
    * the codes themselves stay distributed.
    *
    * Exactness: float components widen to double exactly; 127/amax and
    * the per-component product are single IEEE ops; round() is
    * half-away-from-zero in BOTH engines (Spark HALF_UP on a double
    * never sees an exact .5 tie from these products in practice, and
    * when it does both engines round away from zero). Map-only — zero
    * shuffles; the ORDER BY is the dump's, not the operator's. */
  def embQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .selectExpr("vec_id",
        """array_max(transform(embedding,
          |  x -> abs(CAST(x AS DOUBLE)))) AS amax""".stripMargin,
        "embedding")
      .filter(col("amax") > 0)
      .selectExpr("vec_id", "CAST(127.0 / amax AS FLOAT) AS scale",
        """transform(embedding,
          |  x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
          |  AS q""".stripMargin)
      .selectExpr("vec_id", "scale",
        "array_min(q) AS q_min", "array_max(q) AS q_max",
        "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x) AS q_sum",
        "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + abs(x)) AS q_l1")
      .orderBy(col("vec_id"))

  /** Product quantization codes over the int8 domain: split each
    * 64-dim embedding into M=8 subvectors of 8 dims, quantize the
    * vector to int8 ([[embQuantizeInt8]] scheme), and assign each
    * subvector to its nearest of K=16 md5-derived integer codewords by
    * L1 distance — the 8-byte-per-vector compression behind IVF-PQ
    * indexes (64 floats → 8 code bytes = 32×).
    *
    * Everything is exact integer arithmetic (codewords are integers in
    * [-128, 127], distances are integer L1 sums — no float distance, no
    * summation-order sensitivity), so code assignment is bit-identical
    * cross-engine, argmin ties broken by smallest codeword id.
    *
    * Scale shape: the codebook (M·K rows) broadcasts; subvector scoring
    * is map-side; the only shuffle carries (vec_id, m, code, dist) — a
    * few ints per subvector, never the vectors. A production path fuses
    * the whole assignment into one codegen expression per row (zero
    * shuffle), as [[graft.functions.MinHashSig]] does for signatures. */
  /** The deterministic PQ codebook: (m, k) → subDim-length int centroid
    * vector, md5-derived (broadcast-sized: M·K rows). */
  private def pqCodebook(spark: SparkSession,
      m: Int, k: Int, subDim: Int): DataFrame = {
    val cbRaw = spark.range(m).select(col("id").as("m"))
      .crossJoin(spark.range(k).select(col("id").as("k")))
      .crossJoin(spark.range(subDim).select(col("id").as("d")))
      .select(col("m"), col("k"), col("d"),
        (TokenHash.hash60(concat(lit("pq:"), col("m").cast("string"),
          lit(":"), col("k").cast("string"),
          lit(":"), col("d").cast("string")))
          % lit(256L) - lit(128L)).cast("int").as("c"))
    cbRaw.groupBy(col("m"), col("k"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        x => x.getField("c")).as("cvec"))
  }

  /** Per-vector int8 quantization (vec_id, qv) — the shared front of the
    * PQ family. */
  private def pqQuantized(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .selectExpr("vec_id",
        """array_max(transform(embedding,
          |  x -> abs(CAST(x AS DOUBLE)))) AS amax""".stripMargin,
        "embedding")
      .filter(col("amax") > 0)
      .selectExpr("vec_id",
        """transform(embedding,
          |  x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / amax)) AS INT))
          |  AS qv""".stripMargin)

  /** Per-(vec, subspace) nearest codeword: (vec_id, m, b.dist, b.k) —
    * persisted per (session, dir, params, embeddings generation); both
    * the code dump and every ADC probe read the same materialized index
    * — the PQ index a production deployment materializes once per
    * corpus version and serves every ADC query from. */
  private def pqAssign(spark: SparkSession, dir: String,
      m: Int, k: Int, subDim: Int): DataFrame =
    IndexCache(spark, "curation.pq", (dir, m, k, subDim),
        Seq(s"$dir/embeddings.parquet")) {
      val q = pqQuantized(spark, dir)
      val codebook = pqCodebook(spark, m, k, subDim)
      val subs = q.select(col("vec_id"),
        explode(sequence(lit(0L), lit(m - 1L))).as("m"), col("qv"))
        .select(col("vec_id"), col("m"),
          expr(s"slice(qv, CAST(m * $subDim + 1 AS INT), $subDim)").as("sub"))
      val best = subs.join(broadcast(codebook), Seq("m"))
        .select(col("vec_id"), col("m"), col("k"),
          expr("""aggregate(zip_with(sub, cvec, (a, b) -> abs(a - b)),
            |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
            .as("dist"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("dist"), col("k"))).as("b"))
        .persist()
      best.count()
      best
    }(_.unpersist(false))

  def embPqCodes(spark: SparkSession, dir: String,
      m: Int = 8, k: Int = 16, subDim: Int = 8): DataFrame = {
    val best = pqAssign(spark, dir, m, k, subDim)
    val outCols = (0 until m).map(i =>
      max(when(col("m") === i, col("b.k"))).cast("int").as(s"code_$i")) :+
      sum(col("b.dist")).as("l1_err")
    best.groupBy(col("vec_id"))
      .agg(outCols.head, outCols.tail: _*)
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance (ADC) top-k: nearest neighbors of one query
    * vector computed ENTIRELY against the PQ-compressed index — the
    * scale path of IVF-PQ retrieval. The query builds an M×K lookup
    * table (L1 distance from each of its subvectors to every codeword);
    * each indexed vector's approximate distance is then the sum of M
    * table lookups keyed by its stored codes — the embeddings
    * themselves are never touched at query time.
    *
    * All-integer arithmetic end to end (int8 subvectors, integer
    * codewords, BIGINT L1 sums), so distances and the (dist, vec_id)
    * top-k ranking are bit-identical cross-engine — a fully
    * DuckDB-oracle-able ANN, unlike KMeans-trained PQ.
    *
    * Scale shape: the codes table is the persisted PQ index (M small
    * ints per vector — at 100 TB of embeddings, the index is ~1000×
    * smaller and is what actually gets scanned); the query LUT is M·K
    * BIGINTs BROADCAST; scoring is one map-side join + a per-vec sum
    * (map-side combined over exactly M rows per vec), and
    * TakeOrdered replaces a global sort for the top-k. */
  def annPqAdcTopk(spark: SparkSession, dir: String, queryId: Long = 0L,
      m: Int = 8, k: Int = 16, subDim: Int = 8, topK: Int = 10): DataFrame = {
    val codes = pqAssign(spark, dir, m, k, subDim)
      .select(col("vec_id"), col("m"), col("b.k").as("k"))
    codes.join(broadcast(pqQueryLut(spark, dir, queryId, m, k, subDim)),
      Seq("m", "k"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qdist")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** The query's M×K ADC lookup table: L1 distance from each of its
    * int8 subvectors to every codeword — M·K BIGINT rows, broadcast to
    * every ADC consumer. */
  private def pqQueryLut(spark: SparkSession, dir: String, queryId: Long,
      m: Int, k: Int, subDim: Int): DataFrame =
    pqQuantized(spark, dir).filter(col("vec_id") === queryId)
      .select(explode(sequence(lit(0L), lit(m - 1L))).as("m"), col("qv"))
      .select(col("m"),
        expr(s"slice(qv, CAST(m * $subDim + 1 AS INT), $subDim)").as("qsub"))
      .join(pqCodebook(spark, m, k, subDim), Seq("m"))
      .select(col("m"), col("k"),
        expr("""aggregate(zip_with(qsub, cvec, (a, b) -> abs(a - b)),
          |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
          .as("qdist"))

  /** IVF-PQ (IVFADC) top-k: the billion-scale ANN architecture — a
    * coarse quantizer prunes the corpus to `nProbe` probed cells, and
    * ranking inside the probed cells runs ENTIRELY against the
    * PQ-compressed code index via the query's broadcast ADC lookup
    * table. Composes the two deterministic halves this repo already
    * verifies separately: [[graft.query.Similarity]]'s hash-seeded
    * cell machinery (`ann_ivf_det_topk`) and the md5-codebook ADC
    * (`ann_pq_adc_topk`) — so the composite is fully DuckDB-oracle
    * exact, unlike any KMeans-trained IVF-PQ.
    *
    * Scale shape: at 100 TB the codes live partitioned BY CELL, so the
    * probe is partition pruning and the scan touches ~nProbe/nCells of
    * a ~1000×-compressed index; here the probe is the same semantics
    * as a keyed semi-join of the code index against the probed-cell
    * assignment (ids only — embeddings are touched exactly once, at
    * index build). Exactness: integer cell argmax tie-breaks, BIGINT
    * L1 sums, (dist, vec_id) ranking — bit-identical cross-engine. */
  def annIvfPqTopk(spark: SparkSession, dir: String, queryId: Long = 0L,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, k: Int = 16,
      subDim: Int = 8, topK: Int = 10): DataFrame = {
    val codes = pqAssign(spark, dir, m, k, subDim)
      .select(col("vec_id"), col("m"), col("b.k").as("k"))
    val probedIds = detCellAssignment(spark, dir, nCells)
      .join(broadcast(detProbes(spark, dir, queryId, nCells,
        nProbe)), Seq("cell"))
      .select(col("vec_id"), col("cell"))
    codes
      .join(probedIds, Seq("vec_id"))
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(pqQueryLut(spark, dir, queryId, m, k, subDim)),
        Seq("m", "k"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(col("qdist")).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** (document count, average doc length) for the corpus at `dir` — two
    * driver-side numbers every BM25-family call would otherwise re-fetch
    * with two jobs over the index; fingerprint-keyed like the index
    * itself, so a regenerated corpus recomputes. */
  private def corpusConstants(spark: SparkSession,
      dir: String): (Double, Double) =
    IndexCache(spark, "text.constants", dir, Seq(s"$dir/documents.parquet")) {
      val n = table(spark, dir, "documents").count().toDouble
      val a = TokenHash.docLengths(spark, dir)
        .agg(avg(col("dl")).as("avgdl")).head().getDouble(0)
      (n, a)
    }(_ => ())

  /** Pseudo-relevance-feedback query expansion (RM1/Rocchio shape): take
    * the query's terms (here: document `queryDoc`'s vocabulary), rank
    * the corpus by coordination-level match (how many query terms a doc
    * contains, then their total tf — INTEGER scores, so the feedback
    * set is exact cross-engine, unlike a float-sum ranking where a
    * last-ulp flip would cascade into a different expansion set), keep
    * the top `fb` feedback docs, and emit the top `k` non-query terms
    * by (feedback-doc frequency, total tf) — the terms a retrieval
    * stack appends to the query on the second pass.
    *
    * Scale shape: every stage is a probe of the persisted [[TokenHash.tokenTf]]
    * index — the query-term set broadcasts (bounded by one doc's
    * vocabulary), candidate scoring is one map-side-combined aggregate
    * over the semi-joined postings, both top-k selections are
    * TakeOrdered. Corpus postings never shuffle. */
  def retrievalPrfExpansion(spark: SparkSession, dir: String,
      queryDoc: Long = 0L, fb: Int = 10, k: Int = 10): DataFrame = {
    val tf = TokenHash.tokenTf(spark, dir)
    val qTerms = tf.filter(col("doc_id") === queryDoc)
      .select(col("tok")).distinct()
    // feedback docs: coordination-level match over the query terms
    val fbDocs = tf
      .join(broadcast(qTerms), Seq("tok"), "left_semi")
      .filter(col("doc_id") =!= queryDoc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("q_tf"))
      .orderBy(col("n_terms").desc, col("q_tf").desc, col("doc_id"))
      .limit(fb)
    // expansion terms: frequency across the feedback set, query terms out
    tf.join(broadcast(fbDocs.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .join(broadcast(qTerms), Seq("tok"), "left_anti")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("total_tf"))
      .orderBy(col("n_docs").desc, col("total_tf").desc, col("tok"))
      .limit(k)
  }
}
