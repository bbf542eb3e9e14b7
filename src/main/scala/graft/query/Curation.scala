package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.IndexCache
import graft.schema.Schemas.table

/** Round-6 corpus-curation operators: the decisions a training-data
  * pipeline makes AFTER detection — which duplicate to keep, what is
  * novel, how to compress embeddings, which keys dominate. Every
  * operator is DuckDB-oracle exact and carries an explicit 100 TB
  * shuffle story.
  */
object Curation {

  /** Canonical-representative selection per near-dup group: turn the
    * pairwise dedup verdicts into the KEEP/DROP decision — per connected
    * component keep the doc with the most normalized characters (tie:
    * smallest doc_id), report what was dropped. This is the step that
    * actually shrinks the corpus.
    *
    * Scale shape: group labels come from [[Dedup.dedupGroups]] (cached
    * pair index + union-find/min-propagation — see its doc); the labels
    * table holds ONLY docs that appear in a verified near-dup pair
    * (~0.001% of the corpus at production dup rates), so the argmax is
    * an aggregation over a tiny table. The argmax is one `max(struct)`
    * per group — never a window over the corpus. Exact integers
    * throughout. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.dedupGroups(spark, dir)
    val chars = Dedup.withPlantedNearDups(table(spark, dir, "documents"))
      .select(col("doc_id"),
        length(Dedup.normText(col("text"))).cast("long").as("chars"))
    labels.join(chars, Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("chars_total"),
        // max over (chars, -doc_id): most chars, then SMALLEST id
        max(struct(col("chars"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("group_id"),
        (-col("m.negid")).as("kept_doc"),
        col("n_docs"),
        (col("chars_total") - col("m.chars")).as("chars_dropped"))
      .orderBy(col("group_id"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-gram shingles whose FIRST appearance (smallest doc_id) is this
    * doc — the corpus-level self-overlap measure curation uses to rank
    * "how much new text does this document add" (near-1 = fresh, near-0
    * = boilerplate).
    *
    * Scale shape: grams are fingerprinted to 60-bit ints BEFORE the
    * shuffle ([[Dedup.hash60]]), so the first-seen aggregation and the
    * join back both key on fixed-width longs, never gram strings — at
    * 100 TB the gram shuffle is the dominant cost and 8-byte keys vs
    * ~30-byte strings is ~4× less wire. Both sides are map-side
    * combined; the gram key is heavy-tailed (stop-grams), which the
    * first-seen MIN aggregate absorbs (AQE skew split handles the
    * join-back). Collisions in the 2^60 fingerprint space are
    * vanishingly rare and — because the oracle replays the same md5
    * fingerprints — cross-engine deterministic.
    *
    * The per-doc distinct gram-hash set comes from the codegen'd
    * [[graft.functions.ShingleHashes]] expression (one md5 pass per
    * gram, in-row sort+dedupe) — the interpreted transform+md5 HOF
    * formulation of the same set measured ~5× slower, and a
    * corpus-wide `.distinct()` after explode would shuffle the raw
    * (doc, gram) pairs a second time for nothing. */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val grams = graft.schema.Schemas.spread(spark, dir, "documents",
        table(spark, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(expr("shingle_hashes(toks, 3)")).as("gh"))
    val firstSeen = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams"))
          .cast("float").as("novelty"))
      .orderBy(col("doc_id"))
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
        (Dedup.hash60(concat(lit("pq:"), col("m").cast("string"),
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
    val probedIds = Similarity.detCellAssignment(spark, dir, nCells)
      .join(broadcast(Similarity.detProbes(spark, dir, queryId, nCells,
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

  /** The curation funnel: every document is assigned its FIRST failing
    * gate — language, length, alphabetic ratio, exact-dup — or `kept`,
    * and the output is the per-reason drop accounting (the number every
    * corpus-curation run reports). Gate order is fixed, so each doc has
    * exactly one reason and the counts partition the corpus.
    *
    * Scale shape: the language/length/alpha gates are map-only
    * expressions over the scan; the dup gate is the one shuffle
    * (fingerprint window, same key as [[Dedup.dedupExact]]); the
    * rollup is a ≤5-row aggregate plus a 1-row total broadcast.
    * Threshold compares happen on deterministic integer-ratio doubles,
    * identical both engines. */
  def corpusQualityGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fpw = Window.partitionBy(col("fingerprint"))
    val staged = table(spark, dir, "documents")
      .withColumn("fingerprint", md5(Dedup.normText(col("text"))))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(fpw))
      .withColumn("n_ws", size(split(col("text"), " ")))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
          / length(col("text")))
    val reason = when(col("lang") =!= "en", "non_en")
      .when(col("n_ws") < 20, "too_short")
      .when(col("alpha_ratio") < 0.78, "low_alpha")
      .when(!col("is_canonical"), "exact_dup")
      .otherwise("kept")
    val counts = staged.select(reason.as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n_docs"))
    val total = table(spark, dir, "documents").agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("reason"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).cast("float")
          .as("share"))
      .orderBy(col("reason"))
  }

  /** φ-frequent keys (heavy hitters): every (lang, source) corpus slice
    * whose document count exceeds φ·N — the top-key profile that drives
    * skew handling (salting those keys), corpus-mix accounting, and
    * dominance alerts. The key's SHARE distribution is scale-invariant
    * (sources keep their proportions as the corpus grows), which is
    * what makes a fixed φ meaningful at any N.
    *
    * Scale shape: ONE map-side-combined aggregation over the fact table
    * plus a 1-row total broadcast back — the fact scan is never
    * shuffled twice. At 100 TB the same answer is served approximately
    * by per-partition Misra-Gries summaries (k = 1/φ counters each)
    * merged on the driver — a mergeable-sketch path this exact operator
    * is the witness for: any key above φ·N is GUARANTEED to survive
    * every partial summary, so the sketch path can only over-report,
    * and a second exact count over the ≤1/φ candidates removes the
    * false positives. */
  def heavyHitters(spark: SparkSession, dir: String,
      phi: Double = 0.02): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("lang"), col("source"))
    val counts = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val total = docs.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") > col("total") * lit(phi))
      .select(col("lang"), col("source"), col("n"),
        (col("n").cast("double") / col("total")).cast("float").as("share"))
      .orderBy(col("n").desc, col("lang"), col("source"))
  }
}
