package graft

import org.apache.spark.sql.functions._
import graft.ingest.Formats
import graft.query.{Graph, Similarity}
import graft.schema.Schemas
import graft.streaming.StreamQueries

/** Round-8 hardening: corpus-regeneration cache safety, the
  * session_window watermark tie, checkpoint cadence for deep iteration,
  * and pinned recall floors for the approximate ANN paths. */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  test("Formats: regenerating a corpus at the same path invalidates the materialized copy") {
    val dir = java.nio.file.Files.createTempDirectory("fmt-regen").toString
    Schemas.table(spark, sf, "orders")
      .write.parquet(s"$dir/orders.parquet")
    val before = Formats.orcSourceAgg(spark, dir)
      .agg(sum($"n_orders")).as[Long].head()
    // regenerate the table in place with half the rows — the next read
    // must see the new content, not the cached ORC conversion
    Schemas.table(spark, sf, "orders").filter($"o_orderkey" % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val after = Formats.orcSourceAgg(spark, dir)
      .agg(sum($"n_orders")).as[Long].head()
    assert(after > 0 && after < before, s"before=$before after=$after")
  }

  test("Dedup: regenerating a corpus at the same path rebuilds the persisted signature index") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-regen").toString
    Schemas.table(spark, sf, "documents")
      .write.parquet(s"$dir/documents.parquet")
    val before = graft.query.Dedup.dedupMinhashLsh(spark, dir).count()
    // halve the corpus in place — the next query must rebuild the
    // signature index from the new content, not probe stale persisted
    // blocks (same fingerprint discipline as the Formats test above)
    Schemas.table(spark, sf, "documents").filter($"doc_id" % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = graft.query.Dedup.dedupMinhashLsh(spark, dir).count()
    assert(before > 0 && after < before, s"before=$before after=$after")
  }

  /** Write a minimal events dir the streaming fixture reader accepts
    * (single `events.parquet` FILE, ts as epoch-micros stored LONG-nanos). */
  private def eventsDir(rows: Seq[(Long, Long, Long)]): String = {
    val stage = java.nio.file.Files.createTempDirectory("r8-stage").toString
    val dir = java.nio.file.Files.createTempDirectory("r8-events").toString
    rows.toDF("event_id", "ts_us", "user_id")
      .select($"event_id", ($"ts_us" * 1000L).as("ts"), $"user_id",
        lit("t").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  test("session_window append finalizes a session whose end falls EXACTLY on the watermark") {
    // ADVICE (StreamDefs stream_session_window oracle): the oracle emits
    // sessions with end <= watermark — pin that Spark's append-mode
    // eviction agrees at the tie, so a corpus regeneration can't
    // silently cross the boundary.
    val t0 = 1700000000000000L // µs
    val min = 60000000L
    val dir = eventsDir(Seq(
      // user 1: session [t0, t0+10min], end = t0+40min == watermark (tie)
      (1L, t0, 1L),
      (2L, t0 + 10 * min, 1L),
      // user 3: one event 1µs later -> session end 1µs past the
      // watermark -> must NOT be emitted
      (3L, t0 + 10 * min + 1L, 3L),
      // user 2: pins max ts; watermark = t0+100min - 1h = t0+40min
      (4L, t0 + 100 * min, 2L)))
    val out = StreamQueries.streamSessionWindowNative(spark, dir).collect()
    assert(out.length == 1, out.mkString(";"))
    assert(out(0).getLong(0) == 1L)
    assert(out(0).getTimestamp(1).getTime == t0 / 1000L)
    assert(out(0).getLong(2) == 2L)
  }

  test("pagerank checkpoint cadence: constant per-round plan size, unchanged results") {
    // identical answers with and without lineage truncation
    val deep = Graph.graphPagerank(spark, sf, iters = 10, checkpointEvery = 3)
    val flat = Graph.graphPagerank(spark, sf, iters = 10)
    assert(deep.collect().toSeq == flat.collect().toSeq)
    // the live plan never exceeds one cadence window: 1 round past the
    // last checkpoint leaves the SAME analyzed-plan size whether 1, 2,
    // or 3 checkpoints came before (iters = 4 / 7 / 10, cadence 3)
    def planSize(iters: Int, every: Int): Int =
      Graph.graphPagerank(spark, sf, iters = iters, checkpointEvery = every)
        .queryExecution.analyzed.collect { case p => p }.size
    val sizes = Seq(4, 7, 10).map(planSize(_, 3))
    assert(sizes.distinct.size == 1, s"plan grows with depth: $sizes")
    // and truncation genuinely shrinks the lineage vs the flat loop
    assert(planSize(10, 3) < planSize(10, 0), s"${planSize(10, 3)} vs ${planSize(10, 0)}")
  }

  // ---- ANN recall floors (sf0.01 corpus, 8-query panel) ------------------
  // A hashing/quantization regression must fail loudly, not silently
  // return worse neighbors: pin measured recall@10 floors for every
  // approximate path against the exact brute-force scan. The synthetic
  // embeddings are near-random unit vectors (cosine gaps of ~1e-2), so
  // absolute recall is intrinsically modest — but it is DETERMINISTIC
  // (hash-derived planes/codebooks, seeded KMeans) and far above the
  // 10/5000 ≈ 0.002 random-chance baseline (lsh 56×, ivf 280×, pq 50×
  // when pinned). The floors are ~70% of measured (lsh 0.112,
  // ivf 0.563, pq-adc 0.100) — regression tripwires, not quality claims.

  private val sf01 = "/root/testdata/sf0.01"

  private def recallAt10(approx: Long => org.apache.spark.sql.DataFrame): Double = {
    val qids = 0L until 8L
    val per = qids.map { qid =>
      val exact = Similarity.bruteForceTopK(spark, sf01, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val got = approx(qid).select("vec_id").as[Long].collect().toSet
      exact.intersect(got).size / 10.0
    }
    per.sum / per.size
  }

  test("ann_lsh_topk recall@10 floor") {
    val r = recallAt10(qid => Similarity.lshTopK(spark, sf01, qid))
    info(f"lsh recall@10 = $r%.3f")
    assert(r >= 0.08, f"lsh recall@10 regressed: $r%.3f < 0.08")
  }

  test("ann_ivf_topk recall@10 floor") {
    val r = recallAt10(qid => Similarity.ivfTopK(spark, sf01, qid))
    info(f"ivf recall@10 = $r%.3f")
    assert(r >= 0.4, f"ivf recall@10 regressed: $r%.3f < 0.4")
  }

  test("dedup_embedding_cosine: exact precision, pinned recall vs brute-force truth") {
    GraftExtensions.register(spark)
    val base = Schemas.table(spark, sf01, "embeddings")
      .select($"vec_id", $"embedding")
    val truth = base.as("a").join(base.as("b"),
        $"a.vec_id" < $"b.vec_id")
      .filter(expr("float_dot(a.embedding, b.embedding)") >= 0.4)
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    val got = graft.query.Dedup.dedupEmbeddingCosine(spark, sf01)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // the exact verify inside the operator makes every emitted pair a
    // true >= threshold pair: precision is exactly 1 by construction
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"embedding near-dup recall = $recall%.3f (${truth.size} truth pairs)")
    // measured 0.983 (58/59) — floor at ~70% of measured, same
    // tripwire convention as the ANN recall floors below
    assert(recall >= 0.7, f"recall regressed: $recall%.3f < 0.7")
  }

  test("dedup_minhash_lsh: exact precision, pinned recall vs all-pairs Jaccard truth") {
    GraftExtensions.register(spark)
    val sh = graft.query.TokenHash
      .withPlantedNearDups(Schemas.table(spark, sf01, "documents"))
      .select($"doc_id", graft.query.TokenHash.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", expr("shingle_hashes(toks, 3)").as("sh"))
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(expr("jaccard_sorted(a.sh, b.sh)") >= 0.5)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    val got = graft.query.Dedup.dedupMinhashLsh(spark, sf01)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // the exact-Jaccard verify tail makes precision exactly 1
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(5)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"minhash-lsh recall = $recall%.3f (${truth.size} truth pairs)")
    // measured 1.000 (36/36: truth pairs are dominated by high-Jaccard
    // planted dups, where 8-band × 4-row candidate probability ≈ 1);
    // floor at 0.7, the same ~70%-of-measured tripwire convention
    assert(recall >= 0.7, f"recall regressed: $recall%.3f < 0.7")
  }

  test("dedup_simhash: pigeonhole bucketing is EXACT vs brute-force hamming <= 3") {
    // a pair differing in <= 3 of 60 bits touches <= 3 of the 4 15-bit
    // chunks, so at least one chunk matches — the bucketing provably
    // loses nothing; output must EQUAL the all-pairs answer, not
    // approximate it
    GraftExtensions.register(spark)
    val docs = graft.query.TokenHash
      .withPlantedNearDups(Schemas.table(spark, sf01, "documents"))
      .select($"doc_id", expr("simhash60(" +
        "split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '))").as("h"))
    val truth = docs.as("a").join(docs.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.h".bitwiseXOR($"b.h")) <= 3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    val got = graft.query.Dedup.dedupSimhash(spark, sf01)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == truth,
      s"missed: ${truth.diff(got).take(5)} extra: ${got.diff(truth).take(5)} " +
        s"(truth=${truth.size}, got=${got.size})")
    assert(truth.nonEmpty, "degenerate: no hamming<=3 pairs in the corpus")
  }

  test("ann_pq_adc_topk recall@10 floor") {
    val r = recallAt10(qid => Similarity.annPqAdcTopk(spark, sf01, qid))
    info(f"pq-adc recall@10 = $r%.3f")
    assert(r >= 0.07, f"pq-adc recall@10 regressed: $r%.3f < 0.07")
  }
}
