package graft

import org.apache.spark.sql.functions._
import graft.query.{Relational, Similarity}
import graft.query.stats.Sampling

/** Round-14 guards for the r13-advice defects: ANSI-mode element_at
  * crashes on short/partially-empty panels (Hampel short frames,
  * median-of-means empty buckets), and driver-held-panel operators that
  * stopped degrading gracefully on degenerate inputs (missing k-center
  * seed, MMR over-asked pool). Each test plants the exact degenerate
  * state the advice describes and asserts the contract, not just
  * no-crash.
  */
class DriverRound14Spec extends SparkSpec {

  /** Tiny events fixture: user 1 has 8 events (full frames), user 2 has
    * exactly 2 (every frame < 4 rows — no 4th order statistic). */
  private lazy val shortSeriesDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14-short").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 8).map(i => (i.toLong, 1L, i)) ++
      Seq((100L, 2L, 0), (101L, 2L, 1))
    rows.toDF("event_id", "user_id", "i")
      .select(col("event_id"),
        expr(s"timestamp_millis(${base}L + i * 60000)").as("ts"),
        col("user_id"), lit("click").as("event_type"),
        (col("i") * 10.0 + 1.5).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("window_hampel_filter: a user with < 4 events yields NULL " +
      "median/mad and unflagged rows — not an ANSI element_at crash") {
    val out = Relational.windowHampelFilter(spark, shortSeriesDir)
      .collect()
    val short = out.filter(_.getLong(0) == 2L)
    assert(short.length == 2, s"expected 2 rows for the 2-event user, got ${short.length}")
    short.foreach { r =>
      assert(r.isNullAt(3) && r.isNullAt(4),
        s"median/mad must be NULL on a < 4-row frame (oracle vals[4] semantics): $r")
      assert(!r.getBoolean(5), s"short-frame row must be unflagged: $r")
      assert(r.getDouble(6) == r.getDouble(2),
        s"cleaned must pass the value through on a short frame: $r")
    }
    // the full-frame user still gets real picks
    val full = out.filter(_.getLong(0) == 1L)
    assert(full.forall(r => !r.isNullAt(3) && !r.isNullAt(4)),
      "full frames lost their median/mad picks")
  }

  test("agg_median_of_means: empty hash buckets — the median derives " +
      "from the REALIZED bucket count, not the parameter") {
    // 3 events → at most 3 of the 16 buckets occupied
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14-mom").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    Seq((0L, 10.0), (1L, 20.0), (2L, 90.0))
      .toDF("event_id", "value")
      .select(col("event_id"),
        expr(s"timestamp_millis(${base}L + event_id * 1000)").as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        col("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val r = Relational.aggMedianOfMeans(spark, dir).collect()
    assert(r.length == 1)
    val nBuckets = r.head.getLong(1)
    assert(nBuckets <= 3, s"3 events cannot occupy $nBuckets buckets")
    val mom = r.head.getDouble(2)
    // each event hashes to its own bucket (or collides) — either way the
    // median of the realized bucket means must sit within their range
    assert(mom >= 10.0 && mom <= 90.0, s"median_of_means $mom outside the data range")
    // and with all 16 buckets occupied (sf corpus) the pick is unchanged
    // from the hardcoded-8/9 form: n_buckets == 16 → same two middles
    val fullR = Relational.aggMedianOfMeans(spark, sf).collect().head
    assert(fullR.getLong(1) == 16L, "sf corpus should fill all 16 buckets")
  }

  test("sample_kcenter_coreset: a missing seed id fails with a clear " +
      "message, not NoSuchElementException") {
    val e = intercept[IllegalArgumentException] {
      Sampling.sampleKcenterCoreset(spark, sf, k = 2, seedId = -999L)
    }
    assert(e.getMessage.contains("seed vector -999 not found"),
      s"unexpected message: ${e.getMessage}")
  }

  test("sample_kcenter_coreset: k larger than the corpus degrades to " +
      "fewer centers instead of throwing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14-kc").toString
    graft.schema.Schemas.table(spark, sf, "embeddings")
      .orderBy(col("vec_id")).limit(3)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Sampling.sampleKcenterCoreset(spark, dir, k = 8).collect()
    assert(out.length == 3, s"3-vector corpus must yield 3 centers, got ${out.length}")
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3), "pick_order must stay dense")
  }

  /** Run `body` and return jobs started during it (listener pattern of
    * DriverRound13Spec, trimmed to the job counter). */
  private def countJobs(body: => Unit): Int = {
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs
  }

  private def docsDir(words: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14-bpe").toString
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_bpe_train: hand-folded multi-round fixpoint — round 2 " +
      "selects a pair CONTAINING round 1's merged unit (the recount), " +
      "and the loop stops early when pairs run dry") {
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    // vocab: abab×3, abc×2, cc×1
    // r1: (a,b) 3·2+2 = 8  → abab→[ab ab], abc→[ab c]
    // r2: (ab,ab) 3        → abab→[abab]        (needs the recount!)
    // r3: (ab,c) 2         → abc→[abc]
    // r4: (c,c) 1          → cc→[cc]
    // r5: no pairs left    → stop at 4 rows, not 16
    val dir = docsDir(Seq("abab abc", "abab abc cc", "abab"))
    val got = TextAnalysis.textBpeTrain(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val want = Seq(
      (1, "a", "b", "ab", 8L),
      (2, "ab", "ab", "abab", 3L),
      (3, "ab", "c", "abc", 2L),
      (4, "c", "c", "cc", 1L))
    assert(got == want, s"hand-fold mismatch:\n  got  $got\n  want $want")
  }

  test("text_bpe_train: a same-symbol run merges every-other position " +
      "(greedy left-to-right), never the overlapping under-merge") {
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    // aaaa×5: r1 (a,a)=15 → aaaa→[aa aa] (NOT [aa a a]); r2 must then
    // see (aa,aa)=5 — the single-space representation's shared-boundary
    // overlap would leave [aa a a] and pick (aa,a)/(a,a) here instead
    val dir = docsDir(Seq("aaaa aaaa aaaa", "aaaa aaaa"))
    val got = TextAnalysis.textBpeTrain(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
    assert(got == Seq((1, "a", "a", 15L), (2, "aa", "aa", 5L)),
      s"run-merge semantics broke: $got")
  }

  test("text_bpe_train: per-round work is constant — jobs grow " +
      "linearly in rounds, never multiplicatively") {
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    TextAnalysis.textBpeTrain(spark, sf, rounds = 2).collect() // warm
    val j4 = countJobs(TextAnalysis.textBpeTrain(spark, sf, rounds = 4).collect())
    val j8 = countJobs(TextAnalysis.textBpeTrain(spark, sf, rounds = 8).collect())
    // ~3 jobs/round (AQE stages of the pair-count shuffle + the take);
    // the lazy-lineage failure mode this pins against is multiplicative
    assert(j8 - j4 <= 16, s"jobs grew super-linearly: rounds=4→$j4, rounds=8→$j8")
    assert(j8 < 2 * j4, s"doubling rounds more than doubled jobs: $j4 → $j8")
  }

  test("ann_ivf_topk (Lloyd): probing every cell degenerates to exact " +
      "brute-force top-k — the training loop cannot lose vectors") {
    import graft.query.Similarity
    import graft.query.stats.Sampling
    val brute = Similarity.bruteForceTopK(spark, sf, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfLloydTopK(spark, sf, 0L, 10,
        nCells = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(full == brute,
      "full-probe Lloyd IVF diverged from exact brute force")
  }

  test("ann_ivf_topk (Lloyd): jobs grow linearly in iterations — the " +
      "per-iteration panel is constant-size") {
    import graft.query.Similarity
    import graft.query.stats.Sampling
    Similarity.ivfLloydTopK(spark, sf, iters = 1).collect() // warm
    val j1 = countJobs(Similarity.ivfLloydTopK(spark, sf, iters = 1).collect())
    val j3 = countJobs(Similarity.ivfLloydTopK(spark, sf, iters = 3).collect())
    assert(j3 - j1 <= 8, s"jobs grew super-linearly: iters=1→$j1, iters=3→$j3")
  }

  test("dedup_substring_multiscale: a planted 20-token duplicated span " +
      "reports its true maximal class — all widths ≤ span, none above") {
    import graft.query.Dedup
    // shared 20-token span embedded in two docs (ids ≥ 10 so the
    // planted-near-dup union does not add whole-text twins), flanked by
    // per-doc-unique filler with no internal repeats
    val span = (1 to 20).map(i => s"shared$i").mkString(" ")
    val fillA = (1 to 15).map(i => s"onlya$i").mkString(" ")
    val fillB = (1 to 15).map(i => s"onlyb$i").mkString(" ")
    val dir = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("r14-span").toString
      Seq((10L, s"$fillA $span"), (11L, s"$span $fillB"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      d
    }
    val byW = Dedup.dedupSubstringMultiscale(spark, dir)
      .collect().groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    // a length-20 span has 20−w+1 cross-doc windows at width w ≤ 20
    assert(byW.getOrElse(8, 0) == 13,
      s"w=8 classes: got ${byW.getOrElse(8, 0)}, want 13")
    assert(byW.getOrElse(16, 0) == 5,
      s"w=16 classes: got ${byW.getOrElse(16, 0)}, want 5")
    assert(byW.getOrElse(32, 0) == 0,
      s"w=32 must find nothing for a 20-token span, got ${byW.getOrElse(32, 0)}")
    // a 40-token span must additionally surface at w = 32
    val span40 = (1 to 40).map(i => s"wide$i").mkString(" ")
    val dir2 = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("r14-span40").toString
      Seq((10L, s"$fillA $span40"), (11L, s"$span40 $fillB"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      d
    }
    val byW2 = Dedup.dedupSubstringMultiscale(spark, dir2)
      .collect().groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    assert(byW2.getOrElse(32, 0) == 9,
      s"w=32 classes for a 40-token span: got ${byW2.getOrElse(32, 0)}, want 9")
  }

  test("ModelStore.forDir: every served model crosses the save→load " +
      "disk boundary, and a warm persisted store skips retraining") {
    import graft.ml.ModelStore
    graft.schema.IndexCache.clear()
    val path = ModelStore.persistedPath(sf, 1)
    // force a COLD store: the persisted layout survives JVMs by design
    // (fingerprint-keyed), so a prior run may have left it warm
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val before = ModelStore.trains.get()
    val m1 = ModelStore.forDir(spark, sf, 1)
    assert(new java.io.File(path, "_graft_complete").exists(),
      s"no persisted model at $path")
    assert(ModelStore.trains.get() >= before + 1, "first use must train")
    // a fixed request row (trip-frame shape) scored through the loaded
    // instance
    val req = graft.ml.Trainer.tripFrameFromEvents(spark, sf)
      .orderBy(col("event_id")).limit(1).drop("event_id")
    val p1 = m1.transform(req).select("prediction").head().getDouble(0)
    // API-restart simulation: cache cleared, store warm → load, no fit
    graft.schema.IndexCache.clear()
    val t1 = ModelStore.trains.get()
    val m2 = ModelStore.forDir(spark, sf, 1)
    assert(ModelStore.trains.get() == t1,
      "warm persisted store retrained instead of loading")
    val p2 = m2.transform(req).select("prediction").head().getDouble(0)
    assert(p1 == p2, s"persisted round-trip changed the prediction: $p1 vs $p2")
  }

  test("stream_dedup_incremental: a 4-micro-batch drain (one file per " +
      "trigger) equals the batch probe row for row — cross-batch " +
      "ListState carries earlier delta arrivals") {
    import graft.query.Dedup
    import graft.streaming.StreamQueries
    // directory-layout documents split into 4 part files: with
    // maxFilesPerTrigger=1 the delta arrives across 4 micro-batches, so
    // intra-delta pairs MUST cross micro-batch boundaries through state
    val d = java.nio.file.Files.createTempDirectory("r14-sdi").toString
    graft.schema.Schemas.table(spark, sf, "documents")
      .repartition(4).write.parquet(s"$d/documents.parquet")
    val batch = Dedup.dedupIncrementalMinhash(spark, d)
      .collect().map(_.toSeq).toSeq
    val streamed = StreamQueries.streamDedupIncremental(spark, d,
        filesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streaming drain diverged from the batch probe " +
        s"(${streamed.size} vs ${batch.size} rows)")
    assert(batch.exists(_(1) != "new"),
      "fixture sanity: the corpus must contain real near-dups")
  }

  test("text_bpe_vocab: hand-folded unit census — fully merged words " +
      "survive as single merged units with occurrence-weighted counts") {
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    // same corpus as the train hand-fold: after its 4 merges the final
    // states are abab→[abab]×3, abc→[abc]×2, cc→[cc]×1
    val dir = docsDir(Seq("abab abc", "abab abc cc", "abab"))
    val got = TextAnalysis.textBpeVocab(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    assert(got == Seq(("abab", 3L, true), ("abc", 2L, true), ("cc", 1L, true)),
      s"vocab census mismatch: $got")
  }

  test("multimodal_audio_vad: segments equal an independent driver-side " +
      "recompute from the decoded samples") {
    import graft.query.Multimodal
    val tiny = "/root/testdata/sf0.001"
    val got = Multimodal.multimodalAudioVad(spark, tiny)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSeq
    // independent recompute: decode every doc's samples, frame, threshold,
    // island — no Spark expressions shared with the query
    val ids = graft.schema.Schemas.table(spark, tiny, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val thr = 400L * 6000L * 6000L
    val want = ids.flatMap { id =>
      val (_, samples) = Multimodal.decodeWavSamples(
        Multimodal.synthesizeWav(id)).get
      val nFrames = (samples.length - 400) / 160 + 1
      val energies = (0 until nFrames).map { f =>
        (f, (f * 160 until f * 160 + 400).map(j =>
          samples(j) * samples(j)).sum)
      }
      val active = energies.filter(_._2 > thr)
      // islands: split where frame indices are non-consecutive
      val segs = active.foldLeft(List.empty[List[(Int, Long)]]) {
        case (acc, fe) => acc match {
          case head :: tail if head.head._1 == fe._1 - 1 =>
            (fe :: head) :: tail
          case _ => List(fe) :: acc
        }
      }.reverse.map(_.reverse)
      segs.map(s => (id, s.head._1, s.last._1, s.length.toLong,
        s.map(_._2).sum))
    }.toSeq
    assert(got == want, s"VAD diverged from the driver recompute " +
      s"(${got.size} vs ${want.size} segments)")
    assert(want.nonEmpty, "fixture sanity: some active segments must exist")
  }

  // ---- real WAV decode: goldens + corrupt contract ----------------------

  /** Hand-assemble a 16-bit mono PCM WAV; knobs poke each validation. */
  private def wav(samples: Seq[Int], fmt: Int = 1, channels: Int = 1,
      bits: Int = 16, rate: Int = 16000,
      extraChunk: Boolean = false): Array[Byte] = {
    val dataSize = samples.length * 2
    val extra = if (extraChunk) 12 else 0
    val bb = java.nio.ByteBuffer.allocate(44 + extra + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + extra + dataSize).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(fmt.toShort).putShort(channels.toShort)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(bits.toShort)
    if (extraChunk) bb.put("LIST".getBytes).putInt(4).put("INFO".getBytes)
    bb.put("data".getBytes).putInt(dataSize)
    samples.foreach(s => bb.putShort(s.toShort))
    bb.array()
  }

  test("decodeWavStats: golden sample stats through a genuine " +
      "bytes→samples parse, extra chunks tolerated") {
    import graft.query.Multimodal
    // sum 1, energy 43, two rising zero crossings, min −3, max 5
    val st = Multimodal.decodeWavStats(wav(Seq(-3, -1, 0, 2, -2, 5)))
      .getOrElse(fail("decode failed"))
    assert(st.sampleRate == 16000 && st.nSamples == 6L)
    assert((st.sumAmp, st.energy, st.zeroCross) == ((1L, 43L, 2L)), st)
    assert((st.minAmp, st.maxAmp) == ((-3L, 5L)), st)
    // a LIST chunk between fmt and data must not derail the walk
    val st2 = Multimodal.decodeWavStats(
      wav(Seq(-3, -1, 0, 2, -2, 5), extraChunk = true))
      .getOrElse(fail("decode failed with an extra chunk present"))
    assert(st2 == st, "extra chunk changed the decoded stats")
  }

  test("decodeWavStats: corrupt, truncated, and wrong-format payloads " +
      "are row-level Nones, never task failures") {
    import graft.query.Multimodal
    val good = wav(Seq(1, 2, 3, 4))
    assert(Multimodal.decodeWavStats(good).isDefined, "fixture sanity")
    assert(Multimodal.decodeWavStats("not audio at all".getBytes).isEmpty)
    assert(Multimodal.decodeWavStats(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeWavStats(good.take(10)).isEmpty, "truncated header")
    assert(Multimodal.decodeWavStats(good.take(46)).isEmpty,
      "data chunk truncated below its declared size")
    assert(Multimodal.decodeWavStats(wav(Seq(1, 2), fmt = 3)).isEmpty,
      "IEEE-float format code must be rejected")
    assert(Multimodal.decodeWavStats(wav(Seq(1, 2), channels = 2)).isEmpty,
      "stereo must be rejected")
    assert(Multimodal.decodeWavStats(wav(Seq(1, 2), bits = 8)).isEmpty,
      "8-bit must be rejected")
    assert(Multimodal.decodeWavStats(wav(Seq.empty)).isEmpty,
      "zero-length data chunk")
    // data chunk arriving BEFORE fmt: parser must refuse (no format yet)
    val reordered = {
      val bb = java.nio.ByteBuffer.allocate(20)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
      bb.put("data".getBytes).putInt(0)
      bb.array()
    }
    assert(Multimodal.decodeWavStats(reordered).isEmpty)
  }

  test("multimodal_audio_decode: executor decode matches the closed-form " +
      "ramp sums, batch-invariant") {
    import graft.query.Multimodal
    val tiny = "/root/testdata/sf0.001"
    val got = Multimodal.multimodalAudioDecode(spark, tiny).collect().toSeq
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      def hx(t: String) = graft.functions.SimHashImpl.hash60(
        s"$id:$t".getBytes("UTF-8"))
      val n = 400 + hx("ns") % 2001
      val b = hx("ab") % 24001 - 12000
      val s = hx("as") % 8 + 1
      assert(r.getLong(2) == n, s"doc $id n_samples")
      assert(r.getLong(3) == n * b + s * (n * (n - 1) / 2), s"doc $id sum")
      assert(r.getLong(4) == n * b * b + 2 * b * s * (n * (n - 1) / 2)
        + s * s * ((n - 1) * n * (2 * n - 1) / 6), s"doc $id energy")
      assert(r.getLong(5) == (if (b < 0 && b + (n - 1) * s >= 0) 1L else 0L),
        s"doc $id zero_cross")
      assert((r.getLong(6), r.getLong(7)) == ((b, b + (n - 1) * s)),
        s"doc $id min/max")
    }
    val b1 = Multimodal.multimodalAudioDecode(spark, tiny, batchSize = 1)
      .collect().toSeq
    assert(b1 == got, "batch size changed the decode result")
  }

  test("retrieval_mmr_topk: select > realized pool degrades to fewer " +
      "picks; inconsistent lambda/mu is rejected at entry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14-mmr").toString
    // 3 vectors → the brute-force pool excludes the query vector
    // itself, leaving a REALIZED pool of 2 against select = 5
    graft.schema.Schemas.table(spark, sf, "embeddings")
      .orderBy(col("vec_id")).limit(3)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.retrievalMmrTopk(spark, dir, select = 5).collect()
    assert(out.length == 2, s"2-vector realized pool must yield 2 picks, got ${out.length}")
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2), "pick_order must stay dense")
    val e = intercept[IllegalArgumentException] {
      Similarity.retrievalMmrTopk(spark, sf, lambda = 0.5)
    }
    assert(e.getMessage.contains("must sum to 1"),
      s"unexpected message: ${e.getMessage}")
  }

  test("eval_rouge_n / eval_bleu: clipped overlaps, brevity penalty, " +
      "and zero-gram degradation match the hand fold") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-bleu").toString
    Seq(
      (0L, "the cat sat on the mat"), // pair 0: classic near-match
      (1L, "the cat lay on the mat"),
      (2L, "x"),                      // pair 1: no overlap, no cand bigram
      (3L, "y z"),
      (4L, "a a a b"),                // pair 2: clipping bites (a×3 vs a×1)
      (5L, "a c"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val rouge = TextMetrics.evalRougeN(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getFloat(5), r.getFloat(6), r.getFloat(7)))).toMap
    // pair 0 unigrams: clip {the:2, cat, on, mat} = 5 of 6/6
    val p0 = 5.0 / 6.0
    assert(rouge((0L, 1)) ==
      ((5L, 6L, 6L, p0.toFloat, p0.toFloat,
        (2.0 * p0 * p0 / (p0 + p0)).toFloat)))
    // pair 0 bigrams: {the cat, on the, the mat} = 3 of 5/5
    assert(rouge((0L, 2))._1 == 3L && rouge((0L, 2))._4 == (3.0f / 5.0f))
    // pair 1: zero overlap everywhere; n=2 has cand_ngrams = 0 and must
    // emit 0.0 (not a division error)
    assert(rouge((1L, 1)) == ((0L, 1L, 2L, 0.0f, 0.0f, 0.0f)))
    assert(rouge((1L, 2)) == ((0L, 0L, 1L, 0.0f, 0.0f, 0.0f)))
    // pair 2 unigrams: clip(a) = min(3,1) = 1 → P=1/4, R=1/2, F1=1/3
    val (ov2, c2, r2, pp2, rr2, f2) = rouge((2L, 1))
    assert((ov2, c2, r2) == ((1L, 4L, 2L)))
    assert(pp2 == 0.25f && rr2 == 0.5f &&
      f2 == (2.0 * 0.25 * 0.5 / 0.75).toFloat)

    val bleu = TextMetrics.evalBleu(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getFloat(6), r.getFloat(7)))).toMap
    // pair 0: bp = 1, bleu = sqrt(5/6 · 3/5) = sqrt(1/2)
    val b0 = bleu(0L)
    assert((b0._1, b0._2, b0._3, b0._4, b0._5) == ((6L, 6L, 5L, 3L, 5L)))
    assert(b0._6 == 1.0f)
    assert(b0._7 ==
      math.exp((math.log(5.0 / 6.0) + math.log(3.0 / 5.0)) / 2.0).toFloat)
    // pair 1: cand shorter than ref → bp = e^(1−2); zero clip → bleu 0
    val b1 = bleu(1L)
    assert(b1._6 == math.exp(-1.0).toFloat && b1._7 == 0.0f)
    // pair 2: clip2 = 0 kills the geometric mean even with clip1 > 0
    val b2 = bleu(2L)
    assert(b2._4 == 0L && b2._6 == 1.0f && b2._7 == 0.0f)
  }

  test("eval_mcnemar: a single event type makes the two classifiers " +
      "identical — zero discordance, chi2 exactly 0; cells partition n") {
    import spark.implicits._
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("r14-mcnemar").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 20).map(i => (i.toLong, i))
      .toDF("event_id", "i")
      .select(col("event_id"),
        expr(s"timestamp_millis(${base}L + i * 60000)").as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        (col("i") * 7.0 + 1.25).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val r = Significance.evalMcnemar(spark, dir).collect().head
    val (n, both, aOnly, bOnly, neither) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n == 20L)
    assert(aOnly == 0L && bOnly == 0L,
      s"one event type ⇒ type mean = global mean ⇒ no discordance: $r")
    assert(both + neither == n, s"cells must partition n: $r")
    assert(r.getFloat(5) == 0.0f, s"no discordance ⇒ chi2 = 0: $r")
    // against the real corpus: cells partition n and chi2 replays from
    // the emitted integer cells
    val s = Significance.evalMcnemar(spark, sf).collect().head
    assert(s.getLong(1) + s.getLong(2) + s.getLong(3) + s.getLong(4)
      == s.getLong(0))
    val (b, c) = (s.getLong(2).toDouble, s.getLong(3).toDouble)
    val want = if (b + c == 0) 0.0f
      else ((math.abs(b - c) - 1.0) * (math.abs(b - c) - 1.0)
        / (b + c)).toFloat
    assert(s.getFloat(5) == want, s"chi2 must replay from the cells: $s")
  }

  test("eval_chrf: char 1..3-gram clipped P/R and the beta=2 harmonic " +
      "match the hand fold; an order with no candidate grams scores 0") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-chrf").toString
    Seq(
      (0L, "ab cd"), // pair 0: s = "abcd" vs "abce"
      (1L, "ab ce"),
      (2L, "x"),     // pair 1: single char — no cand 2/3-grams
      (3L, "xy"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextMetrics.evalChrf(spark, dir).collect()
      .map(r => (r.getLong(0), r)).toMap
    // pair 0: clips 3/2/1 of cand 4/3/2 and ref 4/3/2 (symmetric)
    val r0 = out(0L)
    assert((r0.getLong(1), r0.getLong(4), r0.getLong(7)) == ((3L, 2L, 1L)))
    val p0 = (3.0 / 4.0 + 2.0 / 3.0 + 1.0 / 2.0) / 3.0
    assert(r0.getFloat(10) == p0.toFloat && r0.getFloat(11) == p0.toFloat)
    assert(r0.getFloat(12) ==
      (5.0 * p0 * p0 / (4.0 * p0 + p0)).toFloat)
    // pair 1: cand has ONLY a unigram; orders 2,3 contribute 0 to P
    val r1 = out(1L)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((1L, 1L, 2L)))
    assert(r1.getLong(5) == 0L && r1.getLong(8) == 0L)
    val p1 = (1.0 / 1.0 + 0.0 + 0.0) / 3.0
    val rr1 = (1.0 / 2.0 + 0.0 + 0.0) / 3.0
    assert(r1.getFloat(10) == p1.toFloat && r1.getFloat(11) == rr1.toFloat)
    assert(r1.getFloat(12) ==
      (5.0 * p1 * rr1 / (4.0 * p1 + rr1)).toFloat)
  }

  test("corpus_epoch_repeat: integer factors are exact copy counts; " +
      "fractional factors add the extra copy by the doc's own PRF") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    // 8 docs of source big, 2 of source small → f = 1 and exactly 2
    val dir = java.nio.file.Files.createTempDirectory("r14-epoch").toString
    ((0 until 8).map(i => (i.toLong, "big")) ++
      Seq((8L, "small"), (9L, "small")))
      .toDF("doc_id", "source")
      .withColumn("text", lit("t")).withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val copies = TextAnalysis.corpusEpochRepeat(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    (0 until 8).foreach(i => assert(copies(i.toLong) == 1,
      s"f=1 source must emit exactly one copy of doc $i"))
    Seq(8L, 9L).foreach(i => assert(copies(i) == 2,
      s"f=2 source must emit exactly two copies of doc $i"))
    // 3 small docs → f = sqrt(8/3): each small doc gets 1 or 2 copies,
    // decided by hash60(doc:epoch) < floor(frac(f)·2^60) — replayed here
    val dir2 = java.nio.file.Files.createTempDirectory("r14-epoch2").toString
    ((0 until 8).map(i => (i.toLong, "big")) ++
      (8 until 11).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
      .withColumn("text", lit("t")).withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir2/documents.parquet")
    val c2 = TextAnalysis.corpusEpochRepeat(spark, dir2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val f = math.min(math.sqrt(8.0 / 3.0), 4.0)
    val thresh = math.floor((f - math.floor(f)) *
      1152921504606846976.0).toLong
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    (8 until 11).foreach { i =>
      val want = 1 + (if (h60(s"$i:epoch") < thresh) 1 else 0)
      assert(c2(i.toLong) == want,
        s"doc $i: copies ${c2(i.toLong)} != PRF-replayed $want")
    }
  }

  test("eval_fleiss_kappa: integer evidence is internally consistent " +
      "and kappa replays from the sums with the fixed parenthesization") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val r = Agreement.evalFleissKappa(spark, "/root/testdata/sf0.001")
      .collect().head
    val n = r.getLong(0)
    val (s0, s1, s2, ss) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(r.getInt(1) == 3)
    assert(s0 + s1 + s2 == 3 * n, "category sums must total N*m")
    // ss is bounded by [per-item min 3 (all disagree), max 9 (all agree)]
    assert(ss >= 3 * n && ss <= 9 * n)
    val nm = n.toDouble * 3.0
    val pbar = (ss.toDouble - nm) / (nm * 2.0)
    def pj(s: Long) = s.toDouble / nm
    val pe = pj(s0) * pj(s0) + pj(s1) * pj(s1) + pj(s2) * pj(s2)
    assert(r.getFloat(6) == pbar.toFloat && r.getFloat(7) == pe.toFloat)
    assert(r.getFloat(8) == ((pbar - pe) / (1.0 - pe)).toFloat)
    // 7/10 agreement rate must put kappa well above chance
    assert(r.getFloat(8) > 0.2f, s"kappa ${r.getFloat(8)} implausibly low")
  }

  test("corpus_ccnet_buckets: per-lang terciles follow the exact " +
      "familiarity rank; common-token docs land in the head") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    val dir = java.nio.file.Files.createTempDirectory("r14-ccnet").toString
    // 6 en docs: three all-common ("a a a"), three with rare tokens
    val docs = Seq(
      (0L, "a a a", "en"), (1L, "a a b", "en"), (2L, "a b c", "en"),
      (3L, "a rare1 rare2", "en"), (4L, "rare3 rare4 rare5", "en"),
      (5L, "rare6 rare7 rare8", "en"))
    docs.toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusCcnetBuckets(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // corpus counts: a=7, b=2, c=1, rare*=1 → familiarity per doc:
    // doc0 21/3=7, doc1 16/3, doc2 10/3, doc3 9/3=3, doc4/5 1.0
    // (doc_id tiebreak) — ranks 0..5 → ntile(3): buckets 1,1,2,2,3,3
    assert(out(0L).getInt(5) == 1 && out(1L).getInt(5) == 1)
    assert(out(2L).getInt(5) == 2 && out(3L).getInt(5) == 2)
    assert(out(4L).getInt(5) == 3 && out(5L).getInt(5) == 3)
    assert(out(0L).getFloat(4) == 7.0f && out(4L).getFloat(4) == 1.0f)
    assert(out(2L).getLong(3) == 10L, "s_freq must be the exact sum tf*cnt")
  }

  test("text_span_mask_plan: spans are segment-confined (never overlap), " +
      "starts replay from the per-(doc,span) PRF, short docs emit nothing") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-mask").toString
    Seq(
      (0L, (1 to 40).map(i => s"w$i").mkString(" ")), // t=40 → 2 spans
      (1L, (1 to 19).map(i => s"w$i").mkString(" "))) // t=19 → none
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.textSpanMaskPlan(spark, dir).collect()
    assert(out.forall(_.getLong(0) == 0L), "t=19 doc must emit no spans")
    assert(out.length == 2)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    // t=40, n_spans=2, seg=20, avail=18: span i starts at
    // i*20 + 1 + h60(0:mask:i) % 18 — inside [i*20+1, i*20+18]
    out.foreach { r =>
      val i = r.getLong(3)
      val want = i * 20 + 1 + h60(s"0:mask:$i") % 18
      assert(r.getLong(4) == want, s"span $i start ${r.getLong(4)} != $want")
      assert(r.getLong(4) >= i * 20 + 1 && r.getLong(4) + 3 - 1 <= (i + 1) * 20,
        "span must stay inside its own segment")
      assert(r.getFloat(6) == (6.0 / 40.0).toFloat)
    }
  }

  test("eval_rank_corr: tie-aware Spearman moments and Knight-form " +
      "Kendall P/Q match the hand fold on a corpus with x, y and " +
      "joint ties") {
    import spark.implicits._
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("r14-rank").toString
    // (x = tokens, y = distinct): (2,1) (2,2) (3,3) (4,2) (5,5)
    Seq((0L, "a a"), (1L, "a b"), (2L, "a b c"), (3L, "a a b b"),
      (4L, "a b c d e"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = Ranking.evalRankCorr(spark, dir).collect().head
    assert(r.getString(0) == "en" && r.getLong(1) == 5L)
    // doubled ranks: r2x = [3,3,6,8,10], r2y = [2,5,8,5,10]
    // num = 5*209 - 30*30 = 145; d1 = d2 = 5*218 - 900 = 190
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((145L, 190L, 190L)))
    assert(r.getFloat(5) == (145.0 / math.sqrt(190.0 * 190.0)).toFloat)
    // pairs: P=7 C, Q=1 D ((2,3)), x-tie 1, y-tie 1, no joint ties
    assert((r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)) ==
      ((10L, 1L, 1L, 0L)))
    assert((r.getLong(10), r.getLong(11)) == ((7L, 1L)))
    assert(r.getFloat(12) == (6.0 / math.sqrt(81.0)).toFloat)
  }

  test("eval_bradley_terry: win cells match the crafted matches (tie -> " +
      "even event; same-type and unpaired matches skipped) and the " +
      "8-round MM ratings replay in plain doubles") {
    import spark.implicits._
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("r14-bt").toString
    // matches: a>b, a>b, a>c, b>c, c>a, (a vs a: skipped),
    // (unpaired event 12: skipped), b=c tie -> b (even side) wins
    val rows = Seq(
      (0L, "a", 2.0), (1L, "b", 1.0),
      (2L, "a", 2.0), (3L, "b", 1.0),
      (4L, "a", 2.0), (5L, "c", 1.0),
      (6L, "b", 2.0), (7L, "c", 1.0),
      (8L, "c", 2.0), (9L, "a", 1.0),
      (10L, "a", 1.0), (11L, "a", 2.0),
      (12L, "b", 2.0),
      (14L, "b", 1.5), (15L, "c", 1.5))
    rows.toDF("event_id", "event_type", "value")
      .select(col("event_id"),
        expr("timestamp_millis(1700000000000 + event_id * 1000)").as("ts"),
        lit(1L).as("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Preference.evalBradleyTerry(spark, dir).collect()
    assert(out.length == 3, "only the 3 present models may emit rows")
    val m = out.map(r => r.getString(0) -> r).toMap
    assert((m("a").getLong(2), m("a").getLong(3)) == ((3L, 1L)))
    assert((m("b").getLong(2), m("b").getLong(3)) == ((2L, 2L)))
    assert((m("c").getLong(2), m("c").getLong(3)) == ((1L, 3L)))
    assert(m("a").getLong(4) == 4L)
    // replay the MM fixpoint: same parenthesization (b-ascending
    // left-assoc sums), 5 slots with the 2 absent ones pinned at 0
    val w = Array.ofDim[Long](5, 5)
    w(0)(1) = 2; w(0)(2) = 1; w(1)(2) = 2; w(2)(0) = 1
    val p = Array(1.0, 1.0, 1.0, 0.0, 0.0)
    for (_ <- 1 to 8) {
      val np = Array.tabulate(5) { a =>
        var wa = 0L; var den = 0.0
        for (b <- 0 until 5 if b != a) {
          wa += w(a)(b)
          den += (if (p(a) + p(b) > 0)
            (w(a)(b) + w(b)(a)).toDouble / (p(a) + p(b))
          else 0.0)
        }
        if (wa > 0 && den > 0) wa.toDouble / den else p(a)
      }
      Array.copy(np, 0, p, 0, 5)
    }
    val tot = p.sum
    Seq("a" -> 0, "b" -> 1, "c" -> 2).foreach { case (n, i) =>
      assert(m(n).getFloat(5) == (p(i) / tot).toFloat,
        s"$n rating ${m(n).getFloat(5)} != replayed ${(p(i) / tot).toFloat}")
    }
    assert(m("a").getFloat(5) > m("b").getFloat(5) &&
      m("b").getFloat(5) > m("c").getFloat(5),
      "head-to-head dominance must order the ratings")
  }

  test("eval_krippendorff_alpha: missingness drops unpairable items, " +
      "evidence is consistent, alpha replays from the integer sums") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val r = Agreement.evalKrippendorffAlpha(spark, "/root/testdata/sf0.001")
      .collect().head
    val (nItems, n) = (r.getLong(0), r.getLong(1))
    val (c0, c1, c2, do2, de) = (r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6))
    // 3 raters at 75% presence: pairable items have m in {2, 3}
    assert(n >= 2 * nItems && n <= 3 * nItems)
    assert(c0 + c1 + c2 == n, "category totals must equal rating count")
    assert(de == n * n - (c0 * c0 + c1 * c1 + c2 * c2))
    val alpha = 1.0 - (do2 * (n - 1)).toDouble / (2L * de).toDouble
    assert(r.getFloat(7) == alpha.toFloat)
    assert(r.getFloat(7) > 0.2f, "7/10 agreement must beat chance")
    // some events must have been dropped as unpairable (m < 2):
    // P(m <= 1) = (1/4)^3 + 3*(3/4)(1/4)^2 ~ 15.6% of 1000
    assert(nItems < 1000 && nItems > 700)
  }

  test("pref_pair_margin: chosen/rejected picks and tiebreaks are " +
      "deterministic; ties yield distinct docs; singletons drop") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    val dir = java.nio.file.Files.createTempDirectory("r14-pref").toString
    Seq((0L, 5L), (1L, 9L), (2L, 9L), (3L, 1L), // group 0
      (4L, 7L), (5L, 7L),                       // group 1: all tied
      (8L, 3L))                                 // group 2: singleton
      .toDF("doc_id", "n_chars")
      .withColumn("text", lit("t")).withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Preference.prefPairMargin(spark, dir).collect()
    assert(out.length == 2, "the singleton group must drop")
    val g0 = out.find(_.getLong(0) == 0L).get
    // chosen: score 9 tie -> smaller doc_id 1; rejected: score 1 -> doc 3
    assert((g0.getLong(2), g0.getLong(3), g0.getLong(4), g0.getLong(5),
      g0.getLong(6)) == ((1L, 9L, 3L, 1L, 8L)))
    val g1 = out.find(_.getLong(0) == 1L).get
    // all tied: chosen = smallest id, rejected = LARGEST id, margin 0
    assert((g1.getLong(2), g1.getLong(4), g1.getLong(6)) ==
      ((4L, 5L, 0L)))
  }

  test("eval_auc_delong: tie-aware doubled placements, U2 symmetry, " +
      "and the DeLong variance replay on a hand-computed fixture") {
    import spark.implicits._
    import graft.query.Graph
    import graft.query.ml.{Calibration, Scoring}
    val dir = java.nio.file.Files.createTempDirectory("r14-delong").toString
    // scores: pos {0.6, 0.8}, neg {0.4, 0.6} — one pos/neg tie at 0.6
    Seq((0L, Array(0.05f, 0f), 1), (1L, Array(0.15f, 0f), 1),
      (2L, Array(-0.05f, 0f), 0), (3L, Array(0.05f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val r = Scoring.evalAucDelong(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    // d = {3, 4} (tie counts once), e = {4, 3}; U2 = 7 both ways
    assert(r.getLong(2) == 7L)
    assert((r.getLong(3), r.getLong(4)) == ((25L, 25L)))
    val auc = 7.0 / (2.0 * 2.0 * 2.0)
    assert(r.getFloat(5) == auc.toFloat)
    val s10 = (25.0 / (4.0 * 2.0 * 2.0) - 2.0 * auc * auc) / (2.0 - 1.0)
    val s01 = (25.0 / (4.0 * 2.0 * 2.0) - 2.0 * auc * auc) / (2.0 - 1.0)
    val v = s10 / 2.0 + s01 / 2.0
    assert(r.getFloat(6) == v.toFloat)
    assert(r.getFloat(7) == (1.96 * math.sqrt(v)).toFloat)
  }

  test("eval_paired_bootstrap: 50 replicas, Poisson(1) weights replay " +
      "from the shared thresholds, accuracies replay from the sums") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val out = Significance.evalPairedBootstrap(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 50)
    out.foreach { r =>
      val (nEff, sa, sb) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // Poisson(1) total weight concentrates near n = 1000
      assert(nEff > 800 && nEff < 1200, s"n_eff $nEff implausible")
      assert(sa <= nEff && sb <= nEff)
      assert(r.getFloat(4) == (sa.toDouble / nEff.toDouble).toFloat)
      assert(r.getFloat(6) == (sa.toDouble / nEff.toDouble
        - sb.toDouble / nEff.toDouble).toFloat)
    }
    // deltas must actually vary across replicas (resampling is real)
    assert(out.map(_.getFloat(6)).distinct.length > 10)
    // the thresholds are the Poisson(1) CDF: F(0) ~ e^-1
    assert(Significance.poissonThresh60(0) ==
      math.floor(math.exp(-1.0) * 1152921504606846976.0).toLong)
  }

  test("multimodal_image_channel_stats: real-decode extrema and exact " +
      "means replay from the base+watermark fixture arithmetic") {
    import spark.implicits._
    import graft.query.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("r14-chan").toString
    (0L until 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val out = Multimodal.multimodalImageChannelStats(spark, dir).collect()
    assert(out.length == 8)
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = (4 + h60(s"$id:iw") % 13, 4 + h60(s"$id:ih") % 9)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      val (r0, wr) = (h60(s"$id:r") % 256, h60(s"$id:wr") % 256)
      assert(r.getInt(3) == math.min(r0, wr).toInt)
      assert(r.getInt(4) == math.max(r0, wr).toInt)
      val n = w * h
      assert(r.getFloat(9) ==
        ((r0 * (n - 1) + wr).toDouble / n.toDouble).toFloat,
        s"mean_r mismatch for doc $id")
    }
  }

  test("graph_cc_incremental: a delta edge merges two base components " +
      "under the min-id label; new nodes form components; untouched " +
      "components are NOT emitted") {
    import spark.implicits._
    import graft.query.Graph
    import graft.query.ml.{Calibration, Scoring}
    val dir = java.nio.file.Files.createTempDirectory("r14-ccinc").toString
    // base: {1,2} (ok 1), {3,4} (ok 2), {5,6} (ok 11);
    // delta: ok 10 bridges 2-3; ok 20 introduces new nodes {7,8}
    Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L), (11L, 5L), (11L, 6L),
      (10L, 2L), (10L, 3L), (20L, 7L), (20L, 8L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = Graph.graphCcIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 4L, 4L), (7L, 2L, 8L)),
      s"got ${out.mkString(",")}")
  }

  test("eval_win_rate_matrix: per-pair wins at the crafted outcomes and " +
      "Wilson bounds replay with the fixed parenthesization") {
    import spark.implicits._
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("r14-wrm").toString
    val rows = Seq(
      (0L, "a", 2.0), (1L, "b", 1.0),   // a > b
      (2L, "a", 2.0), (3L, "b", 1.0),   // a > b
      (4L, "a", 2.0), (5L, "c", 1.0),   // a > c
      (6L, "b", 2.0), (7L, "c", 1.0),   // b > c
      (8L, "c", 2.0), (9L, "a", 1.0),   // c > a
      (14L, "b", 1.5), (15L, "c", 1.5)) // tie -> even side b
    rows.toDF("event_id", "event_type", "value")
      .select(col("event_id"),
        expr("timestamp_millis(1700000000000 + event_id * 1000)").as("ts"),
        lit(1L).as("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Preference.evalWinRateMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    assert((out(("a", "b")).getLong(2), out(("a", "b")).getLong(3)) ==
      ((2L, 2L)))
    assert((out(("a", "c")).getLong(2), out(("a", "c")).getLong(3)) ==
      ((2L, 1L)))
    assert((out(("b", "c")).getLong(2), out(("b", "c")).getLong(3)) ==
      ((2L, 2L)))
    // Wilson replay for the (a, c) cell: p = 1/2, n = 2
    val r = out(("a", "c"))
    val (p, n) = (0.5, 2.0)
    val z2 = 1.96 * 1.96
    val center = p + z2 / (2.0 * n)
    val spread = 1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    val denom = 1.0 + z2 / n
    assert(r.getFloat(5) == 0.5f)
    assert(r.getFloat(6) == ((center - spread) / denom).toFloat)
    assert(r.getFloat(7) == ((center + spread) / denom).toFloat)
    assert(r.getFloat(6) > 0f && r.getFloat(7) < 1f,
      "Wilson bounds must stay inside (0,1) even at n = 2")
  }

  test("privacy_rand_response: the debiased estimate replays from the " +
      "integer cells and tracks the hidden true rate") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val out = Privacy.privacyRandResponse(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, t1, r1) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(t1 <= n && r1 <= n)
      val pObs = r1.toDouble / n.toDouble
      assert(r.getFloat(4) == pObs.toFloat)
      assert(r.getFloat(5) == ((pObs - 0.25) / 0.5).toFloat)
      // with p = 3/4 the debiased estimate concentrates near the truth
      val truth = t1.toDouble / n.toDouble
      assert(math.abs(r.getFloat(5) - truth) < 0.15,
        s"pi_hat ${r.getFloat(5)} far from truth $truth (n=$n)")
    }
  }

  test("ann_hamming_topk: sign codes and popcount distances replay on " +
      "crafted vectors; identical vector is rank 1 at distance 0") {
    import spark.implicits._
    import graft.query.Similarity
    import graft.query.stats.Sampling
    val dir = java.nio.file.Files.createTempDirectory("r14-hamm").toString
    // 64-dim vectors; only the first 60 dims matter for the code
    def vec(bits: Set[Int]): Array[Float] =
      Array.tabulate(64)(i => if (bits(i)) 1.0f else -1.0f)
    Seq(
      (0L, vec(Set(0, 1, 2)), 0),   // probe
      (5L, vec(Set(0, 1, 2)), 0),   // identical -> hamming 0
      (6L, vec(Set(0, 1)), 0),      // 1 bit off
      (7L, vec(Set(0, 1, 2, 59)), 0), // 1 bit off (bit 59 counts)
      (8L, vec(Set(0, 1, 2, 60)), 0), // dim 60 is OUTSIDE the code -> 0
      (9L, vec(Set.empty), 0))      // 3 bits off
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.annHammingTopK(spark, dir, probes = 1, k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    // ranks: 5 (d=0), 8 (d=0, id tiebreak), 6 (d=1), 7 (d=1), 9 (d=3)
    assert(out.toSeq == Seq((1, 5L, 0), (2, 8L, 0), (3, 6L, 1),
      (4, 7L, 1), (5, 9L, 3)), s"got ${out.mkString(",")}")
    // MIH on the same fixture (+ its own planted 1-flip and 3-flip
    // near-dups): every <= 3-distance neighbor shares a band by
    // pigeonhole — the planted d=1 copy must enter the top-5
    val mih = Similarity.annHammingMih(spark, dir, probes = 1, k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(mih.toSeq == Seq((1, 5L, 0), (2, 8L, 0), (3, 6L, 1),
      (4, 7L, 1), (5, 1000000L, 1)),
      s"MIH must recall all <=3-distance neighbors: ${mih.mkString(",")}")
  }

  test("text_bpe_fertility: the vocab-grain apply matches the hand fold " +
      "(1 merge round) and short words count as single units") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-fert").toString
    // vocab: aaab (pairs aa x2, ab x1), ab (ab x1) -> tie (a,a)=(a,b)=2,
    // tiebreak picks (a,a); after 1 merge: aaab->3 units, ab->2, x->1
    Seq((0L, "aaab ab x")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.textBpeFertility(spark, dir, rounds = 1)
      .collect().head
    assert(r.getString(0) == "en")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 6L, 7L)))
    assert(r.getFloat(4) == 2.0f)
    assert(r.getFloat(5) == (7.0 / 6.0).toFloat)
    // consistency on real data: merging only ever shrinks unit counts
    val real = TextAnalysis
      .textBpeFertility(spark, "/root/testdata/sf0.001").collect()
    assert(real.nonEmpty)
    real.foreach { row =>
      assert(row.getLong(2) <= row.getLong(3),
        "units can never exceed chars")
      assert(row.getFloat(4) >= 1.0f, "a word is at least one unit")
    }
  }

  test("dedup_cascade_report: exact stage drops the duplicate text AND " +
      "its duplicate plant; near stage drops exactly the surviving " +
      "plants; funnel counts reconcile") {
    import spark.implicits._
    import graft.query.Dedup
    val dir = java.nio.file.Files.createTempDirectory("r14-cascade").toString
    def words(tag: String): String =
      (1 to 10).map(i => s"${tag}w$i").mkString(" ")
    Seq(
      (0L, words("a"), "s"), (1L, words("b"), "s"), (2L, words("c"), "s"),
      (3L, words("d"), "s"), (4L, words("d"), "s")) // 4 duplicates 3
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = Dedup.dedupCascadeReport(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    // 5 docs + 5 plants; exact drops doc 4 and plant(4); near drops the
    // 4 surviving plants (each pairs only with its own original)
    assert((row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4), row.getLong(5)) == ((10L, 8L, 4L, 2L, 4L)),
      s"funnel mismatch: $row")
  }

  test("text_heldout_perplexity: only odd docs are scored, OOV tokens " +
      "are counted not hidden, and the smoothed NLL replays by hand") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-ppl").toString
    // train (even): "a a b" -> vocab {a: 2, b: 1}, total 3, V 2
    // test (odd): "a z" -> a: ln(3/5), z (OOV): ln(1/5)
    Seq((0L, "a a b"), (1L, "a z")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.textHeldoutPerplexity(spark, dir).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L,
      "only the held-out (odd) docs may be scored")
    val r = out.head
    assert((r.getLong(1), r.getLong(2)) == ((2L, 1L)))
    val nll = -((math.log(2 + 1) - math.log(3 + 2))
      + (math.log(0 + 1) - math.log(3 + 2))) / 2.0
    assert(r.getFloat(3) == nll.toFloat, s"nll ${r.getFloat(3)} != $nll")
  }

  test("mv_topk_delta: the pruned state+delta refresh equals the full " +
      "recompute, including a delta row displacing a base-view row") {
    import spark.implicits._
    import graft.query.Warehouse
    val dir = java.nio.file.Files.createTempDirectory("r14-mvtopk").toString
    // base (id % 10 != 0): values 5, 4, 3, 2; delta id 10 value 4.5
    // -> true top-3 is 5, 4.5(delta), 4: the delta DISPLACES value-3
    val rows = Seq((1L, 5.0), (2L, 4.0), (3L, 3.0), (4L, 2.0),
      (10L, 4.5))
    rows.toDF("event_id", "value")
      .select(col("event_id"),
        expr("timestamp_millis(1700000000000 + event_id)").as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        col("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Warehouse.mvTopkDelta(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq == Seq((1, 1L, 5000L, false),
      (2, 10L, 4500L, true), (3, 2L, 4000L, false)),
      s"got ${out.mkString(",")}")
  }

  test("corpus_source_overlap: pairwise vocab Jaccard from the bitmask " +
      "histogram matches the hand-counted sets") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    val dir = java.nio.file.Files.createTempDirectory("r14-ovl").toString
    // vocabs: s1 {a,b,c}, s2 {b,c,d}, s3 {x}
    Seq((0L, "a b c", "s1"), (1L, "b c d", "s2"), (2L, "x x", "s3"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getFloat(5))).toMap
    assert(out.size == 3)
    assert(out(("s1", "s2")) == ((3L, 3L, 2L, 0.5f)))
    assert(out(("s1", "s3")) == ((3L, 1L, 0L, 0.0f)))
    assert(out(("s2", "s3")) == ((3L, 1L, 0L, 0.0f)))
  }

  test("emb_label_cohesion: the sum-vector identity reproduces the " +
      "hand-computed mean pairwise dot; singleton labels drop") {
    import spark.implicits._
    import graft.query.{Relational, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("r14-coh").toString
    def unit(d: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == d) 1.0f else 0.0f)
    Seq((0L, unit(0), 1), (1L, unit(0), 1), (2L, unit(1), 1),
      (3L, unit(5), 2)) // label 2 is a singleton -> dropped
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embLabelCohesion(spark, dir).collect()
    assert(out.length == 1 && out.head.getInt(0) == 1)
    val r = out.head
    // S = [2000, 1000, 0...]: outer 5e6, sum_sq 3e6, pairs 6 -> 1/3
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 5000000L, 3000000L)))
    assert(r.getFloat(4) == (2000000.0 / 6.0 / 1000000.0).toFloat)
    // separation on the same fixture: S1 = [2000,1000,0...],
    // S2 = e5*1000 -> cross_dot 0; mean cross dot 0
    val sep = Similarity.embLabelSeparation(spark, dir).collect()
    assert(sep.length == 1)
    val s = sep.head
    assert((s.getInt(0), s.getInt(1), s.getLong(2), s.getLong(3),
      s.getLong(4)) == ((1, 2, 3L, 1L, 0L)))
    assert(s.getFloat(5) == 0.0f)
  }

  test("sample_pps_systematic: multiplicities sum to n, track weight, " +
      "and replay from the integer anchor arithmetic") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val out = Sampling.samplePpsSystematic(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(4)).sum == 20L,
      "systematic PPS must place exactly n points")
    // replay: a and W from the data, each row's multiplicity recomputed
    val wsum = out.map(r => r.getLong(3)).max // max c_hi among selected
    // recompute W exactly from the table
    val o = graft.schema.Schemas.table(spark, "/root/testdata/sf0.001",
      "orders")
    val bigW = o.selectExpr("CAST(sum(CAST(round(o_totalprice * 100.0)" +
      " AS BIGINT)) AS BIGINT)").collect().head.getLong(0)
    assert(wsum <= bigW)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val a = h60("pps:anchor") % bigW
    def cnt(x: Long): Long = if (x <= a) 0L else 1L + (x - a - 1) / bigW
    out.foreach { r =>
      val want = cnt(r.getLong(3) * 20) - cnt(r.getLong(2) * 20)
      assert(r.getLong(4) == want,
        s"order ${r.getLong(0)}: multiplicity ${r.getLong(4)} != $want")
      // a selected item's weight interval must actually contain a point
      assert(want >= 1)
    }
  }

  test("eval_ece: the pivoted left-assoc rollup replays from the bins " +
      "and max_gap dominates every per-bin term's gap") {
    import graft.query.Graph
    import graft.query.ml.{Calibration, Scoring}
    val dir = "/root/testdata/sf0.001"
    val bins = Calibration.evalCalibrationBins(spark, dir).collect()
    val nTot = bins.map(_.getLong(1)).sum
    val terms = (0 to 9).map { i =>
      bins.find(_.getInt(0) == i).map { b =>
        val n = b.getLong(1).toDouble
        (n / nTot.toDouble) * math.abs(b.getLong(3).toDouble / n
          - b.getDouble(2) / n)
      }.getOrElse(0.0)
    }
    val gaps = bins.map { b =>
      val n = b.getLong(1).toDouble
      math.abs(b.getLong(3).toDouble / n - b.getDouble(2) / n)
    }
    val r = Calibration.evalEce(spark, dir).collect().head
    assert(r.getLong(0) == nTot && r.getLong(1) == bins.length)
    assert(r.getFloat(2) == terms.reduce(_ + _).toFloat,
      s"ece ${r.getFloat(2)} != replayed ${terms.reduce(_ + _)}")
    assert(r.getFloat(3) == gaps.max.toFloat)
  }

  test("eval_mcc: cells conserve n and mcc/balanced-acc/J replay from " +
      "the integer cells with the fixed parenthesization") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val r = Scoring.evalMcc(spark, "/root/testdata/sf0.001")
      .collect().head
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(tp + fp + fn + tn == 1000L, "cells must conserve the corpus")
    def d(x: Long) = x.toDouble
    val mcc = (d(tp) * d(tn) - d(fp) * d(fn)) /
      math.sqrt((d(tp) + d(fp)) * (d(tp) + d(fn))
        * (d(tn) + d(fp)) * (d(tn) + d(fn)))
    val tpr = d(tp) / (d(tp) + d(fn)); val tnr = d(tn) / (d(tn) + d(fp))
    assert(r.getFloat(4) == mcc.toFloat)
    assert(r.getFloat(5) == ((tpr + tnr) / 2.0).toFloat)
    assert(r.getFloat(6) == (tpr + tnr - 1.0).toFloat)
    assert(math.abs(r.getFloat(4)) <= 1.0f)
  }

  test("text_langid_chargram: trigram evidence classifies held-out text " +
      "by its training language; too-short docs predict 'und'") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-lid").toString
    // even docs train: lang A is all-'abc' trigrams, lang B all-'xyz';
    // odd docs are held out and must classify by their trigrams
    Seq(
      (0L, "abcabcabc", "aa"), (2L, "abcabc", "aa"),
      (4L, "xyzxyzxyz", "bb"), (6L, "xyzxyz", "bb"),
      (1L, "abcabcab", "aa"),  // held out, clearly aa
      (3L, "zxyzxyzx", "bb"),  // held out, clearly bb
      (5L, "zz", "bb"))        // < 3 chars -> und
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.textLangidChargram(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(2) == "aa" && out(1L).getBoolean(4))
    assert(out(3L).getString(2) == "bb" && out(3L).getBoolean(4))
    assert(out(5L).getString(2) == "und" && out(5L).isNullAt(4))
    // training docs classify themselves correctly too
    assert(out(0L).getString(2) == "aa" && out(4L).getString(2) == "bb")
  }

  test("privacy_dp_topk: Gumbel-perturbed utilities replay from the md5 " +
      "draw and the released ranking is their exact descending order") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val out = Privacy.privacyDpTopk(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 3)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    out.foreach { r =>
      val u = (h60(s"dptopk:${r.getString(1)}").toDouble + 0.5) /
        1152921504606846976.0
      val want = r.getLong(3).toDouble + 2.0 * (-math.log(-math.log(u)))
      assert(r.getFloat(2) == want.toFloat,
        s"${r.getString(1)}: ${r.getFloat(2)} != $want")
    }
    assert(out.map(_.getFloat(2)).toSeq ==
      out.map(_.getFloat(2)).sortBy(-_).toSeq,
      "release must be in descending noised-utility order")
  }

  test("text_bigram_entropy_rate: conditional and unigram entropies " +
      "replay from hand-counted grams; deterministic text scores 0") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.TextMetrics
    val dir = java.nio.file.Files.createTempDirectory("r14-ent").toString
    Seq((0L, "a b a b"), (1L, "a a")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.textBigramEntropyRate(spark, dir).collect().head
    // bigrams: (a,b) 2, (b,a) 1, (a,a) 1; prefixes a=3, b=1
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 6L)))
    val hCond = -(2.0 * (math.log(2) - math.log(3))
      + 1.0 * (math.log(1) - math.log(1))
      + 1.0 * (math.log(1) - math.log(3))) / 4.0
    val hUni = math.log(6.0) -
      (4.0 * math.log(4) + 2.0 * math.log(2)) / 6.0
    assert(r.getFloat(3) == hCond.toFloat,
      s"h_cond ${r.getFloat(3)} != $hCond")
    assert(r.getFloat(4) == hUni.toFloat)
    assert(r.getFloat(5) == (1.0 - hCond / hUni).toFloat)
    // fully deterministic text: every bigram is forced by its prefix
    val dir2 = java.nio.file.Files.createTempDirectory("r14-ent2").toString
    Seq((0L, "a b a b a b")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir2/documents.parquet")
    val r2 = TextAnalysis.textBigramEntropyRate(spark, dir2)
      .collect().head
    assert(r2.getFloat(3) == 0.0f && r2.getFloat(5) == 1.0f,
      "alternating text must be perfectly predictable")
  }

  test("eval_krippendorff_ordinal: the squared-distance alpha replays " +
      "from the integer sums and beats nominal on near-miss data") {
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val r = Agreement.evalKrippendorffOrdinal(spark, "/root/testdata/sf0.001")
      .collect().head
    val (n, c0, c1, c2, do2, de) = (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    assert(c0 + c1 + c2 == n)
    assert(de == 2 * (c0 * c1 + 4 * c0 * c2 + c1 * c2))
    val alpha = 1.0 - (do2 * (n - 1)).toDouble / (2L * de).toDouble
    assert(r.getFloat(7) == alpha.toFloat)
    assert(r.getFloat(7) > 0.2f)
  }

  test("corpus_mix_entropy: balanced sources give effective count = " +
      "source count; a single source gives exactly 1") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    val dir = java.nio.file.Files.createTempDirectory("r14-mixent").toString
    Seq((0L, "en", "a"), (1L, "en", "a"), (2L, "en", "b"),
      (3L, "en", "b"), (4L, "fr", "c"))
      .toDF("doc_id", "lang", "source").withColumn("text", lit("t"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusMixEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert((en.getLong(1), en.getLong(2)) == ((4L, 2L)))
    assert(en.getFloat(3) == math.log(2.0).toFloat)
    assert(en.getFloat(4) == 2.0f)
    val fr = out("fr")
    assert(fr.getFloat(3) == 0.0f && fr.getFloat(4) == 1.0f)
  }

  test("eval_topk_agreement: prefix overlaps replay from hand-built " +
      "rankings; identical rankers agree 1.0 at every depth") {
    import spark.implicits._
    import graft.query.ml.{Agreement, Preference, Ranking, Scoring,
      Significance}
    import graft.query.stats.{Privacy, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("r14-rbo").toString
    // ranker A by n_chars, B by distinct tokens: doc0 tops A but is
    // LAST under B; docs 1..10 identical order under both
    val rows = (1 to 10).map { i =>
      val toks = (1 to (12 - i)).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, toks, 1000 - i)
    } :+ ((0L, "x x x x", 5000)) // huge chars, 1 distinct token
    rows.toDF("doc_id", "text", "n_chars").withColumn("lang", lit("en"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Ranking.evalTopkAgreement(spark, dir).collect()
    assert(out.length == 10)
    // ranks: A = doc0, 1, 2, ..; B = 1, 2, .., doc0 last
    // m(doc0) = 11 > 10; m(doc i) = i + 1 (A rank shifted by doc0)
    // overlap_d = #(i: i + 1 <= d) = d - 1
    out.foreach { r =>
      val d = r.getInt(0)
      assert(r.getLong(1) == d - 1, s"depth $d: ${r.getLong(1)}")
      assert(r.getFloat(2) == ((d - 1).toDouble / d).toFloat)
      assert(r.getFloat(3) == Ranking.rboWeights(d - 1).toFloat)
      assert(r.getFloat(4) == (Ranking.rboWeights(d - 1)
        * ((d - 1).toDouble / d)).toFloat)
    }
    // weights are a normalized distribution over the k depths
    assert(math.abs(Ranking.rboWeights.sum - 1.0) < 1e-12)
  }

  test("corpus_length_percentiles: percentile_disc picks land on the " +
      "hand-ranked values, including the n=1 edge") {
    import spark.implicits._
    import graft.query.TextAnalysis
    import graft.query.ml.Preference
    val dir = java.nio.file.Files.createTempDirectory("r14-pct").toString
    // en lengths 1..10 -> p50 = value at rank 5, p90 at 9, p99 at 10
    val rows = (1 to 10).map(i =>
      (i.toLong, (1 to i).map(j => s"w$j").mkString(" "), "en")) :+
      ((100L, "only doc", "fr"))
    rows.toDF("doc_id", "text", "lang")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusLengthPercentiles(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3), en.getLong(4),
      en.getLong(5)) == ((10L, 5L, 9L, 10L, 10L)))
    val fr = out("fr")
    assert((fr.getLong(1), fr.getLong(2), fr.getLong(3), fr.getLong(4)) ==
      ((1L, 2L, 2L, 2L)), "a singleton lang reports its only length")
  }
}
