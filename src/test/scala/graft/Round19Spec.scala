package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.query.Similarity
import graft.query.ml.Significance
import graft.schema.Schemas
import graft.streaming.StreamQueries

/** Round-19 guards, closing the r18 verdict's evidence gaps:
  *
  *  1. the IVF corpus-occupancy standing index rebuilds when
  *     `embeddings.parquet` is regenerated at the same path (the
  *     round-10 stale-index incident class — verdict #1's "Done ="),
  *  2. degenerate n_eff=0 bootstrap replicas produce NULL deltas that
  *     rank LAST in the BCa percentile selection, matching the oracle's
  *     `ORDER BY delta NULLS LAST` (verdict #2's forced-degenerate
  *     spec),
  *  3. the subsampled BCa variant collapses to the full interval when
  *     the corpus fits inside the target (mod = 1 ⇒ identical CI,
  *     widen = 1) — the cheap end of verdict #4's contract,
  *  4. `events.value` sits on the 1e-3 grid, so a1_mean_impute's
  *     round(value·1000) DECIMAL path is lossless quantization
  *     (ADVICE r18 #1's requested assertion),
  *  5. the paced multi-trigger variants of the r19 PacedState drains
  *     (two-level agg, left-outer stream join, split-bulk late data)
  *     equal their one-shot forms row for row.
  */
class Round19Spec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("IVF corpus-occupancy standing index: regenerating " +
      "embeddings.parquet at the same path rebuilds it (the eviction " +
      "fingerprint hashes the table the frame actually reads)") {
    val d = java.nio.file.Files.createTempDirectory("r19-occ").toString
    val emb = Schemas.table(spark, sf, "embeddings")
    def corpusOccTotal(pred: Column): Long = {
      emb.filter(pred).coalesce(1).write.mode("overwrite")
        .parquet(s"$d/embeddings.parquet")
      Similarity.annIvfDeltaAssign(spark, d)
        .agg(coalesce(sum(col("n_corpus")), lit(0L))).collect()(0).getLong(0)
    }
    def expected(pred: Column): Long =
      emb.filter(pred && col("vec_id") % 5 =!= 0).count()
    val predA = col("vec_id") < 300
    val predB = col("vec_id") < 120
    assert(expected(predA) != expected(predB),
      "fixture: the two generations must have different corpus sizes")
    assert(corpusOccTotal(predA) == expected(predA))
    // second generation at the SAME path: a cache keyed to the wrong
    // table (the pre-r18 lineitem default) would re-serve generation A
    assert(corpusOccTotal(predB) == expected(predB),
      "stale standing index served after same-path regeneration")
  }

  test("evalBootstrapBca: degenerate n_eff=0 replicas (NULL delta) " +
      "rank LAST in the percentile selection — the pinned cross-engine " +
      "NULL ordering") {
    val d = java.nio.file.Files.createTempDirectory("r19-bca-degen").toString
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    // event_ids 1 and 2: hash60(id:boot:r) draws Poisson weight 0 for
    // BOTH items at replicas {7, 13, 44, 47} — deterministic PRF, so
    // this fixture always contains n_eff=0 replicas
    Seq((1L, ts, 1L, "click", 0.25, "{}"),
        (2L, ts, 2L, "purchase", 0.75, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val boot = Significance.evalPairedBootstrap(spark, d, 50).collect()
    assert(boot.length == 50)
    val degenerate = boot.filter(_.isNullAt(6)) // delta
    assert(degenerate.nonEmpty, "fixture must produce n_eff=0 replicas")
    assert(degenerate.forall(_.getLong(1) == 0L),
      "NULL delta must coincide with n_eff=0")
    // driver replay of the pinned ranking: delta ASC NULLS LAST, replica
    val ranked = boot.sortBy(r =>
      (r.isNullAt(6), if (r.isNullAt(6)) 0f else r.getFloat(6),
        r.getInt(0)))
    val res = Significance.evalBootstrapBca(spark, d, 50).collect()
    assert(res.length == 1)
    val row = res(0)
    def deltaAt(rk: Int): Option[Float] = {
      val r = ranked(rk - 1)
      if (r.isNullAt(6)) None else Some(r.getFloat(6))
    }
    def got(i: Int): Option[Float] =
      if (row.isNullAt(i)) None else Some(row.getFloat(i))
    assert(got(8) == deltaAt(row.getInt(6)),
      "ci_lo must be the NULLS-LAST-ranked replica delta at idx_lo " +
        "(a NULLS-FIRST rank shifts every index by the degenerate count)")
    assert(got(9) == deltaAt(row.getInt(7)),
      "ci_hi must be the NULLS-LAST-ranked replica delta at idx_hi")
  }

  test("evalBootstrapBcaSampled: a corpus inside the target (mod = 1) " +
      "reproduces the full interval exactly, with widen = 1 and " +
      "n_full = the events count") {
    val full = Significance.evalBootstrapBca(spark, sf).collect()(0)
    val samp = Significance.evalBootstrapBcaSampled(spark, sf).collect()(0)
    // columns 0..9 are the shared interval surface
    (0 until 10).foreach { i =>
      assert(samp.get(i) == full.get(i),
        s"interval column $i diverged between full and mod=1 sampled")
    }
    assert(samp.getLong(10) == Schemas.events(spark, sf).count()) // n_full
    assert(samp.getFloat(11) == 1.0f) // widen = sqrt(N/N)
  }

  test("a1_mean_impute lossless-quantization precondition: " +
      "events.value sits on the 1e-3 grid (round(value*1000) is exact)") {
    val off = Schemas.events(spark, sf)
      .agg(max(abs(col("value") * lit(1000.0)
        - round(col("value") * lit(1000.0)))).as("o"))
      .collect()(0).getDouble(0)
    assert(off < 1e-6,
      s"events.value drifted off the 1e-3 grid (max offset $off): " +
        "a1_mean_impute's DECIMAL grid sum would no longer be the mean")
  }

  test("paced multi-trigger drains equal one-shot: two-level agg and " +
      "left-outer stream join under an advancing watermark; late-data " +
      "with the bulk split into time-ranged files") {
    // 4 time-ranged slices with ascending mtimes: the file source
    // replays them in event-time order, so the watermark advances (and
    // state evicts) between micro-batches — the PacedState shape at
    // spec scale
    val d = java.nio.file.Files.createTempDirectory("r19-paced").toString
    val ev = Schemas.events(spark, sf)
    val b = ev.agg(min(col("ts")).cast("long").as("lo"),
      (max(col("ts")).cast("long") + 1).as("hi")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val step = math.max(1L, (hi - lo) / 4 + 1)
    (0 until 4).foreach { i =>
      val stage = s"$d/stage_$i"
      ev.filter(col("ts").cast("long") >= lo + i * step &&
          col("ts").cast("long") < lo + (i + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$d/events.parquet/slice_$i.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1000000L + i * 1000L)
    }
    assert(canon(StreamQueries.streamTwoLevelAgg(spark, d,
        filesPerTrigger = Some(1)))
      == canon(StreamQueries.streamTwoLevelAgg(spark, d)))
    assert(canon(StreamQueries.streamStreamLeftJoin(spark, d,
        filesPerTrigger = Some(1)))
      == canon(StreamQueries.streamStreamLeftJoin(spark, d)))
    assert(canon(StreamQueries.streamLateData(spark, sf, bulkFiles = 4))
      == canon(StreamQueries.streamLateData(spark, sf)))
  }
}
