package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.query.{Graph, Similarity}
import graft.query.stats.Privacy
import graft.streaming.StreamQueries

/** Round-18 guards: the streaming IVF maintenance twin (drain == batch
  * under multi-trigger splits), the DP privacy-budget ledger (exact µε
  * composition + empty-inventory contract), the fingerprint-persisted
  * incremental-CC base labeling (warm calls do delta-only work), and
  * the exact-arithmetic migrations of the three r17 x10 float-drift
  * queries.
  */
class Round18Spec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("stream_ann_ivf_assign: a 4-micro-batch drain (one file per " +
      "trigger) equals the batch delta-assignment report row for row — " +
      "cross-batch ValueState accumulates cell occupancy") {
    // directory-layout embeddings split into 4 part files: with
    // maxFilesPerTrigger=1 the delta arrives across 4 micro-batches, so
    // per-cell cumulative counts MUST cross batch boundaries through state
    val d = java.nio.file.Files.createTempDirectory("r18-ivf").toString
    graft.schema.Schemas.table(spark, sf, "embeddings")
      .repartition(4).write.parquet(s"$d/embeddings.parquet")
    val batch = canon(Similarity.annIvfDeltaAssign(spark, d))
    val streamed = canon(StreamQueries.streamAnnIvfAssign(spark, d,
      filesPerTrigger = Some(1)))
    assert(streamed == batch,
      s"streaming drain diverged from the batch report " +
        s"(${streamed.size} vs ${batch.size} rows)")
    // fixture sanity: some delta vectors actually arrived
    val totalDelta = Similarity.annIvfDeltaAssign(spark, d)
      .agg(sum(col("n_delta"))).collect()(0).getLong(0)
    assert(totalDelta > 0, "fixture must contain delta vectors")
  }

  test("privacy_budget_ledger: exact µε sums, advanced bound epilogue, " +
      "and per-release rows match the standing inventory") {
    val rows = Privacy.privacyBudgetLedger(spark, sf).collect()
    assert(rows.length == Privacy.defaultDpReleases.size + 2)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // basic composition: Σεᵢ on the exact µε grid
    val expectedMicro = Privacy.defaultDpReleases.map(_.eps_u).sum
    val basic = byName("zz_composition_basic")
    assert(basic.getLong(4) == expectedMicro, s"basic µε ${basic.getLong(4)}")
    assert(basic.getFloat(5) == (expectedMicro.toDouble / 1e6).toFloat)
    // the advanced bound is WORSE than basic here — it only wins for
    // many small ε, and the inventory's 3.0-ε top-k release dominates
    // the linear term; the ledger states the honest bound either way
    val adv = byName("zz_composition_advanced")
    assert(adv.isNullAt(4), "advanced row carries no exact-µε total")
    assert(adv.getFloat(5) > basic.getFloat(5))
    // per-release: topk is 3 sequential ε=1 peels; rand_response is ln 3
    assert(byName("privacy_dp_topk").getLong(4) == 3000000L)
    assert(byName("privacy_rand_response").getLong(4) ==
      Math.round(math.log(3.0) * 1e6))
  }

  test("privacy_budget_ledger: empty inventory yields the two zero-ε " +
      "composition rows (EdgeCase contract)") {
    val rows = Privacy.privacyBudgetLedger(spark, sf, Seq.empty).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, "n_draws must be 0 on an empty inventory")
      assert(r.getFloat(5) == 0.0f, s"ε must be 0 on an empty inventory: $r")
    }
  }

  test("graph_cc_incremental: the base labeling is a persisted standing " +
      "index — a warm call runs strictly fewer jobs than the cold call " +
      "and returns identical rows") {
    // fresh params → fresh cache key, so this test owns its cold/warm pair
    val params = (41, 4000001L)
    def run(): (Seq[String], Int) = {
      var jobs = 0
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val out = canon(Graph.graphCcIncremental(spark, sf,
          params._1, params._2))
        // listener delivery is async; a fixed settle beats touching the
        // private listenerBus API
        Thread.sleep(1500)
        (out, jobs)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val (cold, coldJobs) = run()
    val (warm, warmJobs) = run()
    assert(warm == cold)
    assert(warmJobs < coldJobs,
      s"warm call must skip the base labeling: cold=$coldJobs warm=$warmJobs")
  }

  test("exact-arithmetic migrations: q3_optimal_time band filter is the " +
      "integer inequality and revenue/acctbal sums ride the cents grid") {
    import graft.query.Relational
    // q3: every emitted hour satisfies the EXACT band on the ×10³ grid
    val q3 = Relational.q3OptimalTime(spark, sf).collect()
    q3.foreach { r =>
      val score = r.getDouble(1)
      assert(score >= 45.0 - 1e-9 && score <= 52.0 + 1e-9, s"band: $r")
    }
    // join_broadcast_dim: revenue equals the independently-computed
    // exact cents×(100−disc) sum for one brand
    val li = graft.schema.Schemas.table(spark, sf, "lineitem")
    val p = graft.schema.Schemas.table(spark, sf, "part")
    val brand = p.select(col("p_brand")).limit(1).collect()(0).getString(0)
    val expected = li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === brand)
      .select((expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
        (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
        .as("c4"))
      .agg(sum(col("c4"))).collect()(0).getLong(0)
    val got = Relational.joinBroadcastDim(spark, sf)
      .filter(col("p_brand") === brand).collect()(0).getDouble(1)
    assert(got == expected.toDouble / 10000.0, s"$got vs $expected")
  }

  test("sample_domain_mixture: integer allocation identities hold per " +
      "source and the plan matches a driver-side recomputation") {
    import graft.query.TextAnalysis
    import graft.query.stats.Sampling
    val rows = Sampling.sampleDomainMixture(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val supply = docs.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(_._2).sum }
    val total = supply.values.sum
    val k = supply.size
    val target = total / k
    rows.foreach { r =>
      val (src, sup) = (r.getString(0), r.getLong(2))
      assert(sup == supply(src), s"supply mismatch for $src")
      assert(r.getLong(3) == target)
      assert(r.getDouble(4) ==
        math.min(1.0, target.toDouble / sup.toDouble), s"rate: $r")
      assert(r.getLong(6) == math.min(sup, target))
      assert(r.getLong(7) == math.max(0L, target - sup))
      // capped take + uncovered deficit account for the full target
      assert(r.getLong(6) + r.getLong(7) == target)
    }
  }

  test("layout_bloom_prune: bloom skipping discriminates where min/max " +
      "cannot, never misses a true zone, and absent probes stay near zero") {
    import graft.query.Warehouse
    val rows = Warehouse.layoutBloomPrune(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.size == 6)
    rows.foreach { case (pk, (nZones, mm, bloom, truth, fp)) =>
      // no false negatives: every zone truly containing the key is scanned
      assert(bloom >= truth, s"bloom missed a true zone for $pk")
      assert(fp == bloom - truth)
      assert(mm <= nZones && bloom <= nZones)
      if (pk > 1000000L) assert(truth == 0L, s"absent probe $pk has rows")
    }
    // the mechanism's reason to exist: a hashed high-cardinality key makes
    // min/max scan (nearly) everything on present probes, bloom far less
    val present = rows.filter(_._1 < 1000000L).values
    assert(present.forall { case (n, mm, _, _, _) => mm == n },
      "suppkeys span every zone, so range stats must prune nothing")
    val absent = rows.filter(_._1 > 1000000L).values
    assert(absent.forall { case (n, _, bloom, _, _) => bloom < n },
      "an absent probe must be bloom-pruned somewhere")
  }

  test("text_dsir_importance: per-doc feature count equals the token " +
      "count and the target-language slice scores higher on average") {
    import graft.query.TextAnalysis
    import graft.query.stats.Sampling
    val w = TextAnalysis.textDsirImportance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getFloat(2))).toSeq
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          graft.query.TokenHash.tokens(col("text"))).cast("long").as("n"),
        col("lang")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(w.size == docs.size, "one weight row per document")
    w.foreach { case (id, n, _) =>
      assert(n == docs(id)._1, s"token count mismatch for doc $id")
    }
    def mean(xs: Seq[Float]): Double =
      if (xs.isEmpty) 0.0 else xs.map(_.toDouble).sum / xs.size
    val en = w.filter(x => docs(x._1)._2 == "en").map(_._3)
    val rest = w.filter(x => docs(x._1)._2 != "en").map(_._3)
    assert(en.nonEmpty && rest.nonEmpty, "fixture needs both slices")
    assert(mean(en) > mean(rest),
      s"DSIR must favor the target slice: en=${mean(en)} rest=${mean(rest)}")
  }
}
