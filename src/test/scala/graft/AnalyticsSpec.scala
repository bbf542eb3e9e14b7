package graft

import org.apache.spark.sql.functions._
import graft.query.{Graph, Relational, Similarity, TextAnalysis}
import graft.query.stats.{Anomaly, Sampling, TimeSeries}

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("graph_triangles: degree-ordered count equals the brute-force 3-way join") {
    val row = Graph.graphTriangles(spark, sf).collect()(0)
    val nTri = row.getAs[Long]("n_triangles")
    // brute force: unoriented distinct edges, u<v<w closure
    val li = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e = li.as("a").join(li.as("b"), Seq("ok"))
      .filter($"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct().cache()
    val brute = e.as("e1")
      .join(e.select($"u", $"v".as("w")).as("e2"), Seq("u"))
      .filter($"v" < $"w")
      .join(e.select($"u".as("v"), $"v".as("w")).as("e3"), Seq("v", "w"),
        "left_semi")
      .count()
    assert(nTri == brute, s"oriented=$nTri brute=$brute")
    // wedge identity: closed triangles can't exceed open wedges / 3
    assert(3 * nTri <= row.getAs[Long]("n_wedges"))
    val cc = row.getAs[Float]("clustering_coeff")
    assert(cc >= 0f && cc <= 1f)
  }

  test("graph_pagerank: probability mass conserved (sums to 1), all ranks positive") {
    val pr = Graph.graphPagerank(spark, sf, maxVertex = Long.MaxValue)
      .cache()
    assert(pr.filter($"pagerank" <= 0f).count() == 0)
    val mass = pr.agg(sum($"pagerank".cast("double"))).as[Double].collect()(0)
    // no dangling vertices on an undirected edge list ⇒ each iteration
    // redistributes exactly 1.0 of rank (float rounding per vertex only)
    assert(math.abs(mass - 1.0) < 1e-3, s"mass=$mass")
  }

  test("agg_mode_per_key: struct-argmax mode equals the window-rank mode") {
    val out = Relational.aggModePerKey(spark, sf)
      .select($"user_id", $"mode_type", $"mode_n")
      .as[(Long, String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n".desc, $"event_type")
    val expect = graft.schema.Schemas.events(spark, sf)
      .filter($"user_id" < 200)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type", $"n")
      .as[(Long, String, Long)].collect().toSet
    assert(out == expect)
  }

  test("ts_resample_interp: grid-aligned timestamps, values inside the bracketing interval") {
    val step = 3600000000L
    val out = TimeSeries.tsResampleInterp(spark, sf).cache()
    assert(out.filter($"grid_us" % step =!= 0).count() == 0)
    // interpolation is convex: every value within the user's global range
    val bounds = graft.schema.Schemas.events(spark, sf)
      .filter($"user_id" < 5)
      .groupBy($"user_id")
      .agg(min($"value").as("lo"), max($"value").as("hi"))
    assert(out.join(bounds, Seq("user_id"))
      .filter($"value_interp" < $"lo" - 1e-3 || $"value_interp" > $"hi" + 1e-3)
      .count() == 0)
    // grid covers [ceil(min), floor(max)] per user: count matches span
    val spans = graft.schema.Schemas.events(spark, sf)
      .filter($"user_id" < 5)
      .select($"user_id", unix_micros($"ts").as("t"))
      .groupBy($"user_id").agg(min($"t").as("mn"), max($"t").as("mx"))
      .select($"user_id", expr(
        s"(mx DIV $step) - ((mn + ${step - 1}) DIV $step) + 1")
        .as("expect_n"))
    val got = out.groupBy($"user_id").agg(count(lit(1)).as("n"))
    assert(got.join(spans, Seq("user_id"))
      .filter($"n" =!= $"expect_n").count() == 0)
  }

  test("dedup_containment: planted prefix copies are contained; containment ≥ jaccard pairwise") {
    val cont = graft.query.Dedup.dedupContainment(spark, sf)
      .select($"doc_a", $"doc_b", $"containment").cache()
    // planted near-dup (prefix-extended copy) ⇒ original ⊂ copy, so
    // containment ≈ 1 — every planted pair must survive the 0.5 gate
    val planted = cont
      .filter($"doc_b" === $"doc_a" + 1000000L && $"containment" > 0.9)
      .count()
    assert(planted >= 5, s"only $planted planted pairs found")
    // containment dominates jaccard (min ≤ union) on shared pairs
    val jac = graft.query.Dedup.dedupNgramJaccard(spark, sf)
      .select($"doc_a", $"doc_b", $"jaccard")
    assert(cont.join(jac, Seq("doc_a", "doc_b"))
      .filter($"containment" < $"jaccard" - 1e-9).count() == 0)
  }

  test("anomaly_zscore: every row beyond threshold; count matches recomputed stats") {
    val out = Anomaly.anomalyZscore(spark, sf).cache()
    assert(out.filter(abs($"z") <= 3.0).count() == 0)
    val ev = graft.schema.Schemas.events(spark, sf)
    val stats = ev.groupBy($"event_type")
      .agg(avg($"value").as("m"), stddev_samp($"value").as("sd"))
    val expect = ev.join(stats, Seq("event_type"))
      .filter(abs((($"value" - $"m") / $"sd").cast("float")) > 3.0)
      .count()
    assert(out.count() == expect)
  }

  test("sample_weighted: deterministic, and acceptance rate tracks mean(value)/max(value)") {
    val a = Sampling.samplePropValue(spark, sf).collect().toSeq
    val b = Sampling.samplePropValue(spark, sf).collect().toSeq
    assert(a == b) // hash-derived, not rand(): identical across runs
    val ev = graft.schema.Schemas.events(spark, sf)
    val n = ev.count().toDouble
    val Seq((mean, mx)) = ev.agg(avg($"value"), max($"value"))
      .as[(Double, Double)].collect().toSeq
    val expectedRate = mean / mx
    val rate = a.size / n
    // 10k Bernoulli trials: 5 sigma ≈ 5·sqrt(p(1-p)/n) < 0.025
    assert(math.abs(rate - expectedRate) < 0.05,
      s"rate=$rate expected≈$expectedRate")
  }

  test("window_rolling_median: bounded by its frame; singleton frame is the value itself") {
    val ev = graft.schema.Schemas.events(spark, sf).filter($"user_id" < 40)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-6, 0)
    val checked = Relational.rollingMedian(spark, sf)
      .join(ev.select($"event_id", min($"value").over(w).as("lo"),
        max($"value").over(w).as("hi"),
        count(lit(1)).over(w).as("nf")), Seq("event_id"))
    // float32 output: ulp(490f) ≈ 6e-5, so compare at 1e-3
    assert(checked.filter($"rolling_median" < $"lo" - 1e-3 ||
      $"rolling_median" > $"hi" + 1e-3).count() == 0)
    assert(checked.filter($"nf" === 1 &&
      abs($"rolling_median" - $"value") > 1e-3).count() == 0)
  }

  test("window_ewma: within frame bounds; singleton frame equals the value; weights sum to 1") {
    val ev = graft.schema.Schemas.events(spark, sf).filter($"user_id" < 40)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-7, 0)
    val checked = Relational.windowEwma(spark, sf)
      .join(ev.select($"event_id", min($"value").over(w).as("lo"),
        max($"value").over(w).as("hi"),
        count(lit(1)).over(w).as("nf")), Seq("event_id"))
    // normalized weights ⇒ ewma is a convex combination of the frame
    assert(checked.filter($"ewma" < $"lo" - 1e-3 ||
      $"ewma" > $"hi" + 1e-3).count() == 0)
    assert(checked.filter($"nf" === 1 && abs($"ewma" - $"value") > 1e-3)
      .count() == 0)
  }

  test("agg_sketch_merge: merged HLL estimate lands within the 5% bound everywhere") {
    val out = Relational.aggSketchMerge(spark, sf).cache()
    assert(out.count() == 5)
    assert(out.filter(!$"est_within_8pct").count() == 0)
  }

  test("ann_centroid_classify: argmax matches an independent HOF dot-product plan") {
    val out = Similarity.centroidClassify(spark, sf)
      .select($"vec_id", $"pred_label").as[(Long, Int)].collect().toMap
    // independent plan: centroids via avg over posexploded components,
    // scored with the interpreted zip_with/aggregate dot (not float_dot)
    val cent = Similarity.embeddingCentroids(spark, sf)
      .groupBy($"label".as("c_label"))
      .agg(transform(array_sort(collect_list(struct($"pos", $"centroid"))),
        x => x.getField("centroid").cast("double")).as("cv"))
    val emb = graft.schema.Schemas.table(spark, sf, "embeddings")
    val expect = emb.crossJoin(broadcast(cent))
      .withColumn("cos", Similarity.dot($"embedding", $"cv"))
      .groupBy($"vec_id")
      .agg(max(struct($"cos", (-$"c_label").as("neg"))).as("best"))
      .select($"vec_id", (-$"best.neg").as("pred"))
      .as[(Long, Int)].collect().toMap
    assert(out == expect)
  }

  test("embedding_centroids: per-label n equals the label's row count; 64 positions per label") {
    val out = Similarity.embeddingCentroids(spark, sf).cache()
    val perLabel = out.groupBy($"label")
      .agg(countDistinct($"pos").as("npos"), max($"n").as("nmax"),
        min($"n").as("nmin"))
    assert(perLabel.filter($"npos" =!= 64 || $"nmax" =!= $"nmin").count() == 0)
    val counts = graft.schema.Schemas.table(spark, sf, "embeddings")
      .groupBy($"label").agg(count(lit(1)).as("nrows"))
    assert(perLabel.join(counts, Seq("label"))
      .filter($"nmax" =!= $"nrows").count() == 0)
  }

  test("text_entropy: zero for degenerate docs, bounded by ln(n_distinct)") {
    val out = TextAnalysis.textEntropy(spark, sf).cache()
    assert(out.filter($"entropy" < -1e-6).count() == 0)
    assert(out.filter($"entropy" > log($"n_distinct".cast("double")) + 1e-4)
      .count() == 0)
    assert(out.filter($"n_distinct" === 1 && abs($"entropy") > 1e-6)
      .count() == 0)
  }

  test("text_unigram_logprob: strictly negative for multi-token vocab; token totals consistent") {
    val out = TextAnalysis.unigramLogprob(spark, sf).cache()
    // every token prob < 1 under a vocab with ≥ 2 distinct tokens
    assert(out.filter($"avg_logprob" >= 0.0).count() == 0)
    val totalToks = graft.schema.Schemas.table(spark, sf, "documents")
      .select(size(graft.query.TokenHash.tokens($"text")).cast("long").as("n"))
      .agg(sum($"n")).as[Long].collect()(0)
    assert(out.agg(sum($"n_tokens")).as[Long].collect()(0) == totalToks)
  }

  test("cooccur_pmi: k rows in deterministic count-desc order with exact unigram counts") {
    val rows = TextAnalysis.cooccurPmi(spark, sf, k = 20).collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getAs[Long]("n_ab")).toSeq
    assert(counts == counts.sorted.reverse)
    // spot-check one unigram count against a direct count
    val r0 = rows(0)
    val direct = graft.schema.Schemas.table(spark, sf, "documents")
      .select(explode(graft.query.TokenHash.tokens($"text")).as("tok"))
      .filter($"tok" === r0.getAs[String]("a")).count()
    assert(r0.getAs[Long]("n_a") == direct)
  }
}
