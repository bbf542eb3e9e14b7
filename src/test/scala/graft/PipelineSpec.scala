package graft

import org.apache.spark.sql.functions._
import graft.query.{Relational, TextAnalysis}
import graft.query.ml.{Features, Scoring}
import graft.query.stats.{Quality, Sampling}

/** Property specs for the training-data pipeline operators (round 4). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate: overlaps meet the floor, splits are disjoint, fractions valid") {
    val rows = TextAnalysis.decontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tr, ev, shared, frac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(tr % 37 != 0, s"train doc $tr is in the eval split")
      assert(ev % 37 == 0, s"eval doc $ev is not in the eval split")
      assert(shared >= 2 && frac > 0.0 && frac <= 1.0)
    }
    // the synthetic corpus contains a fully-contained eval doc — the
    // operator must surface it with eval_frac == 1.0
    assert(rows.exists(_.getDouble(3) == 1.0), "full containment not found")
  }

  test("pack_sequences: bins are contiguous, conserve docs/tokens, respect doc order") {
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
    val nDocs = docs.count()
    val totTok = docs.select(
      sum(size(graft.query.TokenHash.tokens($"text")).cast("long"))).head().getLong(0)
    val bins = TextAnalysis.packSequences(spark, sf).collect()
    assert(bins.map(_.getLong(1)).sum == nDocs)
    assert(bins.map(_.getLong(2)).sum == totTok)
    // bin ids ascending; doc ranges non-overlapping and ordered
    val ids = bins.map(_.getLong(0))
    assert(ids.sameElements(ids.sorted))
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) < b.getLong(3),
        s"bin ${a.getLong(0)} overlaps bin ${b.getLong(0)}")
      case _ =>
    }
  }

  test("train_test_split: 3 deterministic splits conserving docs, train largest") {
    val out = Features.trainTestSplit(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet == Set("train", "val", "test"))
    val total = graft.schema.Schemas.table(spark, sf, "documents").count()
    assert(out.map(_.getLong(1)).sum == total)
    val byName = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("train") > byName("val") + byName("test"))
    // deterministic: a second run returns identical rows
    assert(Features.trainTestSplit(spark, sf).collect().toSeq == out.toSeq)
  }

  test("class_weights: inverse-frequency invariant holds per class") {
    val ev = graft.schema.Schemas.events(spark, sf)
    val nTotal = ev.count()
    val counts = ev.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = counts.size
    Features.classWeights(spark, sf).collect().foreach { r =>
      val (et, w) = (r.getString(1), r.getDouble(2))
      val expected = nTotal.toDouble / (k * counts(et))
      assert(math.abs(w - expected) < 1e-12, s"$et: $w vs $expected")
    }
  }

  test("skew_profile: bands partition keys exactly, counts conserve rows") {
    val ev = graft.schema.Schemas.events(spark, sf)
    val totalRows = ev.count()
    val totalKeys = ev.select($"user_id").distinct().count()
    val bands = Quality.skewProfile(spark, sf).collect()
    assert(bands.map(_.getLong(1)).sum == totalKeys)
    assert(bands.map(_.getLong(4)).sum == totalRows)
    bands.foreach { r =>
      val (band, lo, hi) = (r.getInt(0), r.getLong(2), r.getLong(3))
      // a band holds exactly the counts with floor(log2(n)) == band
      assert(lo >= (1L << band) && hi < (1L << (band + 1)), r.toString)
    }
  }

  test("quality_topk_per_lang: k per language, descending score, ties by doc_id") {
    val out = TextAnalysis.qualityTopkPerLang(spark, sf, k = 5).collect()
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rows.length), lang)
      assert(rows.length <= 5)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getDouble(3), b.getDouble(3))
          assert(sa > sb || (sa == sb && a.getLong(2) < b.getLong(2)), lang)
        case _ =>
      }
    }
  }

  test("corpus_mix_budget: per-source cumulative tokens within budget, prefix-closed") {
    val out = TextAnalysis.corpusMixBudget(spark, sf, budget = 500L).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      // kept ranks are a prefix 1..m (never a gap: the running sum is
      // monotone, so once over budget always over)
      assert(sorted.map(_.getInt(2)).toSeq == (1 to rows.length), src)
      assert(sorted.last.getLong(3) <= 500L, src)
      val cums = sorted.map(_.getLong(3))
      assert(cums.sameElements(cums.sorted), src)
    }
  }

  test("feature_binning: 10 near-equal bins, monotone in value, broadcast plan") {
    val df = Features.featureBinning(spark, sf, maxId = Long.MaxValue)
    // boundaries broadcast; no single-partition window anywhere
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    val rows = df.collect()
    val n = rows.length
    val byBin = rows.groupBy(_.getInt(2)).view.mapValues(_.length).toMap
    assert(byBin.keySet == (1 to 10).toSet, byBin.toString)
    // equal-frequency: every decile holds ~n/10 (ties can skew slightly)
    byBin.values.foreach(c => assert(math.abs(c - n / 10.0) < n * 0.03))
    // monotone: higher value never lands in a lower bin
    val sorted = rows.sortBy(_.getDouble(1))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getInt(2) <= b.getInt(2))
      case _ =>
    }
  }

  test("text_inverted_index: postings sorted, length == df, ids within corpus slice") {
    val rows = graft.query.TextAnalysis.textInvertedIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (df, postings) = (r.getLong(1), r.getString(2).split(",").map(_.toLong))
      assert(postings.length == df, r.getString(0))
      assert(postings.sameElements(postings.sorted), r.getString(0))
      assert(postings.distinct.length == postings.length, r.getString(0))
      assert(postings.forall(id => id >= 0 && id < 200), r.getString(0))
      assert(df >= 3 && df <= 150)
    }
  }

  test("eval_confusion: counts conserve rows, fractions sum to 1, diagonal ~0.75") {
    val ev = graft.schema.Schemas.events(spark, sf)
    val total = ev.count()
    val cells = Scoring.evalConfusion(spark, sf).collect()
    assert(cells.map(_.getLong(2)).sum == total)
    cells.groupBy(_.getString(0)).foreach { case (label, rows) =>
      val fracSum = rows.map(_.getDouble(3)).sum
      assert(math.abs(fracSum - 1.0) < 1e-9, s"$label fracs sum $fracSum")
      val diag = rows.find(r => r.getString(1) == label).map(_.getDouble(3))
      // the pseudo-classifier keeps the label on h%20 < 15 => 75% expected
      assert(diag.exists(f => f > 0.70 && f < 0.80), s"$label diag $diag")
    }
  }

  test("sample_topk_per_group: salted two-phase == single global window per group") {
    import org.apache.spark.sql.expressions.Window
    val got = Sampling.sampleTopkPerGroup(spark, sf, k = 15, salts = 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // independent single-window reference
    val h = graft.query.TokenHash.hash60(
      concat($"event_id".cast("string"), lit(":smp")))
    val w = Window.partitionBy($"event_type").orderBy($"h", $"event_id")
    val ref = graft.schema.Schemas.events(spark, sf)
      .select($"event_id", $"event_type").withColumn("h", h)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 15)
      .select($"event_type", $"rn".cast("int"), $"event_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.sorted == ref.sorted)
    got.groupBy(_._1).foreach { case (g, rows) => assert(rows.length == 15, g) }
  }

  test("window_cumulative_distinct: monotone unit steps per type, no single-partition exchange") {
    val df = Relational.windowCumulativeDistinct(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // even the histogram prefix-sum partitions by event_type — nothing in
    // this plan funnels through one partition
    assert(!p.contains("SinglePartition"), p.take(2000))
    val rows = df.collect()
    // event_id order == (ts, event_id) order in the generated data? Not
    // guaranteed — re-sort per type by the cumulative value and check unit
    // steps from 1
    rows.groupBy(_.getString(1)).foreach { case (t, rs) =>
      val cums = rs.map(_.getLong(2)).sorted
      assert(cums.head >= 1, t)
      cums.sliding(2).foreach {
        case Array(a, b) => assert(b - a <= 1 && b >= a, s"$t: $a -> $b")
        case _ =>
      }
    }
  }

  test("text_repetition: score in [0,1), zero iff all bigrams distinct") {
    val rows = TextAnalysis.textRepetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d, rep) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d >= 1 && d <= n)
      assert(rep >= 0.0 && rep < 1.0)
      assert((rep == 0.0) == (n == d))
    }
  }
}
