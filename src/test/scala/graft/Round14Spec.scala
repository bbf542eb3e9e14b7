package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Graph, Relational, TextAnalysis, Warehouse}
import graft.query.ml.{Scoring, Significance}
import graft.query.stats.{Anomaly, Drift, Privacy, Quality, Sampling,
  TimeSeries}
import graft.schema.Schemas

/** Round-14 operators: weighted sampling, weighted median, interval
  * union, PSI drift, FK profiling, linear attribution, k-core,
  * edit-distance similarity join, VARIANT extraction, and event-time
  * batch dedup. Each test pins an invariant or a driver-side brute
  * force on sf0.001, independent of the DuckDB oracle that pins the
  * same semantics at sf0.01 — these catch regressions that move BOTH
  * engine and oracle. */
class Round14Spec extends SparkSpec {

  test("sample_weighted: deterministic, size-k, keys ascending") {
    val a = Sampling.sampleWeighted(spark, sf, k = 50).collect()
    val b = Sampling.sampleWeighted(spark, sf, k = 50).collect()
    assert(a.toSeq == b.toSeq, "re-run must be bit-identical")
    assert(a.length == 50)
    val keys = a.map(_.getFloat(2))
    assert(keys.zip(keys.tail).forall { case (x, y) => x <= y },
      "exponential keys must be emitted in ascending order")
  }

  test("sample_weighted: heavier rows are overrepresented vs uniform") {
    // the weighted sample's mean o_totalprice must exceed the
    // population mean — the whole point of importance weighting
    val popMean = Schemas.table(spark, sf, "orders")
      .agg(avg(col("o_totalprice"))).collect()(0).getDouble(0)
    val sampMean = Sampling.sampleWeighted(spark, sf, k = 100)
      .agg(avg(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(sampMean > popMean,
      s"weighted sample mean $sampMean should exceed population $popMean")
  }

  test("agg_weighted_median: brute-force crossing per group") {
    val rows = Schemas.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    val expect = rows.groupBy(_._1).map { case (rf, g) =>
      val sorted = g.sortBy(t => (t._2, t._4, t._5))
      val tot = sorted.map(_._3).sum
      var cum = 0L
      val med = sorted.find { t => cum += t._3; cum * 2 >= tot }.get._2
      rf -> (med, tot)
    }
    val got = Relational.aggWeightedMedian(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == expect)
  }

  test("ts_interval_union: bounds and a hand-built overlap fixture") {
    val hold = 300L * 1000000L
    val got = TimeSeries.tsIntervalUnion(spark, sf).collect()
    val perUser = Schemas.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val (u, islands, covered) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val n = perUser(u)
      assert(islands >= 1 && islands <= n)
      assert(covered >= hold, s"user $u: one event covers >= hold")
      assert(covered <= n * hold, s"user $u: union cannot exceed sum")
    }
    // driver brute force on one user: merge intervals by sweep
    val u0 = got.head.getLong(0)
    val ts = Schemas.events(spark, sf).filter(col("user_id") === u0)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    var end = Long.MinValue; var covered = 0L; var islands = 0L
    ts.foreach { s =>
      if (s > end) { islands += 1; covered += hold; end = s + hold }
      else { covered += (s + hold) - end; end = s + hold }
    }
    val row = got.find(_.getLong(0) == u0).get
    assert(row.getLong(1) == islands && row.getLong(2) == covered)
  }

  test("drift_psi: every term is non-negative (Gibbs)") {
    val terms = Drift.driftPsi(spark, sf).collect()
      .map(_.getFloat(3))
    assert(terms.forall(_ >= -1e-7f),
      s"(p-q)ln(p/q) >= 0 termwise; got ${terms.mkString(",")}")
  }

  test("dq_join_profile: conservation and clean-FK witness") {
    val rows = Quality.dqJoinProfile(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "child = matched + orphan")
      val rate = r.getDouble(5)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the synthetic star schema is referentially clean — both rates 1.0
    assert(rows.forall(_.getDouble(5) == 1.0))
  }

  test("attribution_linear: credit conservation") {
    val total = Schemas.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    val credited = Warehouse.attributionLinear(spark, sf).collect()
      .map(_.getFloat(2).toDouble).sum
    assert(math.abs(credited - total) < 1e-3 * math.abs(total),
      s"sum of credit $credited must equal purchase value $total")
  }

  test("graph_kcore: peel bites, survivors within initial degrees") {
    // rebuild the co-purchase degree table from lineitem (the index
    // itself is private[query]); same edge semantics as the oracle CTE
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val init = edges.select(col("u"))
      .unionAll(edges.select(col("v")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val core = Graph.graphKcore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(core.nonEmpty, "p10 threshold must keep a core")
    assert(core.length < init.size, "p10 threshold must peel something")
    core.foreach { case (v, d) =>
      assert(init.contains(v) && d <= init(v),
        s"induced degree of $v can only shrink")
    }
  }

  test("join_edit_distance: matches brute force over the vocabulary") {
    val names = Schemas.table(spark, sf, "part")
      .select(col("p_name")).distinct().collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      a <- names; b <- names if a < b
      dist = lev(a, b) if dist <= 2
    } yield (a, b, dist)).toSet
    val got = Relational.joinEditDistance(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
  }

  test("join_edit_distance: plan has no cartesian / nested-loop join") {
    val plan = Relational.joinEditDistance(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
  }

  test("f_variant_json: every event carries k; avg within [min,max]") {
    val rows = Relational.fVariantJson(spark, sf).collect()
    val perType = Schemas.table(spark, sf, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == perType(r.getString(0)),
        "all props rows parse under VARIANT")
      assert(r.getInt(3) <= r.getInt(4))
      assert(r.getDouble(5) >= r.getInt(3) && r.getDouble(5) <= r.getInt(4))
    }
  }

  test("dedup_time_window: one survivor per bucket, idempotent") {
    val kept = Dedup.dedupTimeWindow(spark, sf)
    val dup = kept.groupBy(col("user_id"), col("event_type"),
        col("win_start")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(dup == 0, "at most one kept row per (user, type, window)")
    val total = Schemas.events(spark, sf).count()
    assert(kept.count() <= total)
    // kept set must be a fixpoint: every kept row is its own bucket's
    // first row, so re-deduping the kept rows changes nothing
    val w = lit(600L * 1000000L)
    val again = kept
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("win_start"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"), col("win_start"))
          .orderBy(col("event_id"))))
      .filter(col("rn") === 1).count()
    assert(again == kept.count())
  }

  test("corpus_sample_stratified: exact ceil(10%) per stratum") {
    val sizes = Schemas.table(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TextAnalysis.corpusSampleStratified(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byLang = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    sizes.foreach { case (lang, n) =>
      assert(byLang.getOrElse(lang, 0L) == (n + 9) / 10,
        s"$lang: ${byLang.get(lang)} vs ceil($n/10)")
    }
    val all = Schemas.table(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept.forall(d => all.contains(d._1)))
  }

  test("anomaly_rolling_z: driver replay on the flagged rows") {
    val got = Anomaly.anomalyRollingZ(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getFloat(3)))
    assert(got.forall { case (_, _, _, z) => math.abs(z) > 3.0f - 1e-4f })
    // recompute z for every flagged event from that user's raw series
    val byUser = Schemas.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (t._2, t._3)).map(e => (e._3, e._4)).toIndexedSeq)
      .toMap
    got.foreach { case (eid, uid, v, z) =>
      val series = byUser(uid)
      val i = series.indexWhere(_._1 == eid)
      val frame = series.slice(math.max(0, i - 20), i).map(_._2)
      val n = frame.length
      assert(n >= 10)
      val s1 = frame.sum; val s2 = frame.map(x => x * x).sum
      val mean = s1 / n
      val variance = (s2 - s1 * s1 / n) / (n - 1)
      val expectZ = (v - mean) / math.sqrt(variance)
      assert(math.abs(expectZ - z) < 1e-3,
        s"event $eid: replay $expectZ vs engine $z")
    }
  }

  test("agg_histogram_quantiles: ordered, in-range, within a bin width") {
    val est = Relational.aggHistogramQuantiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getFloat(2)).toMap
    assert(est("p50") <= est("p90") && est("p90") <= est("p99"))
    val xs = Schemas.table(spark, sf, "lineitem")
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val (lo, hi) = (xs.head, xs.last)
    val width = (hi - lo) / 32
    def exactK(k: Long): Double = xs((k - 1).toInt)
    val n = xs.length.toLong
    val ks = Map("p50" -> (n + 1) / 2, "p90" -> (n * 9 + 9) / 10,
      "p99" -> (n * 99 + 99) / 100)
    ks.foreach { case (q, k) =>
      val e = est(q)
      assert(e >= lo && e <= hi)
      assert(math.abs(e - exactK(k)) <= width + 1e-6,
        s"$q: estimate $e vs exact ${exactK(k)} (bin width $width)")
    }
  }

  test("sql_inactive_customers: membership re-derived brute force") {
    val custs = Schemas.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val orders = Schemas.table(spark, sf, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val balAvg = { val p = custs.map(_._3).filter(_ > 0); p.sum / p.length }
    val hiBar = orders.map(_._2).sum / orders.length * 2.0
    val big = orders.filter(_._2 > hiBar).map(_._1).toSet
    val expect = custs
      .filter(c => c._3 > balAvg && !big.contains(c._1))
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = Warehouse.sqlInactiveCustomers(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got $got vs $expect")
  }

  test("transformWithState: full drain equals batch; state carries across micro-batches") {
    import graft.streaming.StreamQueries
    val batch = Schemas.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("float").as("sum_value"),
        max(col("ts")).as("last_ts"))
      .orderBy(col("user_id")).collect()
    val single = StreamQueries.streamTransformWithState(spark, sf).collect()
    assert(single.toSeq == batch.toSeq)
    // 3 files, 1 per micro-batch: the RocksDB ValueState must carry the
    // running (n, sum, max) across batches for the final emission per
    // key to equal the batch aggregate
    val splitDir = java.nio.file.Files
      .createTempDirectory("graft-tws-split").toString
    Schemas.events(spark, sf)
      .select(col("event_id"),
        expr("timestamp_micros(unix_micros(ts)) AS ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(3, col("event_id"))
      .write.mode("overwrite").parquet(splitDir)
    val multi = StreamQueries.streamTransformWithStateFrom(
      spark, splitDir, rawEvents = false, filesPerTrigger = Some(1))
      .collect()
    assert(multi.toSeq == batch.toSeq,
      "multi-batch drain must equal the batch aggregate")
  }

  test("quality_lang_confusion: mass equals the corpus") {
    val rows = TextAnalysis.qualityLangConfusion(spark, sf).collect()
    val total = Schemas.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total)
    val langs = Schemas.table(spark, sf, "documents")
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet.subsetOf(langs))
  }

  test("agg_dow_hour_grid: bounded axes, mass equals events") {
    val rows = Relational.aggDowHourGrid(spark, sf).collect()
    assert(rows.length <= 168)
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 6)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23)
      assert(r.getLong(3) <= r.getLong(2), "users <= events per cell")
    }
    assert(rows.map(_.getLong(2)).sum == Schemas.events(spark, sf).count())
  }

  test("graph_two_hop_reach: reach dominates the 1-hop degree") {
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val deg = edges.select(col("u")).unionAll(edges.select(col("v")))
      .filter(col("u") % 16 === 0)
      .groupBy(col("u")).agg(count(lit(1)).as("deg")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reach = Graph.graphTwoHopReach(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reach.keySet == deg.keySet)
    reach.foreach { case (v, r) =>
      assert(r >= deg(v), s"vertex $v: 2-hop reach $r < degree ${deg(v)}")
    }
  }

  test("privacy_dp_counts: noise reconciles, exact counts exact") {
    val rows = Privacy.privacyDpCounts(spark, sf).collect()
    val exact = Schemas.table(spark, sf, "customer")
      .groupBy(col("c_nationkey")).agg(count(lit(1))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == exact(r.getInt(0)))
      assert(math.abs(r.getLong(1) + r.getFloat(2) - r.getFloat(3)) < 1e-2f)
    }
  }

  test("corpus_mix_weights: shares sum to 1, weight inverts the share") {
    val rows = TextAnalysis.corpusMixWeights(spark, sf).collect()
    val l = rows.length
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) * r.getDouble(2) - 1.0 / l) < 1e-12)
    }
  }

  test("sql_priority_returns: total equals distinct returned orders") {
    val total = Warehouse.sqlPriorityReturns(spark, sf).collect()
      .map(_.getLong(1)).sum
    val expect = Schemas.table(spark, sf, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(Schemas.table(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey")).distinct().count()
    assert(total == expect)
  }

  test("stream_idle_timeout: timers emit exactly the watermark-idle users") {
    import graft.streaming.StreamQueries
    val got = StreamQueries.streamIdleTimeout(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver replay of the ms-floor timer contract
    val perUser = Schemas.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(unix_micros(col("ts"))).as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wm = perUser.map(_._3).max / 1000 - 600000L
    val expect = perUser
      .filter { case (_, _, mx) => mx / 1000 + 1800000L <= wm }
      .map(t => t._1 -> t._2).toMap
    assert(got == expect)
    // the gate is genuinely exercised: some users idle, some still live
    assert(expect.nonEmpty && expect.size < perUser.length,
      s"${expect.size} of ${perUser.length} idle")
  }

  test("eval_ks_test: driver brute-force replay, D in [0,1]") {
    val r = Significance.evalKsTest(spark, sf).collect()(0)
    val (na, nb, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(d >= 0.0 && d <= 1.0)
    val rows = Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val a = rows.filter(_._1 == "click").map(_._2).sorted
    val b = rows.filter(_._1 == "purchase").map(_._2).sorted
    assert(na == a.length && nb == b.length)
    val pooled = (a ++ b).distinct.sorted
    val dBrute = pooled.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length
        - b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(d - dBrute) < 1e-12, s"$d vs $dBrute")
  }

  test("sql_monthly_cum_revenue: monotone cumulative closing at share 1") {
    val rows = Warehouse.sqlMonthlyCumRevenue(spark, sf).collect()
    val cums = rows.map(_.getLong(2))
    assert(cums.zip(cums.tail).forall { case (x, y) => x < y })
    assert(rows.last.getDouble(3) == 1.0)
    assert(rows.map(_.getLong(1)).sum == rows.last.getLong(2))
  }

  test("eval_decile_lift: mass conserved, lift averages to 1") {
    val rows = Scoring.evalDecileLift(spark, sf).collect()
    assert(rows.length == 10)
    val nTotal = Schemas.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nTotal)
    // Σ decile_n · response = total positives ⇒ weighted lift avg = 1
    val weighted = rows.map(r => r.getLong(1) * r.getFloat(4).toDouble).sum
    assert(math.abs(weighted / nTotal - 1.0) < 1e-4,
      s"weighted mean lift ${weighted / nTotal}")
  }

  test("privacy_t_closeness_tv: TV in [0,1], zero only for exact match") {
    val rows = Privacy.privacyTClosenessTv(spark, sf).collect()
    val classes = Schemas.table(spark, sf, "customer")
      .select(col("c_nationkey")).distinct().count()
    assert(rows.length == classes)
    rows.foreach { r =>
      val tv = r.getFloat(2)
      assert(tv >= 0.0f && tv <= 1.0f)
    }
    // driver replay for one class
    val cust = Schemas.table(spark, sf, "customer")
      .select(col("c_nationkey"), col("c_mktsegment")).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val nk0 = rows.head.getInt(0)
    val cls = cust.filter(_._1 == nk0)
    val segs = cust.map(_._2).distinct
    val tv = segs.map { s =>
      math.abs(cls.count(_._2 == s).toDouble / cls.length
        - cust.count(_._2 == s).toDouble / cust.length)
    }.sum / 2.0
    assert(math.abs(rows.head.getFloat(2) - tv) < 1e-5)
  }

  test("dq_volume_anomaly: warm-up excluded, ratio re-derived per day") {
    val rows = Quality.dqVolumeAnomaly(spark, sf).collect()
    val daily = Schemas.events(spark, sf)
      .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val days = daily.keys.toSeq.sorted
    // trail count for the i-th observed day is min(i, 7) ⇒ the ≥3
    // warm-up filter keeps exactly days 4..n
    assert(rows.length == days.length - 3)
    rows.foreach { r =>
      val d = r.getLong(0)
      val trail = days.filter(_ < d).takeRight(7).map(daily)
      assert(r.getLong(1) == daily(d))
      assert(r.getLong(2) == trail.length)
      val expect = daily(d).toDouble * trail.length / trail.sum
      assert(math.abs(r.getDouble(3) - expect) < 1e-12)
      assert(r.getBoolean(4) == (expect >= 1.5 || expect <= 0.5))
    }
  }

  test("ListState/MapState: full drains equal batch; state merges across micro-batches") {
    import graft.streaming.StreamQueries
    // batch twins
    val topBatch = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Schemas.events(spark, sf)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_seen"),
          max(when(col("rk") === 1, col("value"))).as("v1"),
          max(when(col("rk") === 2, col("value"))).as("v2"),
          max(when(col("rk") === 3, col("value"))).as("v3"))
        .orderBy(col("user_id")).collect()
    }
    val cntBatch = Schemas.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("event_type")).collect()
    assert(StreamQueries.streamUserTopValues(spark, sf).collect().toSeq
      == topBatch.toSeq)
    assert(StreamQueries.streamUserTypeCounts(spark, sf).collect().toSeq
      == cntBatch.toSeq)
    // 3 files, 1 per micro-batch: list prune and map increments must
    // merge across batches to still equal the batch twins
    val splitDir = java.nio.file.Files
      .createTempDirectory("graft-tws-split2").toString
    Schemas.events(spark, sf)
      .select(col("event_id"),
        expr("timestamp_micros(unix_micros(ts)) AS ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(3, col("event_id"))
      .write.mode("overwrite").parquet(splitDir)
    assert(StreamQueries.streamUserTopValuesFrom(spark, splitDir,
      rawEvents = false, Some(1)).collect().toSeq == topBatch.toSeq)
    assert(StreamQueries.streamUserTypeCountsFrom(spark, splitDir,
      rawEvents = false, Some(1)).collect().toSeq == cntBatch.toSeq)
  }

  test("ann_recall_curve: recall and candidate volume strictly widen with probes") {
    val rows = graft.query.Similarity.annRecallCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rows.foreach { case (_, rec, _) => assert(rec >= 0.0 && rec <= 1.0) }
    rows.zip(rows.tail).foreach { case ((_, r1, c1), (_, r2, c2)) =>
      assert(r2 >= r1, "recall must not shrink as probes widen")
      assert(c2 > c1, "candidate volume must grow with probes")
    }
    assert(rows.last._2 > rows.head._2,
      "the sweep must show a real recall/cost trade-off")
  }

  test("emb_cell_balance: histogram mass equals the corpus, shares close") {
    val rows = graft.query.Similarity.embCellBalance(spark, sf).collect()
    val total = Schemas.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.length <= 16)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-12)
  }

  test("text_rare_span: driver replay of the worst window for sample docs") {
    val got = graft.query.TextAnalysis.textRareSpan(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // rebuild bigram counts + windows on the driver for 3 docs
    val docs = Schemas.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toks(s: String): Array[String] =
      s.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")
    val allGrams = docs.flatMap { case (_, t) =>
      val w = toks(t); w.indices.dropRight(1).map(i => (w(i), w(i + 1)))
    }
    val cbg = allGrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    docs.take(3).foreach { case (id, t) =>
      val w = toks(t)
      val freqs = w.indices.dropRight(1)
        .map(i => cbg((w(i), w(i + 1)))).toArray
      if (freqs.length >= 20) {
        val windows = freqs.indices.dropRight(19)
          .map(i => (freqs.slice(i, i + 20).sum, i + 1L))
        val worst = windows.min
        val (nw, start, s) = got(id)
        assert(nw == windows.length && start == worst._2 && s == worst._1,
          s"doc $id: engine ($nw,$start,$s) vs replay " +
            s"(${windows.length},${worst._2},${worst._1})")
      } else assert(!got.contains(id))
    }
  }

  test("transformWithState: state survives a checkpoint restart") {
    import graft.streaming.StreamQueries
    val base = java.nio.file.Files.createTempDirectory("graft-tws-resume")
    val srcDir = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val ev = Schemas.events(spark, sf)
      .select(col("event_id"),
        expr("timestamp_micros(unix_micros(ts)) AS ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    def writeTranche(pred: org.apache.spark.sql.Column, n: String): Unit = {
      val stage = base.resolve(s"stage-$n").toString
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$n.parquet"))
    }
    // run 1: two tranches; run 2 (same checkpoint): the third appears
    writeTranche(col("event_id") % 3 === 0, "t0")
    writeTranche(col("event_id") % 3 === 1, "t1")
    val run1 = StreamQueries.streamTransformWithStateResumable(
      spark, srcDir, ckpt, base.resolve("out1").toString).collect()
    assert(run1.nonEmpty)
    writeTranche(col("event_id") % 3 === 2, "t2")
    val run2 = StreamQueries.streamTransformWithStateResumable(
      spark, srcDir, ckpt, base.resolve("out2").toString).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // run 2 emits only keys the NEW tranche touched, but with counts
    // over the FULL history — the resumed-ValueState proof: tranche 2
    // alone could never reach these totals
    val full = Schemas.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t2users = Schemas.events(spark, sf)
      .filter(col("event_id") % 3 === 2)
      .select(col("user_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(run2.keySet == t2users)
    run2.foreach { case (u, n) =>
      assert(n == full(u),
        s"user $u resumed to $n, expected full-history ${full(u)}")
    }
  }

  test("join_asof_forward: per-row next-purchase proof") {
    val got = Relational.joinAsofForward(spark, sf).collect()
    val events = Schemas.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val buysByUser = events.filter(_._4 == "purchase")
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sorted.toSeq).toMap
    val errors = events.filter(_._4 == "error")
    assert(got.length == errors.length, "every error row survives (LEFT)")
    got.foreach { r =>
      val (u, eid) = (r.getLong(0), r.getLong(1))
      val e = errors.find(t => t._1 == u && t._3 == eid).get
      // next purchase strictly after (ts, event_id) in sort order
      val next = buysByUser.getOrElse(u, Seq.empty[(Long, Long)])
        .find(b => b._1 > e._2 || (b._1 == e._2 && b._2 > eid))
      val expectGap = next.map(_._1 - e._2).filter(_ <= 3600000000L)
      if (expectGap.isEmpty) assert(r.isNullAt(4), s"error $eid")
      else assert(r.getLong(4) == expectGap.get, s"error $eid")
    }
  }

  test("graph_degree_bands: mass conserved, bands are true log2 bins") {
    val rows = Graph.graphDegreeBands(spark, sf).collect()
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nVertices = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      .select(col("u")).unionAll(
        li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        .select(col("v")))
      .distinct().count()
    assert(rows.map(_.getLong(1)).sum == nVertices)
    rows.foreach { r =>
      val band = r.getInt(0)
      assert(r.getLong(2) >= (1L << band) && r.getLong(3) < (2L << band),
        s"band $band holds [${r.getLong(2)}, ${r.getLong(3)}]")
    }
  }

  test("emb_hubness_stats: matrix path and top-k-aggregate fallback agree") {
    import graft.query.Similarity
    val matrix = Similarity.embHubnessStats(spark, sf).collect().toSeq
    val fallback = Similarity
      .embHubnessStats(spark, sf, matrixGateBytes = 0L).collect().toSeq
    assert(matrix == fallback,
      s"matrix ${matrix.take(3)} vs aggregate ${fallback.take(3)}")
    // histogram mass conserves the corpus
    val total = matrix.map(_.getLong(1)).sum
    val nVec = Schemas.table(spark, sf, "embeddings").count()
    assert(total == nVec)
  }
}
