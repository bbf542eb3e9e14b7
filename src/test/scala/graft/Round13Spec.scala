package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Graph, Relational, Similarity, TextAnalysis,
  Warehouse}
import graft.query.ml.{Calibration, Scoring}
import graft.query.stats.{Privacy, Quality, TimeSeries}
import graft.schema.Schemas

/** Round-13 operators: PR-AUC, link prediction, assortativity, last-touch
  * attribution, per-group OLS, matryoshka truncation eval, nearest-event
  * as-of join, zone-map skipping, and the Gopher/Zipf/LLR text family.
  * Each test pins the operator against an independently computed
  * driver-side brute force on sf0.001 (the DuckDB oracle pins the same
  * semantics at sf0.01 — these catch regressions that move BOTH sides). */
class Round13Spec extends SparkSpec {

  test("eval_pr_auc equals the brute-force average precision") {
    val rows = Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        least(greatest(element_at(col("embedding"), 1).cast("double") * 2.0
          + 0.5, lit(0.0)), lit(0.9999)).as("score"),
        when(col("label") % 2 === 1, 1).otherwise(0).as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val ranked = rows.sortBy { case (id, s, _) => (-s, id) }
    var tp = 0; var sum = 0.0; var npos = 0
    ranked.zipWithIndex.foreach { case ((_, _, y), i) =>
      if (y == 1) { tp += 1; npos += 1; sum += tp.toDouble / (i + 1) }
    }
    val got = Scoring.evalPrAuc(spark, sf).collect()(0)
    assert(got.getLong(0) == npos)
    assert(math.abs(got.getFloat(1) - (sum / npos)) < 1e-5,
      s"${got.getFloat(1)} vs ${sum / npos}")
  }

  private def bruteAdjacency(): Map[Long, Set[Long]] = {
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val edges = byOrder.flatMap(ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))).toSet
    edges.foldLeft(Map.empty[Long, Set[Long]]) { case (m, (u, v)) =>
      m.updated(u, m.getOrElse(u, Set.empty) + v)
        .updated(v, m.getOrElse(v, Set.empty) + u)
    }
  }

  test("graph_common_neighbors: counts match brute force; pairs non-adjacent") {
    val adj = bruteAdjacency()
    val got = Graph.graphCommonNeighbors(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (u, v, cn) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(u % 16 == 0 && v % 16 == 0 && u < v)
      assert(!adj(u).contains(v), s"pair ($u,$v) is adjacent")
      val inter = (adj(u) intersect adj(v)).size
      assert(cn == inter, s"($u,$v) cn=$cn brute=$inter")
      val jac = inter.toDouble / (adj(u).size + adj(v).size - inter)
      assert(math.abs(r.getFloat(3) - jac) < 1e-6)
    }
    // descending by cn — top-k really is the top
    val cns = got.map(_.getLong(2))
    assert(cns.zip(cns.tail).forall { case (a, b) => a >= b })
  }

  test("graph_assortativity equals brute-force degree correlation") {
    val adj = bruteAdjacency()
    val xy = adj.toSeq.flatMap { case (u, ns) =>
      ns.toSeq.map(v => (adj(u).size.toDouble, adj(v).size.toDouble))
    }
    val n = xy.size.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val r = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = Graph.graphAssortativity(spark, sf).collect()(0)
    assert(got.getLong(0) == xy.size)
    assert(math.abs(got.getFloat(1) - r) < 1e-5, s"${got.getFloat(1)} vs $r")
    assert(got.getFloat(1) >= -1.0f && got.getFloat(1) <= 1.0f)
  }

  test("attribution_last_touch conserves conversions and value") {
    val purchases = Schemas.events(spark, sf)
      .filter(col("event_type") === "purchase")
    val nConv = purchases.count()
    val totVal = purchases.agg(sum(col("value"))).collect()(0).getDouble(0)
    val got = Warehouse.attributionLastTouch(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == nConv)
    assert(math.abs(got.map(_.getFloat(2).toDouble).sum - totVal)
      < 1e-3 * math.abs(totVal))
    // every touch type is a real event type or the direct bucket
    val types = Set("signup", "error", "click", "view", "direct")
    got.foreach(r => assert(types.contains(r.getString(0))))
  }

  test("agg_linreg_by_group matches brute-force OLS per group") {
    val data = Schemas.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("double"),
        col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = Relational.aggLinregByGroup(spark, sf).collect()
    assert(got.length == data.map(_._1).distinct.length)
    got.foreach { r =>
      val g = data.filter(_._1 == r.getString(0))
      val n = g.length.toDouble
      val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
      val sxy = g.map(p => p._2 * p._3).sum
      val sxx = g.map(p => p._2 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val icept = (sy - slope * sx) / n
      assert(r.getLong(1) == g.length)
      assert(math.abs(r.getFloat(2) - slope) < 1e-4 * math.abs(slope) + 1e-6)
      assert(math.abs(r.getFloat(3) - icept) < 1e-4 * math.abs(icept) + 1e-6)
      assert(r.getFloat(4) >= 0.0f && r.getFloat(4) <= 1.0f)
    }
  }

  test("emb_matryoshka_recall: dim-8 recall equals brute force, all in [0,1]") {
    val vecs = Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float], d: Int): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    val queries = vecs.filter(_._1 < 20)
    def topk(qid: Long, qv: Array[Float], d: Int): Set[Long] =
      vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, dot(qv, v, d)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    var hits = 0; var truth = 0
    queries.foreach { case (qid, qv) =>
      val full = topk(qid, qv, qv.length)
      truth += full.size
      hits += (full intersect topk(qid, qv, 8)).size
    }
    val got = Similarity.embMatryoshkaRecall(spark, sf).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(8, 16, 32))
    got.foreach(r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    assert(math.abs(got(0).getDouble(1) - hits.toDouble / truth) < 1e-12,
      s"${got(0).getDouble(1)} vs ${hits.toDouble / truth}")
  }

  test("join_asof_nearest picks the truly nearest error, backward on ties") {
    val evs = Schemas.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val errsByUser = evs.filter(_._4 == "error").groupBy(_._1)
    val got = Relational.joinAsofNearest(spark, sf).collect()
    val purchases = evs.filter(_._4 == "purchase")
    assert(got.length == purchases.length)
    got.foreach { r =>
      val (user, eid) = (r.getLong(0), r.getLong(1))
      val inst = r.getTimestamp(2).toInstant
      val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      val errs = errsByUser.getOrElse(user, Array.empty)
      if (errs.isEmpty) assert(r.isNullAt(3) && r.isNullAt(4))
      else {
        val best = errs.map(_._2).minBy(e => (math.abs(e - us), e - us))
        assert(r.getLong(4) == best - us,
          s"user=$user eid=$eid got=${r.getLong(4)} want=${best - us}")
      }
    }
  }

  test("stats_zone_map: date clustering prunes, hash layout cannot") {
    val got = Warehouse.statsZoneMap(spark, sf).collect()
    assert(got.length == 2)
    val byName = got.map(r => r.getString(0) -> r).toMap
    val hash = byName("by_orderkey_hash"); val date = byName("by_shipdate_month")
    // both layouts cover the identical row mass
    assert(hash.getLong(3) == date.getLong(3))
    assert(hash.getLong(3) ==
      Schemas.table(spark, sf, "lineitem").count())
    // uniform hash zones all overlap a 6-month predicate; month zones prune
    assert(hash.getLong(1) == hash.getLong(2))
    assert(date.getLong(2) < date.getLong(1))
    assert(date.getDouble(5) < hash.getDouble(5))
  }

  test("text_gopher_rules: stats re-derive and the flag is consistent") {
    val got = TextAnalysis.textGopherRules(spark, sf).collect()
    assert(got.length ==
      Schemas.table(spark, sf, "documents").count())
    got.foreach { r =>
      val (n, nd) = (r.getLong(1), r.getLong(2))
      assert(nd <= n && nd > 0)
      val pass = n >= 20 && r.getDouble(3) >= 3.0 && r.getDouble(3) <= 10.0 &&
        r.getDouble(4) <= 0.15 && r.getDouble(5) >= 0.02
      assert(r.getBoolean(6) == pass)
    }
    // thresholds discriminate on this corpus (not a constant column)
    assert(got.exists(_.getBoolean(6)) && got.exists(!_.getBoolean(6)))
  }

  test("text_zipf_slope: negative slope, brute-force agreement") {
    val toks = Schemas.table(spark, sf, "documents")
      .select(explode(graft.query.TokenHash.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val top = toks.sortBy { case (t, c) => (-c, t) }.take(100)
    val xy = top.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val n = xy.length.toDouble
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val got = TextAnalysis.textZipfSlope(spark, sf).collect()(0)
    assert(got.getLong(0) == top.length)
    assert(got.getFloat(1) < 0.0f)
    assert(math.abs(got.getFloat(1) - slope) < 1e-5)
  }

  test("text_llr_collocations: top pair matches brute force; llr nonneg") {
    val grams = Schemas.table(spark, sf, "documents")
      .select(graft.query.TokenHash.tokens(col("text")).as("t"))
      .collect().flatMap(_.getSeq[String](0).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))))
    val nTot = grams.length.toDouble
    val bg = grams.groupBy(identity).view.mapValues(_.length.toDouble)
    val ca = grams.groupBy(_._1).view.mapValues(_.length.toDouble)
    val cb = grams.groupBy(_._2).view.mapValues(_.length.toDouble)
    def f(x: Double): Double = if (x > 0.0) x * math.log(x) else 0.0
    def llr(w1: String, w2: String): Double = {
      val k11 = bg((w1, w2)); val k12 = ca(w1) - k11
      val k21 = cb(w2) - k11; val k22 = nTot - ca(w1) - cb(w2) + k11
      2.0 * (f(k11) + f(k12) + f(k21) + f(k22) + f(nTot)
        - f(k11 + k12) - f(k21 + k22) - f(k11 + k21) - f(k12 + k22))
    }
    val brute = bg.keys.map { case (a, b) => ((a, b), llr(a, b)) }
      .toSeq.sortBy { case ((a, b), s) => (-s, a, b) }
    val got = TextAnalysis.textLlrCollocations(spark, sf).collect()
    assert(got.length == 20)
    got.foreach(r => assert(r.getFloat(3) >= -1e-3f))
    assert((got(0).getString(0), got(0).getString(1)) == brute.head._1)
    assert(math.abs(got(0).getFloat(3) - brute.head._2) < 1e-3)
  }

  test("ts_holt_forecast replays the exact sequential fold per user") {
    val evs = Schemas.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = TimeSeries.tsHoltForecast(spark, sf).collect()
    val byUser = evs.groupBy(_._1)
    assert(got.length == byUser.size)
    got.foreach { r =>
      val vals = byUser(r.getLong(0)).sortBy(e => (e._2, e._3)).map(_._4)
      var l = vals.head; var b = 0.0
      vals.tail.foreach { x =>
        val nl = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (nl - l) + 0.7 * b; l = nl
      }
      assert(r.getLong(1) == vals.length)
      assert(math.abs(r.getFloat(2) - l) < 1e-4 * (math.abs(l) + 1))
      assert(math.abs(r.getFloat(3) - b) < 1e-4 * (math.abs(b) + 1))
      assert(math.abs(r.getFloat(4) - (l + 3.0 * b))
        < 1e-4 * (math.abs(l + 3 * b) + 1))
    }
  }

  test("retrieval_ndcg: dcg bounded by idcg, ndcg in [0,1], ranks real") {
    val got = Similarity.retrievalNdcg(spark, sf).collect()
    assert(got.length == 20)
    got.foreach { r =>
      assert(r.getFloat(2) <= r.getFloat(3) + 1e-6,
        s"dcg ${r.getFloat(2)} exceeds idcg ${r.getFloat(3)}")
      if (r.getLong(1) > 0) {
        assert(r.getFloat(4) >= 0.0f && r.getFloat(4) <= 1.0f + 1e-6f)
      }
    }
    // with 10 labels over the corpus every query has relevant candidates
    assert(got.forall(_.getLong(1) > 0))
  }

  test("emb_power_iteration matches a driver-side 3-round power iteration") {
    val vecs = Schemas.table(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = 64
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to 3) {
      val acc = Array.fill(dim)(0.0)
      vecs.foreach { x =>
        var s = 0.0; var i = 0
        while (i < dim) { s += x(i) * v(i); i += 1 }
        i = 0
        while (i < dim) { acc(i) += x(i) * s; i += 1 }
      }
      val norm = math.sqrt(acc.map(e => e * e).sum)
      v = acc.map(_ / norm)
    }
    val lam = vecs.map { x =>
      val s = x.zip(v).map { case (a, b) => a * b }.sum; s * s
    }.sum
    val got = Similarity.embPowerIteration(spark, sf).collect()
    assert(got.length == dim)
    // unit-norm loadings in dim order
    val loadings = got.map(_.getFloat(1).toDouble)
    assert(math.abs(loadings.map(e => e * e).sum - 1.0) < 1e-5)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i + 1)
      assert(math.abs(r.getFloat(1) - v(i)) < 1e-5,
        s"dim ${i + 1}: ${r.getFloat(1)} vs ${v(i)}")
      assert(math.abs(r.getFloat(2) - lam) < 1e-3 * lam)
    }
  }

  test("window_rolling_slope replays the exact frame fold per row") {
    val evs = Schemas.events(spark, sf)
      .filter(col("user_id") < 40)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = evs.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._2, e._3))).toMap
    val got = Relational.windowRollingSlope(spark, sf).collect()
    assert(got.length == evs.length)
    val gotByEvent = got.map(r => r.getLong(0) -> r).toMap
    byUser.foreach { case (_, seq) =>
      seq.zipWithIndex.foreach { case ((_, _, eid, _), idx) =>
        val frame = seq.slice(math.max(0, idx - 7), idx + 1)
        val fx = frame.map(_._2.toDouble / 3600000000.0)
        val fy = frame.map(_._4)
        val n = fx.length.toDouble
        val sx = fx.foldLeft(0.0)(_ + _); val sy = fy.foldLeft(0.0)(_ + _)
        val sxy = fx.zip(fy).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        val sxx = fx.foldLeft(0.0)((a, e) => a + e * e)
        val r = gotByEvent(eid)
        assert(r.getLong(2) == frame.length)
        if (n * sxx - sx * sx != 0.0) {
          val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
          assert(math.abs(r.getFloat(3) - slope)
            < 1e-3 * (math.abs(slope) + 1), s"eid=$eid")
        } else assert(r.isNullAt(3))
      }
    }
  }

  test("eval_brier_decomp: Murphy identity holds, brier matches brute force") {
    val rows = Schemas.table(spark, sf, "embeddings")
      .select(least(greatest(element_at(col("embedding"), 1).cast("double")
        * 2.0 + 0.5, lit(0.0)), lit(0.9999)).as("p"),
        when(col("label") % 2 === 1, 1.0).otherwise(0.0).as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val brier = rows.map { case (p, y) => (p - y) * (p - y) }.sum / rows.length
    val r = Calibration.evalBrierDecomp(spark, sf).collect()(0)
    assert(r.getLong(0) == rows.length)
    assert(math.abs(r.getFloat(1) - brier) < 1e-5)
    // recompute each decomposition term brute-force with the same bins
    val n = rows.length.toDouble
    val ybarAll = rows.map(_._2).sum / n
    val byBin = rows.groupBy { case (p, _) => math.min((p * 10).toInt, 9) }
    val rel = byBin.values.map { g =>
      val pb = g.map(_._1).sum / g.length; val yb = g.map(_._2).sum / g.length
      g.length * (pb - yb) * (pb - yb)
    }.sum / n
    val res = byBin.values.map { g =>
      val yb = g.map(_._2).sum / g.length
      g.length * (yb - ybarAll) * (yb - ybarAll)
    }.sum / n
    assert(math.abs(r.getFloat(2) - rel) < 1e-5)
    assert(math.abs(r.getFloat(3) - res) < 1e-5)
    assert(math.abs(r.getFloat(4) - ybarAll * (1 - ybarAll)) < 1e-5)
    // Murphy identity holds up to the within-bin terms of CONTINUOUS
    // forecasts (exact only for discrete forecast values)
    val identity = r.getFloat(2) - r.getFloat(3) + r.getFloat(4)
    assert(math.abs(r.getFloat(1) - identity) < 0.02,
      s"brier=${r.getFloat(1)} rel-res+unc=$identity")
  }

  test("text_oov_rate: vocabulary covers the head, rates re-derive") {
    val got = TextAnalysis.textOovRate(spark, sf).collect()
    assert(got.length == Schemas.table(spark, sf, "documents").count())
    got.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(math.abs(r.getDouble(3)
        - r.getLong(2).toDouble / r.getLong(1).toDouble) < 1e-12)
    }
    // this corpus's vocabulary is tiny (~200 distinct tokens), so a
    // 256-token vocab must cover everything → all OOV rates zero;
    // a corpus with a longer tail would show nonzero rates
    val totalOov = got.map(_.getLong(2)).sum
    val vocabSize = Schemas.table(spark, sf, "documents")
      .select(explode(graft.query.TokenHash.tokens(col("text"))).as("t"))
      .distinct().count()
    if (vocabSize <= 256) assert(totalOov == 0L)
    else assert(totalOov > 0L)
  }

  test("privacy_k_anonymity: classes partition the joined rows") {
    val orders = Schemas.table(spark, sf, "orders").count()
    val got = Privacy.privacyKAnonymity(spark, sf).collect()
    assert(got.map(_.getLong(2)).sum == orders)
    got.foreach(r => assert(r.getBoolean(3) == (r.getLong(2) < 10)))
    // QI keys are unique rows (nation's physical type varies by
    // generation — read it numerically, not as a fixed width)
    assert(got.map(r => (r.getAs[Number](0).longValue, r.getInt(1)))
      .distinct.length == got.length)
  }

  test("window_drawdown: peak is the running max, drawdown nonnegative") {
    val got = Relational.windowDrawdown(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getFloat(3) >= r.getFloat(2) - 1e-6f)
      assert(r.getFloat(4) >= -1e-6f)
      assert(math.abs(r.getFloat(3) - r.getFloat(2) - r.getFloat(4)) < 1e-3f)
    }
  }

  test("agg_pareto_concentration matches the brute-force cents ranking") {
    val cents = Schemas.table(spark, sf, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = cents.sortBy { case (k, c) => (-c, k) }
    val total = sorted.map(_._2).sum
    var cum = 0L; var n80 = 0
    sorted.foreach { case (_, c) =>
      if (cum * 10 < total * 8) n80 += 1
      cum += c
    }
    val topDecile = sorted.take(math.ceil(sorted.length / 10.0).toInt)
      .map(_._2).sum
    val r = Relational.aggParetoConcentration(spark, sf).collect()(0)
    assert(r.getLong(0) == sorted.length)
    assert(r.getLong(1) == n80, s"got ${r.getLong(1)} want $n80")
    assert(math.abs(r.getDouble(2) - topDecile.toDouble / total) < 1e-12)
    // concentration is real: the top decile holds more than its share
    assert(r.getDouble(2) > 0.1)
  }

  test("join_asof_tolerance: matches only within the gap, backward only") {
    val evs = Schemas.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val got = Relational.joinAsofTolerance(spark, sf).collect()
    val byUser = evs.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._2, e._3))).toMap
    got.foreach { r =>
      val inst = r.getTimestamp(2).toInstant
      val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      val eid = r.getLong(1)
      val seq = byUser(r.getLong(0))
      val idx = seq.indexWhere(_._3 == eid)
      val prior = seq.take(idx).reverse.find(_._4 == "error")
      prior match {
        case Some((_, eus, _, _)) if us - eus <= 3600000000L =>
          assert(!r.isNullAt(4) && r.getLong(4) == us - eus)
        case _ => assert(r.isNullAt(3) && r.isNullAt(4))
      }
    }
  }

  test("graph_local_clustering matches brute-force per-center closure") {
    val adj = bruteAdjacency()
    val got = Graph.graphLocalClustering(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val x = r.getLong(0)
      assert(x % 128 == 0)
      val ns = adj(x).toSeq.sorted
      val wedges = for (i <- ns.indices; j <- (i + 1) until ns.length)
        yield (ns(i), ns(j))
      val closed = wedges.count { case (a, b) => adj(a).contains(b) }
      assert(r.getLong(1) == ns.length)
      assert(r.getLong(2) == wedges.length)
      assert(r.getLong(3) == closed)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("ts_autocorr_lag1 matches brute-force lag-pair correlation") {
    val evs = Schemas.events(spark, sf)
      .filter(col("user_id") < 100)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = TimeSeries.tsAutocorrLag1(spark, sf).collect()
    val byUser = evs.groupBy(_._1)
    got.foreach { r =>
      val vals = byUser(r.getLong(0)).sortBy(e => (e._2, e._3)).map(_._4)
      val pairs = vals.zip(vals.tail).map { case (x, y) => (x, y) }
      assert(r.getLong(1) == pairs.length)
      if (pairs.length >= 2) {
        val n = pairs.length.toDouble
        val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
        val sxy = pairs.map(p => p._1 * p._2).sum
        val sxx = pairs.map(p => p._1 * p._1).sum
        val syy = pairs.map(p => p._2 * p._2).sum
        val c = (n * sxy - sx * sy) /
          (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
        assert(math.abs(r.getFloat(2) - c) < 1e-4,
          s"user ${r.getLong(0)}: ${r.getFloat(2)} vs $c")
        assert(r.getFloat(2) >= -1.0001f && r.getFloat(2) <= 1.0001f)
      }
    }
  }

  test("graph_copurchase_weights: weights are shared-order counts") {
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val counts = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
    val brute = counts.toSeq
      .sortBy { case ((u, v), w) => (-w, u, v) }.take(25)
    val got = Graph.graphCopurchaseWeights(spark, sf).collect()
    assert(got.length == brute.length)
    got.zip(brute).foreach { case (r, ((u, v), w)) =>
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (u, v, w))
    }
  }

  test("text_hapax_stats re-derives from the token totals") {
    val totals = Schemas.table(spark, sf, "documents")
      .select(explode(graft.query.TokenHash.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val r = TextAnalysis.textHapaxStats(spark, sf).collect()(0)
    assert(r.getLong(0) == totals.length)
    assert(r.getLong(1) == totals.map(_._2).sum)
    assert(r.getLong(2) == totals.count(_._2 == 1))
    val top10 = totals.sortBy { case (t, c) => (-c, t) }.take(10)
      .map(_._2).sum
    assert(math.abs(r.getDouble(4)
      - top10.toDouble / totals.map(_._2).sum) < 1e-12)
  }

  test("agg_gini_cents matches the brute-force sorted-rank formula") {
    val cents = Schemas.table(spark, sf, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = cents.sortBy { case (k, c) => (c, k) }.map(_._2)
    val n = sorted.length.toDouble
    val sx = sorted.sum.toDouble
    val six = sorted.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
    val gini = 2.0 * six / (n * sx) - (n + 1.0) / n
    val r = Relational.aggGiniCents(spark, sf).collect()(0)
    assert(r.getLong(0) == sorted.length)
    assert(math.abs(r.getDouble(1) - gini) < 1e-12)
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
  }

  test("dedup_prefix_groups: groups re-derive from raw prefixes") {
    val docs = Schemas.table(spark, sf, "documents")
      .select(col("doc_id"), graft.query.TokenHash.tokens(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val groups = docs.filter(_._2.length >= 5)
      .groupBy(_._2.take(5).mkString(" "))
      .filter(_._2.length > 1)
    val got = Dedup.dedupPrefixGroups(spark, sf).collect()
    assert(got.length == groups.size)
    val wantSizes = groups.values.map(g =>
      (g.map(_._1).min, g.map(_._1).max, g.length.toLong)).toSet
    got.foreach { r =>
      assert(wantSizes.contains((r.getLong(2), r.getLong(3), r.getLong(1))),
        s"unmatched group ${r.getLong(0)}")
    }
  }

  test("eval_silhouette_centroid matches the driver-side recomputation") {
    val vecs = Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.view.mapValues { g =>
      val n = g.length.toDouble
      (0 until 64).map(j => g.map(_._3(j)).sum / n).toArray
    }.toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(math.max(0.0,
        a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum))
    val perLabel = byLabel.view.mapValues { g =>
      val ss = g.map { case (_, l, x) =>
        val a = dist(x, cents(l))
        val b = cents.filter(_._1 != l).values.map(dist(x, _)).min
        (b - a) / math.max(a, b)
      }
      (g.length.toLong, ss.sum / ss.length)
    }.toMap
    val got = Scoring.evalSilhouetteCentroid(spark, sf).collect()
    assert(got.length == byLabel.size)
    got.foreach { r =>
      val (n, s) = perLabel(r.getInt(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getFloat(2) - s) < 1e-4,
        s"label ${r.getInt(0)}: ${r.getFloat(2)} vs $s")
    }
  }

  test("emb_dim_stats: 64 dims, variance nonnegative, mean re-derives") {
    val vecs = Schemas.table(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val got = Similarity.embDimStats(spark, sf).collect()
    assert(got.length == 64)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i + 1)
      assert(r.getLong(1) == vecs.length)
      val mean = vecs.map(_(i)).sum / vecs.length
      assert(math.abs(r.getFloat(2) - mean) < 1e-5)
      assert(r.getFloat(3) >= -1e-6f)
      assert(r.getFloat(4) <= r.getFloat(5))
    }
  }

  test("ts_holt_backtest replays the rolling-origin fold; naive is honest") {
    val evs = Schemas.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = TimeSeries.tsHoltBacktest(spark, sf).collect()
    val byUser = evs.groupBy(_._1)
    got.foreach { r =>
      val vals = byUser(r.getLong(0)).sortBy(e => (e._2, e._3)).map(_._4)
      var l = vals.head; var b = 0.0; var prev = vals.head
      var errs = 0.0; var naive = 0.0
      vals.tail.foreach { x =>
        val fc = l + b
        errs += math.abs(x - fc); naive += math.abs(x - prev)
        val nl = 0.5 * x + 0.5 * fc
        b = 0.3 * (nl - l) + 0.7 * b; l = nl; prev = x
      }
      val n = (vals.length - 1).toDouble
      assert(r.getLong(1) == vals.length - 1)
      assert(math.abs(r.getFloat(2) - errs / n) < 1e-4 * (errs / n + 1))
      assert(math.abs(r.getFloat(3) - naive / n) < 1e-4 * (naive / n + 1))
    }
  }

  test("privacy_l_diversity: sensitive diversity bounded by class size") {
    val got = Privacy.privacyLDiversity(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= r.getLong(2))
      assert(r.getBoolean(4) == (r.getLong(3) < 3))
      // the orders table has 5 priorities — diversity can't exceed that
      assert(r.getLong(3) <= 5)
    }
  }

  test("dq_freshness_lag: one type has zero lag, all lags nonnegative") {
    val got = Quality.dqFreshnessLag(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.exists(_.getLong(3) == 0L),
      "the globally newest type must show zero lag")
    got.foreach(r => assert(r.getLong(3) >= 0L))
    assert(got.map(_.getLong(1)).sum ==
      Schemas.events(spark, sf).count())
  }

  test("agg_entropy_by_key: bounds and brute-force agreement") {
    val evs = Schemas.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = Relational.aggEntropyByKey(spark, sf).collect()
    val byUser = evs.groupBy(_._1)
    assert(got.length == byUser.size)
    got.foreach { r =>
      val g = byUser(r.getLong(0)).groupBy(_._2).values.map(_.size).toSeq
      val n = g.sum.toDouble
      val h = g.map { c => val p = c / n; -p * math.log(p) }.sum
      assert(r.getLong(1) == g.length)
      assert(math.abs(r.getFloat(2) - h) < 1e-5)
      // entropy bounded by ln(k)
      assert(r.getFloat(2) >= -1e-6f &&
        r.getFloat(2) <= math.log(g.length.toDouble) + 1e-6)
    }
  }

  test("text_js_divergence: bounded by ln 2, brute-force agreement") {
    val rows = Schemas.table(spark, sf, "documents")
      .select(col("source"),
        explode(graft.query.TokenHash.tokens(col("text"))).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrc = rows.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.size.toDouble).toMap)
      .toMap
    val corpus = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val gTot = rows.length.toDouble
    val got = TextAnalysis.textJsDivergence(spark, sf).collect()
    assert(got.length == bySrc.size)
    got.foreach { r =>
      val src = r.getString(0)
      val cs = bySrc(src); val ct = cs.values.sum
      var js = 0.0; var qcov = 0.0
      cs.foreach { case (tok, c) =>
        val p = c / ct; val q = corpus(tok) / gTot
        js += 0.5 * p * math.log(2 * p / (p + q))
        js += 0.5 * q * math.log(2 * q / (p + q))
        qcov += q
      }
      js += 0.5 * (1.0 - qcov) * math.log(2.0)
      assert(math.abs(r.getFloat(1) - js) < 1e-5, s"$src")
      assert(r.getFloat(1) >= -1e-6f &&
        r.getFloat(1) <= math.log(2.0) + 1e-6)
    }
  }

  test("stream_stream_left_join: inner matches + watermark-proven nulls only") {
    val evs = Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicks = evs.filter(_._4 == "click")
    val purchases = evs.filter(_._4 == "purchase")
    val tenMinUs = 600000000L
    def inWindow(c: (Long, Long, Long, String)) = purchases.filter(p =>
      p._2 == c._2 && p._3 >= c._3 && p._3 <= c._3 + tenMinUs)
    // final watermark: min of the two streams' ms-floored maxima − 1h
    val wm = math.min(clicks.map(_._3).max / 1000 * 1000,
      purchases.map(_._3).max / 1000 * 1000) - 3600000000L
    val got = graft.streaming.StreamQueries.streamStreamLeftJoin(spark, sf)
      .collect()
    val (matched, nulls) = got.partition(r => !r.isNullAt(1))
    // matched = the batch inner join, exactly
    val wantPairs = clicks.flatMap(c =>
      inWindow(c).map(p => (c._1, p._1))).toSet
    assert(matched.map(r => (r.getLong(0), r.getLong(1))).toSet == wantPairs)
    // nulls: no in-window purchase AND the window closed before the
    // final watermark; and never beside a matched row for the same click
    val matchedIds = matched.map(_.getLong(0)).toSet
    nulls.foreach { r =>
      val c = clicks.find(_._1 == r.getLong(0)).get
      assert(inWindow(c).isEmpty)
      assert(c._3 + tenMinUs < wm,
        s"click ${c._1} nulled before its window closed")
      assert(!matchedIds.contains(c._1))
    }
    // completeness: every provably-unmatchable click IS nulled
    val wantNulls = clicks.filter(c =>
      inWindow(c).isEmpty && c._3 + tenMinUs < wm).map(_._1).toSet
    assert(nulls.map(_.getLong(0)).toSet == wantNulls)
  }

  test("stream_two_level_agg equals the batch rollup on finalized hours") {
    val evs = Schemas.events(spark, sf)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val wm = evs.map(_._3).max - 3600000000L
    val finalized = evs.groupBy(_._1)
      .filter { case (h, _) => (h + 1) * 3600000000L < wm }
    val got = graft.streaming.StreamQueries.streamTwoLevelAgg(spark, sf)
      .collect()
    assert(got.length == finalized.size)
    got.foreach { r =>
      val inst = r.getTimestamp(0).toInstant
      val h = (inst.getEpochSecond * 1000000L + inst.getNano / 1000L) /
        3600000000L
      val byType = finalized(h).groupBy(_._2).values.map(_.size.toLong)
      assert(r.getLong(1) == byType.size)
      assert(r.getLong(2) == byType.max)
      assert(r.getLong(3) == byType.sum)
    }
  }

  test("agg_bitmap_distinct: exact on the corpus AND on overlapping keys") {
    val got = Relational.aggBitmapDistinct(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getBoolean(3),
      s"region ${r.getAs[Number](0)}: bitmap ${r.getAs[Number](2)}" +
        s" != exact ${r.getAs[Number](1)}"))
    // the corpus has globally-unique keys, which never stresses the
    // OR-merge dedup — drive it with keys REPEATED across subgroups
    import spark.implicits._
    val df = Seq.tabulate(5000)(i => (i % 7, (i % 613).toLong))
      .toDF("g", "k")
    val l1 = df.groupBy(col("g"),
        expr("bitmap_bucket_number(k)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(k))").as("bm"))
    val merged = l1.groupBy(col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")))
      .collect()(0).getLong(0)
    assert(merged == df.select(col("k")).distinct().count())
  }

  test("emb_hubness_stats: histogram mass and edge count conserve") {
    val nVec = Schemas.table(spark, sf, "embeddings").count()
    val got = Similarity.embHubnessStats(spark, sf).collect()
    // every vector lands in exactly one in-degree band
    assert(got.map(_.getLong(1)).sum == nVec)
    // total reverse-kNN edges = k per query vector
    assert(got.map(r => r.getLong(0) * r.getLong(1)).sum == 5L * nVec)
    // the histogram is keyed uniquely and sorted
    val keys = got.map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
    assert(keys.zip(keys.tail).forall { case (a, b) => a < b })
  }

  test("quality_ablation_report: rollup totals are consistent") {
    val total = Schemas.table(spark, sf, "documents").count()
    val got = TextAnalysis.qualityAblationReport(spark, sf).collect()
    assert(got.length == 27)
    // grand total (gid=7, all flags rolled up)
    val grand = got.filter(_.getInt(3) == 7)
    assert(grand.length == 1 && grand.head.getLong(4) == total)
    // the 8 fully-specified cells partition the corpus
    assert(got.filter(_.getInt(3) == 0).map(_.getLong(4)).sum == total)
    // each single-flag marginal pair sums to the total
    Seq(3, 5, 6).foreach { gid =>
      assert(got.filter(_.getInt(3) == gid).map(_.getLong(4)).sum == total,
        s"marginals at gid=$gid do not cover the corpus")
    }
  }
}
