package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Graph, Relational}
import graft.query.ml.{Agreement, Significance}
import graft.query.stats.{Privacy, TimeSeries}
import graft.streaming.StreamQueries

/** Round-16 operator pins: the nonparametric two-sample family
  * (Mann–Whitney / Cliff's delta / Wilcoxon signed-rank), Katz
  * centrality, and the Page's-CUSUM batch↔stream contract. */
class Round16Spec extends SparkSpec {

  test("eval_mann_whitney_u: U/(na·nb) = AUC identity, U bounded, " +
      "z finite") {
    val r = Significance.evalMannWhitneyU(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val na = row.getLong(0); val nb = row.getLong(1)
    val u = row.getDouble(2); val auc = row.getDouble(3)
    val z = row.getDouble(4)
    assert(na > 0 && nb > 0)
    assert(u >= 0.0 && u <= na.toDouble * nb.toDouble)
    assert(math.abs(auc - u / (na.toDouble * nb.toDouble)) == 0.0)
    assert(!z.isNaN && !z.isInfinite)
    // brute-force oracle on the collected pair counts: U = #(a>b) + T/2
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
    val a = ev.filter(_.getString(0) == "click").map(_.getDouble(1))
    val b = ev.filter(_.getString(0) == "purchase").map(_.getDouble(1))
    assert(a.length == na && b.length == nb)
    var gt = 0L; var eq = 0L
    // O(na·nb) is fine at the spec's sf0.001 fixture
    a.foreach(x => b.foreach { y =>
      if (x > y) gt += 1 else if (x == y) eq += 1 })
    assert(u == gt + eq / 2.0, s"U=$u brute=${gt + eq / 2.0}")
  }

  test("eval_cliffs_delta: brute-force dominance parity and band " +
      "consistency") {
    val r = Significance.evalCliffsDelta(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val delta = row.getDouble(2); val band = row.getString(3)
    assert(delta >= -1.0 && delta <= 1.0)
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value")).collect()
    val a = ev.filter(_.getString(0) == "click").map(_.getDouble(1))
    val b = ev.filter(_.getString(0) == "purchase").map(_.getDouble(1))
    var dom = 0L
    a.foreach(x => b.foreach { y =>
      if (x > y) dom += 1 else if (x < y) dom -= 1 })
    assert(delta == dom.toDouble / (a.length.toDouble * b.length.toDouble))
    val expected =
      if (math.abs(delta) < 0.147) "negligible"
      else if (math.abs(delta) < 0.33) "small"
      else if (math.abs(delta) < 0.474) "medium" else "large"
    assert(band == expected)
  }

  test("eval_wilcoxon_signed_rank: brute-force mid-rank parity on the " +
      "per-user count deltas") {
    val r = Significance.evalWilcoxonSignedRank(spark, sf).collect()
    assert(r.length == 1)
    val n = r.head.getLong(0); val wPlus = r.head.getDouble(1)
    val z = r.head.getDouble(2)
    assert(!z.isNaN && !z.isInfinite)
    val d = graft.schema.Schemas.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        - sum(when(col("event_type") === "click", 1L).otherwise(0L)))
        .as("d"))
      .collect().map(_.getLong(1)).filter(_ != 0L)
    assert(d.length == n)
    // mid-ranks of |d| ascending; W+ = Σ ranks where d > 0 —
    // group-level: per |d| class, positives share the class mid-rank
    val sorted = d.sortBy(math.abs)
    val brute = sorted.zipWithIndex
      .groupBy(t => math.abs(t._1))
      .map { case (_, g) =>
        val mid = g.map(_._2 + 1).sum.toDouble / g.length
        g.count(_._1 > 0) * mid
      }.sum
    assert(wPlus == brute, s"W+=$wPlus brute=$brute")
  }

  test("graph_katz_centrality: every score > 1, and hub ordering " +
      "follows 1-step degree at alpha → attenuated-walk dominance") {
    val rows = Graph.graphKatzCentrality(spark, sf).collect()
    assert(rows.nonEmpty)
    // β = 1 base plus a positive attenuated in-walk sum: x > 1 always
    rows.foreach(r => assert(r.getFloat(1) > 1.0f,
      s"part ${r.getLong(0)} katz ${r.getFloat(1)}"))
    // monotone sanity vs the 1-iteration truncation: a vertex whose
    // 1-hop degree is max must not rank below one with minimal degree
    val deg = graft.query.GraphIndex
      .copurchaseEdgesSym(spark, sf)
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .filter(col("u") <= 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byKatz = rows.map(r => r.getLong(0) -> r.getFloat(1)).toMap
    val maxDegV = deg.maxBy(_._2)._1
    val minDegV = deg.minBy(_._2)._1
    if (deg(maxDegV) > 3 * deg(minDegV))
      assert(byKatz(maxDegV) > byKatz(minDegV))
  }

  test("ts_cusum_target: recurrence replay, clamp floor, alarm " +
      "threshold consistency") {
    val rows = TimeSeries.tsCusumTarget(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(2))
      var s = 0.0
      ordered.foreach { r =>
        val s1 = s + (r.getDouble(3) - 50.0 - 5.0)
        s = if (s1 > 0.0) s1 else 0.0
        assert(r.getDouble(4) == s, s"s_plus drift at rn ${r.getLong(2)}")
        assert(r.getBoolean(5) == (s > 200.0))
      }
    }
  }

  test("eval_tost_equivalence: one-sided pair brackets the Welch t, " +
      "verdict consistent with the statistics") {
    val r = Significance.evalTostEquivalence(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val tLo = row.getFloat(4); val tHi = row.getFloat(5)
    val eq = row.getBoolean(6)
    // t_lower + t_upper = 2·margin/se > 0 always; both finite
    assert(!tLo.isNaN && !tHi.isNaN)
    assert(tLo + tHi > 0.0f)
    assert(eq == (tLo > 1.6448536f && tHi > 1.6448536f))
    // diff within ±margin is NECESSARY for equivalence
    if (eq) assert(math.abs(row.getFloat(2)) < 2.0f)
  }

  test("eval_gwet_ac1: chance term is prevalence-shaped (≤ 0.5), AC1 " +
      "and kappa share observed agreement") {
    val ac1 = Agreement.evalGwetAc1(spark, sf).collect().head
    val kap = graft.query.ml.Agreement.evalCohensKappa(spark, sf)
      .collect().head
    assert(ac1.getLong(0) == kap.getLong(0))
    assert(ac1.getLong(1) == kap.getLong(1))
    assert(ac1.getFloat(2) == kap.getFloat(4)) // same p_observed
    val pe = ac1.getFloat(3)
    assert(pe > 0.0f && pe <= 0.5f) // 2π(1−π) peaks at 0.5
    val expected = (ac1.getFloat(2) - pe) / (1.0f - pe)
    assert(math.abs(ac1.getFloat(4) - expected) < 1e-6f)
  }

  test("ts_croston: recurrence replay, gaps positive, forecast = " +
      "z_hat/q_hat") {
    val rows = TimeSeries.tsCroston(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(2))
      var zh = 0.0; var qh = 0.0
      ordered.zipWithIndex.foreach { case (r, i) =>
        val z = r.getDouble(3); val q = r.getDouble(4)
        assert(q > 0.0)
        if (i == 0) { zh = z; qh = q; assert(q == 1.0) }
        else { zh = zh + 0.1 * (z - zh); qh = qh + 0.1 * (q - qh) }
        assert(r.getDouble(5) == zh && r.getDouble(6) == qh)
        assert(r.getDouble(7) == zh / qh)
      }
    }
  }

  test("privacy_dp_quantile: release is 3 ranked grid candidates; " +
      "utilities are exact rank distances; the argmax respects the " +
      "replayable Gumbel keys") {
    val rows = graft.query.stats.Privacy.privacyDpQuantile(spark, sf)
      .collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val n = graft.schema.Schemas.events(spark, sf).count()
    rows.foreach { r =>
      val c = r.getInt(1); val cntLt = r.getLong(3)
      assert(c % 5 == 0 && c >= 5 && c <= 485)
      // exact utility = −|cnt_lt − n/2|
      assert(r.getFloat(4) == -math.abs(2L * cntLt - n) / 2.0f)
      assert(cntLt >= 0 && cntLt <= n)
    }
    // noised utilities are emitted in non-increasing rank order
    val nu = rows.map(_.getFloat(2))
    assert(nu.zip(nu.tail).forall { case (a, b) => a >= b })
  }

  test("eval_cohens_d: pooled-SD identity against the Welch moments, " +
      "J-correction shrinks toward zero") {
    val r = Significance.evalCohensD(spark, sf).collect().head
    val d = r.getFloat(2); val g = r.getFloat(3)
    assert(!d.isNaN && !g.isNaN)
    // Hedges' g is a strict shrinkage of d (J < 1), same sign
    assert(math.abs(g) < math.abs(d) || d == 0.0f)
    assert(math.signum(g) == math.signum(d))
    val expected =
      if (math.abs(d) < 0.2) "negligible" else if (math.abs(d) < 0.5) "small"
      else if (math.abs(d) < 0.8) "medium" else "large"
    assert(r.getString(4) == expected)
  }

  test("window_rolling_autocorr: null until 20 pairs, value in [-1, 1], " +
      "brute-force parity on a full window") {
    val rows = Relational.windowRollingCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val np = r.getLong(2)
      if (np < 20) assert(r.isNullAt(3), s"corr emitted at np=$np")
      else if (!r.isNullAt(3))
        assert(math.abs(r.getFloat(3)) <= 1.0f + 1e-6f)
    }
    // brute-force one user's first full window
    val byUser = graft.schema.Schemas.events(spark, sf)
      .filter(col("user_id") === 0L)
      .select(col("ts"), col("event_id"), col("value")).collect()
      .sortBy(r => (r.getTimestamp(0).getTime, r.getLong(1)))
    if (byUser.length >= 21) {
      val v3 = byUser.map(r => math.round(r.getDouble(2) * 1e3))
      val xs = v3.slice(1, 21); val ys = v3.slice(0, 20)
      val n = 20L
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      val expected = (num / den).toFloat
      val got = rows.filter(r => r.getLong(0) == 0L && r.getLong(2) == 20L)
        .minBy(_.getLong(1))
      assert(got.getFloat(3) == expected,
        s"corr ${got.getFloat(3)} brute $expected")
    }
  }

  test("ts_hurst_exponent: panel populated, R/S grows with block size, " +
      "hurst in the diffusive band") {
    val r = TimeSeries.tsHurstExponent(spark, sf).collect().head
    val rs = Seq(r.getFloat(1), r.getFloat(2), r.getFloat(3), r.getFloat(4))
    assert(rs.forall(v => !v.isNaN && v > 0.0f))
    // R/S is monotone-increasing in w for any non-degenerate series
    assert(rs.zip(rs.tail).forall { case (a, b) => b > a }, rs.toString)
    val h = r.getFloat(5)
    assert(h > 0.0f && h < 1.0f, s"hurst $h outside (0,1)")
  }

  test("graph_ego_betweenness: brute-force parity on one cohort center") {
    val rows = Graph.graphEgoBetweenness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 64 == 0)
      assert(r.getLong(1) > 0 && r.getFloat(2) > 0.0f)
      // each broker pair contributes at most 1 (σ ≥ 1)
      assert(r.getFloat(2) <= r.getLong(1).toFloat + 1e-3f)
    }
    // brute-force the center with the most broker pairs
    val edges = graft.query.GraphIndex.copurchaseEdgesSym(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val z = rows.maxBy(_.getLong(1)).getLong(0)
    val nz = adj(z).toSeq.sorted
    var sum = 0.0; var cnt = 0L
    for (i <- nz.indices; j <- (i + 1) until nz.length) {
      val (u, v) = (nz(i), nz(j))
      if (!adj(u).contains(v)) {
        val couriers = (adj(u) & adj(v) & adj(z)) - z
        sum += 1.0 / (1 + couriers.size); cnt += 1
      }
    }
    val got = rows.find(_.getLong(0) == z).get
    assert(got.getLong(1) == cnt)
    assert(math.abs(got.getFloat(2) - sum.toFloat) < 1e-4f,
      s"ego ${got.getFloat(2)} brute $sum")
  }

  test("eval_mde_power: positive, and the standardized MDE is the raw " +
      "MDE over the pooled SD") {
    val r = Significance.evalMdePower(spark, sf).collect().head
    val se = r.getFloat(2); val mdeAbs = r.getFloat(3)
    val mdeD = r.getFloat(4)
    assert(se > 0.0f && mdeAbs > 0.0f && mdeD > 0.0f)
    // mde_abs = zsum·se (raw units); ratio recovers the constant
    assert(math.abs(mdeAbs / se - 2.8015852f) < 1e-3f)
  }

  test("dedup_threshold_curve: monotone non-increasing, and the 0.5 cut " +
      "equals the minhash pair table") {
    val rows = Dedup.dedupThresholdCurve(spark, sf).collect()
      .sortBy(_.getDouble(0))
    assert(rows.map(_.getDouble(0)).toSeq ==
      Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    val np = rows.map(_.getLong(1)); val nd = rows.map(_.getLong(2))
    assert(np.zip(np.tail).forall { case (a, b) => a >= b })
    assert(nd.zip(nd.tail).forall { case (a, b) => a >= b })
    val base = graft.query.Dedup.dedupMinhashLsh(spark, sf).count()
    assert(np.head == base)
  }

  test("ts_sax_symbolic: string length equals block count, alphabet is " +
      "{a,b,c,d}, and per-user blocks match ⌊n/8⌋") {
    val rows = TimeSeries.tsSaxSymbolic(spark, sf).collect()
    assert(rows.nonEmpty)
    val counts = graft.schema.Schemas.events(spark, sf)
      .filter(col("user_id") < 50L)
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val nb = r.getLong(1); val sax = r.getString(2)
      assert(sax.length == nb)
      assert(sax.forall("abcd".contains(_)), sax)
      assert(nb == counts(r.getLong(0)) / 8, s"user ${r.getLong(0)}")
    }
    // a non-degenerate corpus exercises more than one symbol
    assert(rows.flatMap(_.getString(2)).distinct.length >= 2)
  }

  test("stream_croston drain equals the batch recurrence row for row") {
    val streamed = StreamQueries.streamCroston(spark, sf).collect()
    val batch = TimeSeries.tsCroston(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1))
      assert(s.getDouble(5) == b.getDouble(5))
      assert(s.getDouble(6) == b.getDouble(6))
      assert(s.getDouble(7) == b.getDouble(7))
    }
  }

  test("agg_theil_index: non-negative, zero on a constant distribution, " +
      "matches a brute-force fold") {
    val rows = Relational.aggTheilIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getFloat(2) >= 0.0f, r.toString))
    // brute-force one priority class
    val o = graft.schema.Schemas.table(spark, sf, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("c")).collect()
    val pr = rows.head.getString(0)
    val cs = o.filter(_.getString(0) == pr).map(_.getLong(1))
    val n = cs.length.toDouble; val s = cs.sum.toDouble
    val brute = cs.map { c =>
      if (c > 0) { val x = c * n / s; x * math.log(x) } else 0.0
    }.sum / n
    assert(math.abs(rows.head.getFloat(2) - brute.toFloat) < 1e-5f)
  }

  test("graph_rich_club: phi within [0,1], club shrinks and densifies " +
      "as the cut rises") {
    val rows = Graph.graphRichClub(spark, sf).collect()
    assert(rows.length == 4)
    val nk = rows.map(_.getLong(1))
    assert(nk.zip(nk.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val phi = r.getFloat(3)
      assert(phi >= 0.0f && phi <= 1.0f + 1e-6f, r.toString)
      // e_k can never exceed the complete graph on the club
      assert(2 * r.getLong(2) <= r.getLong(1) * (r.getLong(1) - 1))
    }
  }

  test("ts_ccf_lags: lag panel complete, ccf bounded, lag 0 is the " +
      "contemporaneous correlation") {
    val rows = TimeSeries.tsCcfLags(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 4, 8))
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(math.abs(r.getFloat(2)) <= 1.0f + 1e-6f, r.toString)
    }
    // the lagged panels lose exactly `lag` boundary hours vs lag 0
    // when the hour grid is contiguous — at minimum they cannot GAIN
    val n0 = rows.head.getLong(1)
    rows.tail.foreach(r => assert(r.getLong(1) <= n0))
  }

  test("eval_friedman_kendall_w: W in [0,1], chi2 = W·n·(k−1), and the " +
      "brute-force rank sums agree") {
    val r = Significance.evalFriedmanKendallW(spark, sf).collect().head
    val n = r.getLong(0); val k = r.getLong(1)
    val chi2 = r.getDouble(2); val w = r.getDouble(3)
    assert(n > 0 && k == 5)
    assert(w >= 0.0 && w <= 1.0 + 1e-9, s"W=$w")
    assert(math.abs(chi2 - w * n * (k - 1)) < 1e-9)
    // brute-force the statistic from the collected count matrix
    val counts = graft.schema.Schemas.events(spark, sf)
      .groupBy(col("user_id"), col("event_type")).count().collect()
      .map(r0 => (r0.getLong(0), r0.getString(1)) -> r0.getLong(2)).toMap
    val userIds = counts.keys.map(_._1).toSeq.distinct
    val typeIds = counts.keys.map(_._2).toSeq.distinct.sorted
    assert(userIds.length == n && typeIds.length == k)
    var tie3 = 0L
    val rankSums = collection.mutable.Map.empty[String, Double]
    userIds.foreach { u =>
      val cs = typeIds.map(t => t -> counts.getOrElse((u, t), 0L))
      val grouped = cs.groupBy(_._2)
      grouped.foreach { case (_, g) =>
        val t = g.length.toLong; tie3 += t * t * t - t }
      cs.foreach { case (t, c) =>
        val smaller = cs.count(_._2 < c)
        val ties = cs.count(_._2 == c)
        rankSums(t) = rankSums.getOrElse(t, 0.0) +
          (smaller + (ties + 1) / 2.0)
      }
    }
    val sr = rankSums.values.map(x => x * x).sum
    val nD = n.toDouble; val kD = k.toDouble
    val brute = (12.0 / (nD * kD * (kD + 1.0)) * sr
      - 3.0 * nD * (kD + 1.0)) /
      (1.0 - tie3.toDouble / (nD * kD * (kD * kD - 1.0)))
    assert(math.abs(chi2 - brute) < 1e-9, s"chi2=$chi2 brute=$brute")
  }

  test("stream_cusum_target drain equals the batch scan row for row") {
    val streamed = StreamQueries.streamCusumTarget(spark, sf).collect()
    val batch = TimeSeries.tsCusumTarget(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(s.getDouble(4) == b.getDouble(4))
      assert(s.getBoolean(5) == b.getBoolean(5))
    }
  }
}
