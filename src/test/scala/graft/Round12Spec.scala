package graft

import org.apache.spark.sql.functions._
import graft.query.{Graph, Similarity, TextAnalysis, Warehouse}
import graft.query.ml.{Calibration, Preference, Scoring}
import graft.query.stats.{Anomaly, Drift, Quality, TimeSeries}
import graft.schema.Schemas

/** Round-12 operators: connected components (two paths), skyline,
  * table profiling, calibration, L2 ANN, and the warehouse-maintenance
  * family. */
class Round12Spec extends SparkSpec {

  test("graph_connected_components: union-find and distributed paths agree") {
    val uf = Graph.graphConnectedComponents(spark, sf).collect()
    val dist = Graph
      .graphConnectedComponents(spark, sf, driverUnionFindMax = 0L)
      .collect()
    assert(uf.length == dist.length, s"${uf.length} vs ${dist.length}")
    uf.zip(dist).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    // component labels are the min member: label <= every member's id,
    // and each component's member count is >= 2 (every vertex has an edge)
    uf.foreach { r =>
      assert(r.getLong(0) <= r.getLong(2))
      assert(r.getLong(1) >= 2)
    }
  }

  test("graph_connected_components: labels are a valid partition") {
    // total member mass equals the vertex count of the pair-order graph
    val li = Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("ps"))
      .filter(size(col("ps")) === 2)
      .select(array_min(col("ps")).as("u"), array_max(col("ps")).as("v"))
      .distinct()
    val nV = li.select(col("u")).unionAll(li.select(col("v")))
      .distinct().count()
    val out = Graph.graphConnectedComponents(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == nV)
  }

  test("pareto_frontier: equals the brute-force skyline") {
    val m = Schemas.table(spark, sf, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("q"),
        min(col("l_extendedprice") / col("l_quantity")).as("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = m.filter { case (_, q, p) =>
      !m.exists { case (_, q2, p2) =>
        q2 >= q && p2 <= p && (q2 > q || p2 < p)
      }
    }.map(_._1).sorted
    val got = Preference.paretoFrontier(spark, sf).collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq == brute.toSeq)
    // skyline is an antichain: no member dominates another (implied by
    // equality with brute force, asserted directly as a tripwire)
    val bySky = m.filter(x => got.contains(x._1))
    bySky.foreach { case (k, q, p) =>
      assert(!bySky.exists { case (k2, q2, p2) =>
        k2 != k && q2 >= q && p2 <= p && (q2 > q || p2 < p)
      })
    }
  }

  test("pareto_frontier: prefilter is bucket-count invariant") {
    val a = Preference.paretoFrontier(spark, sf, nBuckets = 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = Preference.paretoFrontier(spark, sf, nBuckets = 512)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("profile_table_stats: matches per-column recompute") {
    val out = Quality.profileTableStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val li = Schemas.table(spark, sf, "lineitem")
    val n = li.count()
    Seq("l_discount", "l_partkey", "l_quantity", "l_suppkey").foreach { c =>
      val r = li.agg(count(col(c)), countDistinct(col(c)),
        min(col(c)).cast("double"), max(col(c)).cast("double")).head()
      assert(out(c) == ((n, r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))), s"col $c: ${out(c)}")
    }
  }

  test("eval_calibration_bins: bins partition the corpus; scores in range") {
    val out = Calibration.evalCalibrationBins(spark, sf).collect()
    val total = Schemas.table(spark, sf, "embeddings").count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      val bin = r.getInt(0); val nRows = r.getLong(1)
      val sumScore = r.getDouble(2); val nPos = r.getLong(3)
      assert(bin >= 0 && bin <= 9)
      assert(nPos <= nRows)
      // mean score of a bin lies inside the bin's score interval
      val mean = sumScore / nRows
      assert(mean >= bin / 10.0 - 1e-9 && mean <= (bin + 1) / 10.0 + 1e-9)
    }
  }

  test("ann_l2_topk: agrees with a driver-side exact recompute") {
    val emb = Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    def d2(a: Array[Float]): Double = {
      var aa = 0.0; var aq = 0.0; var qq = 0.0
      var i = 0
      while (i < a.length) {
        aa += a(i).toDouble * a(i).toDouble
        aq += a(i).toDouble * q(i).toDouble
        qq += q(i).toDouble * q(i).toDouble
        i += 1
      }
      aa - 2.0 * aq + qq
    }
    val expect = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (d2(v), id) }.sorted.take(10).map(_._2)
    val got = Similarity.annL2TopK(spark, sf).collect().map(_.getLong(0))
    assert(got.toSeq == expect)
  }

  test("snapshot_diff: statuses partition the union of snapshot keys") {
    val out = Warehouse.snapshotDiff(spark, sf).collect()
    val byStatus = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = Schemas.table(spark, sf, "orders")
    val nA = o.filter(col("o_orderkey") % 7 =!= 0).count()
    val nB = o.filter(col("o_orderkey") % 5 =!= 0).count()
    val nBoth = o.filter(col("o_orderkey") % 7 =!= 0 &&
      col("o_orderkey") % 5 =!= 0).count()
    assert(byStatus("added") == nB - nBoth)
    assert(byStatus("removed") == nA - nBoth)
    assert(byStatus.getOrElse("changed", 0L)
      + byStatus.getOrElse("unchanged", 0L) == nBoth)
    // changed keys are exactly the shared keys divisible by 3
    val nChanged = o.filter(col("o_orderkey") % 7 =!= 0 &&
      col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 3 === 0 &&
      col("o_totalprice") =!= 0.0).count()
    assert(byStatus.getOrElse("changed", 0L) == nChanged)
  }

  test("layout_compaction_plan: bins are contiguous and capacity-quantized") {
    val rows = Warehouse.layoutCompactionPlan(spark, sf).collect()
    // per month: target_file ids start at 0 and are contiguous
    rows.groupBy(_.getDate(0)).foreach { case (_, g) =>
      val ids = g.map(_.getInt(1)).sorted
      assert(ids.head == 0 && ids.last == ids.length - 1)
    }
    // every bin except possibly the last per month holds > 0 bytes and
    // bin index equals the quantized running total
    rows.foreach { r => assert(r.getLong(4) > 0) }
    // total rows across the plan equal the orders row count
    val total = Schemas.table(spark, sf, "orders").count()
    assert(rows.map(_.getLong(3)).sum == total)
  }

  test("mv_incremental_merge: partial-merge equals direct rollup") {
    val got = Warehouse.mvIncrementalMerge(spark, sf).collect()
    val direct = Schemas.table(spark, sf, "lineitem")
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
        .as("month"), col("l_returnflag").as("returnflag"))
      .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n_rows"))
      .orderBy(col("month"), col("returnflag")).collect()
    assert(got.length == direct.length)
    got.zip(direct).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("sql_min_cost_supplier: winner really is the per-part minimum") {
    val out = Warehouse.sqlMinCostSupplier(spark, sf).collect()
    val cost = Schemas.table(spark, sf, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("c"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2)))).toMap
    out.foreach { r =>
      val pk = r.getLong(0)
      val offers = cost(pk)
      val mc = offers.map(_._2).min
      val winner = offers.filter(_._2 == mc).map(_._1).min
      assert(r.getString(1) == f"Supplier#${winner}%09d",
        s"part $pk winner ${r.getString(1)} vs suppkey $winner")
      assert(r.getDouble(3) == mc)
    }
  }

  test("sql_yearly_growth: rates recompute from the reported totals") {
    val out = Warehouse.sqlYearlyGrowth(spark, sf).collect()
    assert(out.head.isNullAt(3) && out.head.isNullAt(4))
    out.sliding(2).foreach {
      case Array(prev, cur) =>
        assert(cur.getFloat(3) == prev.getFloat(1))
        val expect = ((cur.getFloat(1).toDouble - prev.getFloat(1).toDouble)
          / prev.getFloat(1).toDouble).toFloat
        assert(cur.getFloat(4) == expect)
      case _ => ()
    }
  }

  test("sql_basket_affinity: support/lift identities and antimonotonicity") {
    import org.apache.spark.sql.functions.{broadcast => _, _}
    val out = Warehouse.sqlBasketAffinity(spark, sf).collect()
    val ob = Schemas.table(spark, sf, "lineitem")
      .join(Schemas.table(spark, sf, "part"),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val nOrders = ob.select("l_orderkey").distinct().count()
    val brandN = ob.groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out.length <= 30)
    out.foreach { r =>
      val (a, b, nBoth) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b)
      assert(nBoth >= 20 && nBoth <= math.min(brandN(a), brandN(b)))
      assert(r.getFloat(3) == (nBoth.toDouble / nOrders).toFloat)
      assert(r.getFloat(4) == (nBoth.toDouble * nOrders
        / (brandN(a).toDouble * brandN(b))).toFloat)
    }
  }

  test("pii_scan_report: planted PII is counted per type") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pii-plant").toString
    Seq(
      (1L, "contact me at alice@example.com or bob@test.org thanks", "sA"),
      (2L, "call 555-123-4567 from 10.0.0.1 now", "sA"),
      (3L, "card 1234567890123456 leaked", "sB"),
      (4L, "perfectly clean text", "sB"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val rep = TextAnalysis.piiScanReport(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(rep("sA") == ((2L, 2L, 1L, 1L, 0L, 2L)), rep("sA"))
    assert(rep("sB") == ((2L, 0L, 0L, 0L, 1L, 1L)), rep("sB"))
  }

  test("context_length_bands: bands partition docs; 2^band bound holds") {
    val out = TextAnalysis.contextLengthBands(spark, sf).collect()
    val total = Schemas.table(spark, sf, "documents").count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      val band = r.getInt(0)
      val lo = 1L << band; val hi = 1L << (band + 1)
      assert(r.getLong(2) >= lo && r.getLong(3) < hi,
        s"band $band range [${r.getLong(2)}, ${r.getLong(3)}]")
    }
  }

  test("eval_auc_roc: rank-sum equals a driver fold; separable set gives 1") {
    val row = Scoring.evalAucRoc(spark, sf).head()
    val pairs = Schemas.table(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("embedding"), 1).cast("double"),
        org.apache.spark.sql.functions.col("label")).collect()
      .map(r => (math.min(math.max(r.getDouble(0) * 2.0 + 0.5, 0.0), 0.9999),
        r.getInt(1) % 2))
    // driver fold: probability a random positive outranks a random
    // negative, ties counting half
    var wins = 0.0
    val pos = pairs.filter(_._2 == 1).map(_._1)
    val neg = pairs.filter(_._2 == 0).map(_._1)
    pos.foreach(p => neg.foreach { n =>
      if (p > n) wins += 1.0 else if (p == n) wins += 0.5
    })
    val auc = (wins / (pos.length.toDouble * neg.length)).toFloat
    assert(row.getLong(0) == pos.length && row.getLong(1) == neg.length)
    assert(math.abs(row.getFloat(2) - auc) <= 1e-6f,
      s"${row.getFloat(2)} vs $auc")
  }

  test("multimodal_resize_plan: never upscale; box respected; aspect kept") {
    graft.query.Multimodal.multimodalResizePlan(spark, sf).collect()
      .foreach { r =>
        val (w, h, ow, oh) =
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
        assert(ow <= 512 && oh <= 512)
        assert(ow <= w && oh <= h)
        // when any scaling occurred, the long side lands on the box edge
        // up to floor's truncation of the near-integer product (w·box/w
        // can evaluate to 511.999…)
        assert(ow == w && oh == h || math.max(ow, oh) >= 511,
          s"partial scale without hitting the box: $r")
        // aspect ratio preserved to within the floor's 1-pixel truncation
        assert(math.abs(ow.toDouble / w - oh.toDouble / h)
          <= 1.0 / math.min(w, h))
        assert(r.getLong(6) == ow.toLong * oh)
      }
  }

  test("multimodal_audio_windows: frame grid reconstructs the stream") {
    graft.query.Multimodal.multimodalAudioWindows(spark, sf).collect()
      .foreach { r =>
        val (dur, n, frames, tail) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        assert(n == dur * 16000 / 1000)
        if (frames > 0) {
          assert((frames - 1) * 160 + 400 <= n)
          assert(tail >= 0 && tail < 160, s"tail $tail")
        } else assert(n < 400 && tail == n)
      }
  }

  test("ts_cusum_changepoint: hand fold of one user's CUSUM") {
    val out = TimeSeries.tsCusumChangepoint(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2), r.getLong(3)))
      .toMap
    val rows = Schemas.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("user_id") < 50)
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (uid, g) =>
      val ordered = g.sortBy(x => (x._2, x._3))
      val mean = ordered.map(_._4).sum / ordered.length
      var acc = 0.0
      val cusums = ordered.map { x => acc += x._4 - mean; acc }
      val range = (cusums.max - cusums.min).toFloat
      val (n, gotRange, peak) = out(uid)
      assert(n == ordered.length)
      // driver fold sums in a different order than the engine's ordered
      // frame only for the MEAN term; float cast absorbs the last-ulp
      assert(math.abs(gotRange - range) <= 1e-4f * math.abs(range),
        s"user $uid: $gotRange vs $range")
      val peakIdx = cusums.zipWithIndex.maxBy {
        case (c, i) => (math.abs(c), -i)
      }._2
      assert(peak == ordered(peakIdx)._3, s"user $uid peak")
    }
  }

  test("anomaly_spc_runs: run lengths partition each user's series") {
    val out = Anomaly.anomalySpcRuns(spark, sf).collect()
    val counts = Schemas.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("user_id") < 50)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == counts.size)
    out.foreach { r =>
      val uid = r.getLong(0)
      assert(r.getLong(1) >= 1 || r.getLong(2) >= 1)
      assert(r.getLong(1) <= counts(uid) && r.getLong(2) <= counts(uid))
      assert(r.getLong(3) >= 0)
    }
  }

  test("drift_chi2_terms: nonnegative terms; margins conserve; identical " +
    "cohorts give ~zero statistic") {
    val out = Drift.driftChi2Terms(spark, sf).collect()
    val total = Schemas.events(spark, sf).count()
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    out.foreach(r => assert(r.getFloat(3) >= 0.0f))
    // hand fold of one category's term from its own counts
    val na = out.map(_.getLong(1)).sum.toDouble
    val nb = out.map(_.getLong(2)).sum.toDouble
    out.foreach { r =>
      val ca = r.getLong(1).toDouble; val cb = r.getLong(2).toDouble
      val ea = (ca + cb) * na / (na + nb); val eb = (ca + cb) * nb / (na + nb)
      val expect = ((ca - ea) * (ca - ea) / ea + (cb - eb) * (cb - eb) / eb)
        .toFloat
      assert(r.getFloat(3) == expect, s"${r.getString(0)}")
    }
  }

  test("dq_constraint_report: planted violations are counted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dq-plant").toString
    // orders: 3 rows referencing missing customers + 1 null price;
    // customer: one valid key; lineitem: 2 non-positive quantities + 1
    // orphan orderkey; part: a duplicated key
    Seq((1L, 10L, Option(5.0)), (2L, 999L, Option(6.0)),
      (3L, 998L, None), (4L, 997L, Option(7.0)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq(10L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1.0), (1L, 0.0), (2L, -3.0), (77L, 4.0))
      .toDF("l_orderkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq(100L, 100L, 101L).toDF("p_partkey")
      .write.parquet(s"$dir/part.parquet")
    val rep = Quality.dqConstraintReport(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep("lineitem_orderkey_fk") == ((4L, 1L)))
    assert(rep("lineitem_qty_positive") == ((4L, 2L)))
    assert(rep("orders_custkey_fk") == ((4L, 3L)))
    assert(rep("orders_price_nonnull") == ((4L, 1L)))
    assert(rep("part_partkey_unique") == ((3L, 1L)))
  }

  test("corpus_diversity_stats: strata partition the corpus; TTR bounds") {
    val out = TextAnalysis.corpusDiversityStats(spark, sf).collect()
    val nDocs = Schemas.table(spark, sf, "documents").count()
    assert(out.map(_.getLong(2)).sum == nDocs)
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3)) // types <= tokens
      val ttr = r.getFloat(5)
      assert(ttr > 0.0f && ttr <= 1.0f)
    }
  }

  test("text_bigram_logprob: hand fold of the smoothed bigram model") {
    val out = TextAnalysis.textBigramLogprob(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    // rebuild the model driver-side from the same tokenization
    val docs = Schemas.table(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.query.TokenHash.tokens(org.apache.spark.sql.functions.col("text"))
          .as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toArray)
    val grams = docs.flatMap { case (id, t) =>
      t.sliding(2).filter(_.length == 2).map(p => (id, p(0), p(1)))
    }
    val cbg = grams.groupBy(g => (g._2, g._3)).view.mapValues(_.length).toMap
    val cug = grams.groupBy(_._2).view.mapValues(_.length).toMap
    val v = grams.map(_._3).distinct.length.toDouble
    grams.groupBy(_._1).foreach { case (id, g) =>
      val mean = g.map { case (_, w1, w2) =>
        math.log((cbg((w1, w2)) + 1.0) / (cug(w1) + v))
      }.sum / g.length
      val (n, got) = out(id)
      assert(n == g.length, s"doc $id n_bigrams")
      assert(math.abs(got - mean.toFloat) <= 2e-6f * math.abs(mean).toFloat,
        s"doc $id: $got vs $mean")
    }
    // every multi-token doc is scored
    assert(out.size == docs.count(_._2.length >= 2))
  }
}
