package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Graph, Similarity, TextAnalysis, TokenHash,
  Warehouse}
import graft.query.ml.Features
import graft.query.stats.{Quality, Sampling, TimeSeries}

/** Driver-round-12 operator pins: MMR diversified retrieval, hard-
  * negative mining, Δ-join view maintenance, and leave-one-out target
  * encoding. (File named by DRIVER round per the BASELINE.md
  * reconciliation.)
  */
class DriverRound12Spec extends SparkSpec {

  test("retrieval_mmr_topk: picks and scores equal an exact driver-side " +
      "replay of the greedy MMR unroll over the brute-force pool") {
    val picks = Similarity.retrievalMmrTopk(spark, sf).collect()
    assert(picks.length == 3)
    assert(picks.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(picks.map(_.getLong(0)).distinct.length == 3)
    // replay: float_dot accumulates float→double products in index order,
    // so this driver loop reproduces every comparison bit for bit
    val pool = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .filter(col("vec_id").isin(pool.keys.toSeq: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    var selected = Vector.empty[(Long, Double)]
    (1 to 3).foreach { step =>
      val cand = pool.keys.filterNot(id => selected.exists(_._1 == id))
      val scored = cand.map { id =>
        val score =
          if (step == 1) pool(id)
          else 0.7 * pool(id) -
            0.3 * selected.map(s => dot(vecs(id), vecs(s._1))).max
        id -> score
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }
      selected :+= scored.head
    }
    picks.zip(selected).zipWithIndex.foreach { case ((got, (id, score)), i) =>
      assert(got.getLong(0) == id, s"pick ${i + 1} id")
      assert(got.getDouble(2) == score, s"pick ${i + 1} score")
    }
  }

  test("ann_hard_negatives: every negative's label differs from its " +
      "anchor's; per-anchor ranks contiguous; cosines non-increasing") {
    val emb = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.annHardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (anchor, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      rs.foreach(r => assert(emb(r.getLong(2)) != emb(anchor),
        s"negative ${r.getLong(2)} shares anchor $anchor's label"))
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("mv_join_delta: the delta-maintained view equals the full recompute " +
      "over the effective table, row for row") {
    val cust = graft.schema.Schemas.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val full = graft.schema.Schemas.table(spark, sf, "orders")
      .withColumn("price_cents",
        when(col("o_orderkey") % 20 === 5,
          round((col("o_totalprice") + lit(5.0)) * 100).cast("long"))
          .otherwise(round(col("o_totalprice") * 100).cast("long")))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("price_cents"),
        col("c_nationkey"))
      .orderBy(col("o_orderkey")).collect()
    val delta = Warehouse.mvJoinDelta(spark, sf).collect()
    assert(delta.length == full.length && delta.nonEmpty)
    delta.zip(full).foreach { case (a, b) => assert(a == b) }
  }

  test("retrieval_colbert_maxsim: scores equal a driver-side slice-dot " +
      "replay; top-k ordered desc with id tie-break") {
    val rows = Similarity.retrievalColbertMaxsim(spark, sf).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getDouble(1))
    scores.zip(scores.tail).foreach { case (a, b) => assert(a >= b) }
    val vecs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val q = vecs(0L)
    def maxsim(d: Array[Float]): Double =
      (0 until 8).map { i =>
        (0 until 8).map { j =>
          dot(d.slice(j * 8, j * 8 + 8), q.slice(i * 8, i * 8 + 8))
        }.max
      }.reduce(_ + _)
    rows.foreach { r =>
      assert(r.getDouble(1) == maxsim(vecs(r.getLong(0))),
        s"vec ${r.getLong(0)}")
    }
    // and the returned set IS the global top-k of the replayed scores
    val all = vecs.collect { case (id, v) if id != 0L => (id, maxsim(v)) }
    val want = all.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(rows.length).map(_._1)
    assert(rows.map(_.getLong(0)).toSeq == want)
  }

  test("ann_knn_graph_mutual: every edge is mutual under an exact " +
      "driver-side kNN replay, and no mutual pair is missing") {
    val vecs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .filter(col("vec_id") < 512).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val knn = vecs.keys.map { a =>
      a -> vecs.keys.filter(_ != a).toSeq
        .map(b => (b, dot(vecs(a), vecs(b))))
        .sortBy { case (b, c) => (-c, b) }.take(5).map(_._1).toSet
    }.toMap
    val wantEdges = (for {
      a <- vecs.keys; b <- knn(a) if a < b && knn(b).contains(a)
    } yield (a, b)).toSet
    val got = Similarity.annKnnGraphMutual(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == wantEdges)
    assert(got.nonEmpty)
  }

  test("retrieval_prf_expansion: expansion terms are disjoint from the " +
      "query doc's vocabulary and doc-frequency-bounded by the feedback set") {
    val qToks = TokenHash.tokenTf(spark, sf)
      .filter(col("doc_id") === 0).select(col("tok")).collect()
      .map(_.getString(0)).toSet
    val rows = Similarity.retrievalPrfExpansion(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!qToks.contains(r.getString(0)), s"query term ${r.getString(0)}")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 10)
      assert(r.getLong(2) >= r.getLong(1)) // total tf >= doc count
    }
  }

  test("corpus_dsir_weights: covers every doc with its exact token count, " +
      "and target-language docs score higher on average") {
    val rows = TextAnalysis.corpusDsirWeights(spark, sf).collect()
    val nDocs = graft.schema.Schemas.table(spark, sf, "documents").count()
    assert(rows.length == nDocs)
    val dl = TokenHash.tokenTf(spark, sf).groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(2) == dl(r.getLong(0))))
    val (en, rest) = rows.partition(_.getString(1) == "en")
    def meanPerTok(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getFloat(3).toDouble / r.getLong(2)).sum / rs.length
    assert(meanPerTok(en) > meanPerTok(rest),
      "en docs must score higher per token under the en-target weights")
  }

  test("feature_woe_iv: counts reconcile, IV terms are non-negative, and " +
      "WOE sign tracks the category's good-rate vs the global rate") {
    val rows = Features.featureWoeIv(spark, sf).collect()
    assert(rows.nonEmpty)
    val gt = rows.map(_.getLong(2)).sum.toDouble
    val bt = rows.map(_.getLong(3)).sum.toDouble
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3))
      assert(r.getFloat(5) >= 0.0f, s"IV term negative for ${r.getString(0)}")
      val woe = r.getFloat(4)
      val lhs = (2 * r.getLong(2) + 1) * bt
      val rhs = (2 * r.getLong(3) + 1) * gt
      assert((woe > 0) == (lhs > rhs) || woe == 0.0f)
    }
  }

  test("graph_node2vec_transitions: weights are exactly {0.5, 1, 2} by " +
      "case, and per-(prev,cur) probabilities sum to exactly 1.0") {
    val rows = Graph.graphNode2vecTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getDouble(3)
      assert(w == 0.5 || w == 1.0 || w == 2.0)
      if (r.getLong(2) == r.getLong(0)) // next == prev → return weight
        assert(w == 0.5)
    }
    rows.groupBy(r => (r.getLong(0), r.getLong(1))).foreach {
      case (state, rs) =>
        // z is a sum of multiples of 0.5 → exact; probs sum to exactly 1
        val z = rs.map(_.getDouble(3)).sum
        val probSum = rs.map(r => r.getDouble(3) / z).sum
        assert(math.abs(probSum - 1.0) < 1e-12, s"state $state")
        rs.foreach(r => assert(r.getDouble(4) == r.getDouble(3) / z))
    }
  }

  test("dedup_minhash_est_error: estimator is k/32 with k in range, " +
      "planted near-dup pairs present, mean |err| inside the sketch bound") {
    val rows = Dedup.dedupMinhashEstError(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getInt(2)
      assert(k >= 0 && k <= 32)
      assert(r.getDouble(3) == k.toDouble / 32)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) == math.abs(r.getDouble(3) - r.getDouble(4)))
    }
    // the planted prefix-edited copies must surface as candidates
    assert(rows.exists(r => r.getLong(1) >= 1000000L))
    // MinHash with 32 hashes: E|err| ~ sqrt(j(1-j)/32) <= 0.09; allow
    // generous slack for the small candidate sample
    val meanErr = rows.map(_.getDouble(5)).sum / rows.length
    assert(meanErr <= 0.25, s"mean |est - exact| = $meanErr")
  }

  test("dedup_line_level: per-doc sentence and duplicate counts equal a " +
      "driver-side replay of the planted-boilerplate split") {
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sents = docs.flatMap { case (id, src, text) =>
      val t2 = (if (id % 4 == 0) "subscribe to our newsletter today. "
                else "") + text + ". copyright " + src + " all rights reserved."
      t2.split("\\.", -1).map(_.trim).filter(_.nonEmpty)
        .map(s => (id, s.toLowerCase))
    }
    val docsPerSent = sents.distinct.groupBy(_._2).map { case (s, xs) =>
      s -> xs.length
    }
    val want = sents.groupBy(_._1).map { case (id, xs) =>
      id -> (xs.length.toLong,
        xs.count(x => docsPerSent(x._2) >= 2).toLong)
    }
    val got = Dedup.dedupLineLevel(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, d) = want(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == d, s"doc ${r.getLong(0)}")
      assert(r.getDouble(3) == d.toDouble / n.toDouble)
    }
    // the planted boilerplate must actually produce cross-doc duplicates
    assert(got.exists(_.getLong(2) > 0))
  }

  test("pack_bin_ffd: bin assignment equals a driver-side first-fit-" +
      "decreasing replay and respects capacity except oversize singletons") {
    val cap = 256L
    val rows = TextAnalysis.packBinFfd(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      val want = rs.sortBy(r => (-r._3, r._1)).map { case (id, _, t, _) =>
        val i = bins.indexWhere(_ + t <= cap)
        val bin = if (i >= 0) { bins(i) += t; i } else { bins += t; bins.length - 1 }
        id -> bin.toLong
      }.toMap
      rs.foreach { case (id, _, _, bin) =>
        assert(bin == want(id), s"doc $id in $src")
      }
      // capacity holds for every bin unless it is a single oversize doc
      rs.groupBy(_._4).foreach { case (bin, members) =>
        val load = members.map(_._3).sum
        assert(load <= cap ||
          (members.length == 1 && members.head._3 > cap),
          s"bin $bin in $src overloaded at $load")
      }
    }
  }

  test("graph_closeness_sampled: hop counts and harmonic score equal a " +
      "driver-side multi-source BFS replay") {
    val rows = Graph.graphClosenessSampled(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay: exact BFS over the collected symmetric edge list
    val li = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.toSeq
    val edges = byOrder.flatMap { rs =>
      val ps = rs.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val seeds = adj.keys.filter(_ <= 50L)
    val dist = scala.collection.mutable.Map.empty[(Long, Long), Int]
    seeds.foreach { s =>
      var frontier = Set(s); dist((s, s)) = 0
      (1 to 4).foreach { h =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(v => dist.contains((s, v)))
        frontier.foreach(v => dist((s, v)) = h)
      }
    }
    val want = dist.toSeq.filter(_._2 > 0).groupBy(_._1._2).map {
      case (v, ds) =>
        val n = (1 to 4).map(h => ds.count(_._2 == h).toLong)
        v -> (n, n.zipWithIndex.map { case (c, i) =>
          c.toDouble / (i + 1).toDouble }.reduce(_ + _))
    }
    assert(rows.length == want.size)
    rows.foreach { r =>
      val (n, harm) = want(r.getLong(0))
      (1 to 4).foreach(h => assert(r.getLong(h) == n(h - 1),
        s"v=${r.getLong(0)} n$h"))
      assert(r.getDouble(5) == harm, s"v=${r.getLong(0)} harmonic")
    }
  }

  test("ts_mann_kendall: S, tie-corrected variance, z, and the Sen median " +
      "slope equal a driver-side replay for every user") {
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")),
        col("event_id"), round(col("value") * lit(1e6)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = TimeSeries.tsMannKendall(spark, sf).collect()
    assert(got.nonEmpty)
    val byUser = ev.groupBy(_._1)
    got.foreach { r =>
      val u = r.getLong(0)
      val es = byUser(u).sortBy(e => (e._2, e._3))
      val pairs = for {
        i <- es.indices; j <- (i + 1) until es.length
      } yield (es(i), es(j))
      val s = pairs.map { case (a, b) => java.lang.Long.signum(b._4 - a._4).toLong }.sum
      val n = es.length.toLong
      val tie18 = es.groupBy(_._4).values
        .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tie18
      assert(r.getLong(1) == n && r.getLong(2) == s && r.getLong(3) == var18,
        s"user $u counts")
      val z =
        if (s > 0) (s - 1).toDouble / math.sqrt(var18.toDouble / 18.0)
        else if (s < 0) (s + 1).toDouble / math.sqrt(var18.toDouble / 18.0)
        else 0.0
      assert(r.getDouble(4) == z, s"user $u z")
      val slopes = pairs.filter { case (a, b) => a._2 != b._2 }
        .map { case (a, b) =>
          ((b._4 - a._4).toDouble / (b._2 - a._2).toDouble, a._3, b._3)
        }.sortBy(identity)
      val m = slopes.length
      val sen =
        if (m % 2 == 1) slopes((m - 1) / 2)._1
        else (slopes(m / 2 - 1)._1 + slopes(m / 2)._1) / 2
      assert(r.getDouble(5) == sen, s"user $u sen")
    }
  }

  test("multimodal_phash_dedup: dHash is brightness-invariant on planted " +
      "copies, discriminates distinct textures, and the real decode round-" +
      "trips the synthesized raster") {
    import graft.query.Multimodal
    def decode(b: Array[Byte]) = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b))
    (0L until 10L).foreach { id =>
      val h0 = Multimodal.dhashBits(decode(
        Multimodal.synthesizeGradientPng(id, 0)))
      val h1 = Multimodal.dhashBits(decode(
        Multimodal.synthesizeGradientPng(id, 1)))
      assert(h0.length == 64 && h0.forall(c => c == '0' || c == '1'))
      assert(h0 == h1, s"brightness shift changed dHash for doc $id")
    }
    // distinct textures hash apart (the all-ones monotone-gradient
    // collision class the quadratic terms exist to break)
    val hashes = (0L until 10L).map(id =>
      Multimodal.dhashBits(decode(Multimodal.synthesizeGradientPng(id, 0))))
    assert(hashes.distinct.length == hashes.length)
    // the declared query reports exactly the planted groups on this corpus
    val groups = Multimodal.multimodalPhashDedup(spark, sf).collect()
    assert(groups.nonEmpty)
    groups.foreach { r =>
      assert(r.getLong(1) >= 2)
      assert(r.getLong(4) == r.getLong(1) - 1)
    }
    assert(groups.exists(r => r.getLong(2) < 10 && r.getLong(3) >= 1000000L))
  }

  test("graph_effective_diameter: reconciles with the closeness index " +
      "(same BFS), d90 is the first 90% quantile hop, mean inside [1, 4]") {
    val d = Graph.graphEffectiveDiameter(spark, sf).collect()
    assert(d.length == 1)
    val r = d.head
    val n = (1 to 4).map(h => r.getLong(h))
    assert(r.getLong(0) == n.sum)
    // same totals as the closeness rollup of the shared index
    val c = Graph.graphClosenessSampled(spark, sf).collect()
    (1 to 4).foreach { h =>
      assert(c.map(_.getLong(h)).sum == n(h - 1), s"hop $h")
    }
    val mean = r.getDouble(5)
    assert(mean >= 1.0 && mean <= 4.0)
    val cum = n.scanLeft(0L)(_ + _).tail
    val d90 = (1 to 4).find(h => 10 * cum(h - 1) >= 9 * n.sum).getOrElse(4)
    assert(r.getInt(6) == d90)
  }

  test("dq_benford_test: digits partition the table, probabilities sum " +
      "to ~1, chi-square terms are non-negative") {
    val rows = Quality.dqBenfordTest(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq.sorted ==
      rows.map(_.getInt(0)).toSeq.sorted.distinct)
    val nOrders = graft.schema.Schemas.table(spark, sf, "orders").count()
    assert(rows.map(_.getLong(1)).sum == nOrders)
    rows.foreach { r =>
      assert(r.getLong(2) == nOrders)
      assert(r.getFloat(4) >= 0.0f)
    }
    val psum = rows.map(_.getFloat(3).toDouble).sum
    // ≤ 9 digits present; if all 9 are, Benford masses sum to 1
    if (rows.length == 9) assert(math.abs(psum - 1.0) < 1e-5)
  }

  test("stream_anomaly_zscore: streaming verdicts equal the batch " +
      "cumulative-moments replay, and a re-run is deterministic") {
    val got = graft.streaming.StreamQueries.streamAnomalyZscore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        round(col("value") * lit(1000)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      var n = 0L; var s = 0L; var q = 0L
      es.sortBy(e => (e._3, e._2)).flatMap { case (_, id, _, x) =>
        val hit = n >= 10 && {
          val dev = x * n - s; dev * dev > 9 * (n * q - s * s)
        }
        n += 1; s += x; q += x * x
        if (hit) Some((u, id, n - 1)) else None
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
    assert(got.nonEmpty)
    val again = graft.streaming.StreamQueries.streamAnomalyZscore(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == again.toSeq)
  }

  test("text_kneser_ney: every probability equals an exact driver-side " +
      "replay of the discount + continuation formula, and the declared " +
      "surface is exactly the c >= 5 bigrams") {
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .select(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(_.getString(0))
    val bigrams = docs.flatMap { t =>
      val w = t.split(" ")
      if (w.length >= 2) w.sliding(2).map(p => (p(0), p(1))).toSeq
      else Seq.empty
    }
    val big = bigrams.groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val ctx = big.groupBy(_._1._1).map { case (w1, m) =>
      w1 -> (m.values.sum, m.size.toLong) }
    val cont = big.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val nBig = big.size.toLong
    val got = TextAnalysis.textKneserNey(spark, sf).collect()
    assert(got.length == big.count(_._2 >= 5L), "surface = {c >= 5} exactly")
    got.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val c = r.getLong(2)
      assert(c == big((w1, w2)))
      val (c1, nAfter) = ctx(w1)
      val nBefore = cont(w2)
      assert(r.getLong(3) == c1 && r.getLong(4) == nAfter &&
        r.getLong(5) == nBefore, s"stats for ($w1,$w2)")
      // same IEEE op order as the Column expression — bit-exact compare
      val want = math.max(c - 0.75, 0.0) / c1 +
        0.75 * nAfter / c1 * (nBefore.toDouble / nBig)
      assert(r.getDouble(6) == want, s"p_kn($w2|$w1)")
      assert(r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0)
    }
  }

  test("sample_kcenter_coreset: picks equal an exact greedy farthest-point " +
      "replay (argmax of min d2, id tie-break), radius non-increasing") {
    val vecs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> dot(v, v) }
    var chosen = Vector(0L)
    var want = Vector((0L, 1, 0.0))
    for (step <- 2 to 8) {
      val (id, md2) = vecs.keys.filterNot(chosen.contains).map { id =>
        id -> chosen.map(c =>
          nrm(id) + nrm(c) - 2.0 * dot(vecs(id), vecs(c))).min
      }.minBy { case (i, d) => (-d, i) }
      chosen :+= id
      want :+= ((id, step, md2))
    }
    val got = Sampling.sampleKcenterCoreset(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == want)
    got.sliding(2).foreach { case Array(a, b) =>
      if (a._2 >= 2) assert(b._3 <= a._3, s"radius rose at pick ${b._2}")
    }
  }

  test("feature_target_encode: encoding is the leave-one-out smoothed " +
      "mean — verified against a direct per-row computation") {
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1e6)).cast("long").as("v6")).collect()
    val byType = ev.groupBy(_.getString(1))
      .map { case (t, rs) => t -> (rs.map(_.getLong(2)).sum, rs.length.toLong) }
    val s = ev.map(_.getLong(2)).sum
    val n = ev.length.toLong
    val got = Features.featureTargetEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    ev.filter(_.getLong(0) < 2000L).foreach { r =>
      val (sg, ng) = byType(r.getString(1))
      val want = ((sg - r.getLong(2)) * n + 10L * s).toDouble /
        ((ng - 1 + 10) * n).toDouble / 1e6
      assert(got(r.getLong(0)) == want, s"event ${r.getLong(0)}")
    }
  }
}
