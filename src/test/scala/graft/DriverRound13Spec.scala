package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.query.{Graph, Relational, Similarity, TextAnalysis}
import graft.query.ml.{Features, Ranking}
import graft.query.stats.{Sampling, TimeSeries}

/** Round-13 guards: the r12 bench defect was an ITERATIVE operator whose
  * rounds re-executed each other through unmaterialized lineage
  * (`sample_kcenter_coreset`, 179 s). These specs pin the fixed shapes
  * mechanically — job/stage counts measured with a SparkListener must
  * scale at most linearly in loop depth — plus the hot-key contract for
  * the O(k log k) Mann–Kendall rewrite and the skewed-source contract
  * for FFD packing.
  */
class DriverRound13Spec extends SparkSpec {

  /** Run `body` and return (jobs, stages) started/completed during it. */
  private def countWork(body: => Unit): (Int, Int) = {
    var jobs = 0; var stages = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1 }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are posted asynchronously — give the bus a
      // beat to drain before reading the counters
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs, stages)
  }

  test("sample_kcenter_coreset: per-round work is constant — jobs and " +
      "stages grow linearly in k, never multiplicatively") {
    // warm the norm index + JIT outside the measured window
    Sampling.sampleKcenterCoreset(spark, sf, k = 2).collect()
    val (j4, s4) = countWork(Sampling.sampleKcenterCoreset(spark, sf, k = 4).collect())
    val (j8, s8) = countWork(Sampling.sampleKcenterCoreset(spark, sf, k = 8).collect())
    // doubling k adds exactly the extra rounds' jobs: the lazy-lineage
    // recursion this pins against multiplied stages ~3^k (r12: 179 s)
    assert(j8 - j4 <= 8, s"jobs grew super-linearly: k=4→$j4, k=8→$j8")
    assert(s8 - s4 <= 12, s"stages grew super-linearly: k=4→$s4, k=8→$s8")
    // and each round is single-stage map-only: stages ≈ jobs
    assert(s8 <= j8 + 4, s"rounds stopped being single-stage: $j8 jobs, $s8 stages")
  }

  test("retrieval_mmr_topk: corpus work is independent of `select` — " +
      "the greedy unroll adds ZERO jobs per extra pick") {
    Similarity.retrievalMmrTopk(spark, sf, select = 2).collect()
    val (j2, _) = countWork(Similarity.retrievalMmrTopk(spark, sf, select = 2).collect())
    val (j5, _) = countWork(Similarity.retrievalMmrTopk(spark, sf, select = 5).collect())
    assert(j5 <= j2, s"extra picks spawned extra cluster jobs: select=2→$j2, select=5→$j5")
  }

  test("graph_reachability / graph_pagerank_deep: per-round materialization " +
      "holds — stage count stays linear in rounds") {
    graft.query.Graph.graphReachability(spark, sf).collect()
    val (_, s1) = countWork(graft.query.Graph.graphReachability(spark, sf).collect())
    // re-run is identical work (the BSP loop localCheckpoints per hop,
    // so the plan cannot compound across calls either)
    val (_, s2) = countWork(graft.query.Graph.graphReachability(spark, sf).collect())
    assert(s2 <= s1 + 4, s"repeat run grew: $s1 → $s2 stages")
  }

  test("ts_mann_kendall hot key: a 100k-event user completes in bounded " +
      "time with closed-form S, variance, and sampled Sen slope") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r13-mk-hot").toString
    val k = 100000
    // strictly increasing values (v6 = i) at 1 s spacing: S = C(k,2),
    // no ties, and EVERY pairwise slope is i/(i·10⁶) = 1e-6 — so the
    // sampled-regime median must be exactly 1e-6 no matter which pairs
    // the deterministic sampler draws
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    spark.range(k)
      .select(col("id").as("event_id"),
        expr(s"timestamp_millis(${base}L + id * 1000)").as("ts"),
        lit(7L).as("user_id"), lit("hot").as("event_type"),
        (col("id").cast("double") / lit(1e6)).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val t0 = System.nanoTime()
    val rows = TimeSeries.tsMannKendall(spark, dir).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60.0, s"hot key took $sec s — O(k²) regression?")
    assert(rows.length == 1)
    val r = rows.head
    val n = k.toLong
    assert(r.getLong(1) == n)
    assert(r.getLong(2) == n * (n - 1) / 2, "S must be C(k,2) for a " +
      "strictly increasing series")
    assert(r.getLong(3) == n * (n - 1) * (2 * n + 5), "no ties → full variance")
    assert(r.getDouble(5) == 1e-6, s"sampled Sen median: ${r.getDouble(5)}")
    assert(r.getDouble(4) > 0.0, "z must be positive for a rising trend")
  }

  test("ts_mann_kendall: exact and sampled Sen regimes agree on a " +
      "constant-slope user straddling the threshold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r13-mk-reg").toString
    val k = 64
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    spark.range(k)
      .select(col("id").as("event_id"),
        expr(s"timestamp_millis(${base}L + id * 1000)").as("ts"),
        lit(3L).as("user_id"), lit("x").as("event_type"),
        (col("id").cast("double") / lit(1e6)).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val exact = TimeSeries.tsMannKendall(spark, dir).collect().head
    val sampled = TimeSeries.tsMannKendall(spark, dir, exactSenMax = 8)
      .collect().head
    assert(exact.getLong(2) == sampled.getLong(2), "S is regime-independent")
    assert(exact.getDouble(5) == sampled.getDouble(5),
      "constant-slope series: both regimes must return the exact slope")
  }

  test("ann_hnsw_layers: geometric level assignment replays the 60-bit " +
      "md5 hash; ranks dense, cosines non-increasing, members level-valid") {
    def level(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h % 4096 == 0) 3 else if (h % 256 == 0) 2
      else if (h % 16 == 0) 1 else 0
    }
    val rows = Similarity.annHnswLayers(spark, sf).collect()
    assert(rows.nonEmpty, "no upper-layer members — corpus too small?")
    val ids = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val expected = ids.filter(level(_) >= 1)
    val srcByLayer = rows.groupBy(_.getInt(0))
    srcByLayer.foreach { case (layer, rs) =>
      // every member of the layer (by the replayed hash) appears as a
      // src, and every src/dst genuinely belongs there
      val layerIds = ids.filter(level(_) >= layer)
      assert(rs.map(_.getLong(1)).toSet == layerIds,
        s"layer $layer src set mismatch")
      rs.foreach(r => assert(level(r.getLong(3)) >= layer,
        s"dst ${r.getLong(3)} below layer $layer"))
      rs.groupBy(_.getLong(1)).foreach { case (src, es) =>
        val ranked = es.sortBy(_.getInt(2))
        assert(ranked.map(_.getInt(2)).toSeq == (1 to es.length),
          s"layer $layer src $src ranks not dense")
        ranked.sliding(2).foreach {
          case Array(x, y) =>
            assert(y.getDouble(4) <= x.getDouble(4),
              s"layer $layer src $src cosine rose")
          case _ => ()
        }
        assert(es.length <= 4, "more than m edges")
      }
    }
    assert(srcByLayer.keySet.forall(l => l >= 1 && l <= 3))
    assert(expected.nonEmpty && srcByLayer(1).nonEmpty)
  }

  test("dedup_exact_substring: planted twins collide on shared 8-token " +
      "windows; every span class has >= 2 distinct docs and sane stats") {
    val rows = graft.query.Dedup.dedupExactSubstring(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2, "n_docs < 2 leaked through the filter")
      assert(r.getLong(2) >= r.getLong(1), "n_occ < n_docs")
      assert(r.getLong(3) <= r.getLong(4), "min_doc > max_doc")
    }
    // each planted twin (doc_id + 1000000, prefix-edited copy) shares
    // every interior window with its original → at least one span class
    // must bridge an original (< 10) and its twin
    val bridges = rows.filter(r =>
      r.getLong(3) < 10 && r.getLong(4) == r.getLong(3) + 1000000L)
    assert(bridges.nonEmpty, "no original↔twin span class found")
  }

  test("retrieval_rerank_crossenc: ranks and scores equal a driver-side " +
      "replay of the pool features and the fixed-order blend") {
    val got = Similarity.retrievalRerankCrossenc(spark, sf).collect()
    assert(got.length == 10)
    val pool = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val toks = graft.schema.Schemas.table(spark, sf, "documents")
      .filter(col("doc_id") === 0L || col("doc_id").isin(
        pool.keys.toSeq.map(Long.box): _*))
      .select(col("doc_id"), graft.query.TokenHash.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val q = toks(0L); val qset = q.toSet
    val want = pool.toSeq.map { case (id, cos) =>
      val d = toks(id); val dset = d.toSet
      val ni = dset.intersect(qset).size
      val jac = ni.toDouble / (dset.size + qset.size - ni).toDouble
      val lr = math.min(d.size, q.size).toDouble /
        math.max(d.size, q.size).toDouble
      (id, 0.6 * cos + 0.3 * jac + 0.1 * lr)
    }.sortBy { case (id, sc) => (-sc, id) }
    got.sortBy(_.getInt(0)).zip(want).zipWithIndex.foreach {
      case ((r, (id, sc)), i) =>
        assert(r.getInt(0) == i + 1)
        assert(r.getLong(1) == id, s"rank ${i + 1} doc")
        assert(r.getDouble(5) == sc, s"rank ${i + 1} score")
    }
  }

  private def md5hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("ann_ivf_pq_topk: every hit sits in a probed cell; adc distances " +
      "equal a driver-side replay of int8-quantize → codes → query LUT") {
    val got = graft.query.Similarity.annIvfPqTopk(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 10)
    // probed cells must equal the det-IVF probe set the composite claims
    val probes = graft.query.Similarity
      .ivfDetTopK(spark, sf, k = Int.MaxValue / 2)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    got.foreach(r => assert(probes.contains(r.getLong(1)),
      s"hit ${r.getLong(0)} in unprobed cell ${r.getLong(1)}"))
    // ascending (dist, id) order
    got.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) < b.getLong(2) ||
        (a.getLong(2) == b.getLong(2) && a.getLong(0) < b.getLong(0)))
      case _ => ()
    }
    // replay the ADC arithmetic for the returned ids + the query
    val need = got.map(_.getLong(0)).toSet + 0L
    val vecs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .filter(col("vec_id").isin(need.toSeq.map(Long.box): _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def int8(v: Array[Float]): Array[Int] = {
      val amax = v.map(x => math.abs(x.toDouble)).max
      v.map(x => math.round(x.toDouble * (127.0 / amax)).toInt)
    }
    val cb = (for (m <- 0 until 8; k <- 0 until 16; d <- 0 until 8)
      yield (m, k, d) -> ((md5hash60(s"pq:$m:$k:$d") % 256) - 128).toInt)
      .toMap
    def codes(qv: Array[Int]): Array[Int] = (0 until 8).map { m =>
      (0 until 16).minBy(k =>
        ((0 until 8).map(d => math.abs(qv(m * 8 + d) - cb((m, k, d))).toLong)
          .sum, k))
    }.toArray
    val q8 = int8(vecs(0L))
    val lut = (for (m <- 0 until 8; k <- 0 until 16) yield (m, k) ->
      (0 until 8).map(d => math.abs(q8(m * 8 + d) - cb((m, k, d))).toLong)
        .sum).toMap
    got.foreach { r =>
      val c = codes(int8(vecs(r.getLong(0))))
      val want = (0 until 8).map(m => lut((m, c(m)))).sum
      assert(r.getLong(2) == want, s"adc_dist for ${r.getLong(0)}")
    }
  }

  test("text_watermark_detect: green counts and z replay the bigram md5 " +
      "PRF; unwatermarked corpus z is centered near 0") {
    val got = TextAnalysis.textWatermarkDetect(spark, sf).collect()
    assert(got.nonEmpty)
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), graft.query.TokenHash.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val byId = got.map(r => r.getLong(0) -> r).toMap
    docs.filter(_._2.length >= 2).foreach { case (id, t) =>
      val bigrams = t.sliding(2).map(_.mkString(" ")).toSeq
      val g = bigrams.count(md5hash60(_) % 4 == 0)
      val n = bigrams.length
      val r = byId(id)
      assert(r.getLong(1) == n && r.getLong(2) == g, s"doc $id counts")
      assert(r.getDouble(3) == g.toDouble / n.toDouble, s"doc $id frac")
      val z = (g.toDouble - 0.25 * n.toDouble) / math.sqrt(n * 0.1875)
      assert(r.getDouble(4) == z, s"doc $id z")
    }
    // detector calibration: with no watermark the mean z over the corpus
    // must be near 0 (|mean| < 0.5 is ~10σ slack at 500 docs)
    val meanZ = got.map(_.getDouble(4)).sum / got.length
    assert(math.abs(meanZ) < 0.5, s"unwatermarked mean z = $meanZ")
  }

  test("eval_pass_at_k: estimator replays per problem; boundary cases " +
      "(n < k → NULL, failures < k → exactly 1.0) hold") {
    val got = Ranking.evalPassAtK(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val byUser = ev.groupBy(_._1)
    got.foreach { r =>
      val u = r.getLong(0)
      val vs = byUser(u)
      val n = vs.length.toLong
      val c = vs.count(_._2 >= 50.0).toLong
      assert(r.getLong(1) == n && r.getLong(2) == c, s"user $u counts")
      assert(r.getDouble(3) == c.toDouble / n.toDouble, s"user $u pass1")
      if (n < 5) assert(r.isNullAt(4), s"user $u: pass5 must be NULL")
      else if (n - c < 5) assert(r.getDouble(4) == 1.0,
        s"user $u: < 5 failures must give exactly 1.0")
      else {
        val f = (n - c).toDouble
        val prod = (0 until 5).map(i =>
          (f - i) / (n.toDouble - i)).reduceLeft(_ * _)
        assert(r.getDouble(4) == 1.0 - prod, s"user $u pass5")
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      }
    }
  }

  test("emb_covariance_int: every upper-triangle entry equals a " +
      "driver-side exact-integer replay; diagonal is non-negative") {
    val got = Similarity.embCovarianceInt(spark, sf).collect()
    assert(got.length == 36) // 8·9/2
    val q6 = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).take(8).toArray
        .map(x => math.round(x.toDouble * 1000000.0)))
    got.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      assert(i <= j)
      val n = q6.length.toLong
      val sxy = q6.map(v => v(i - 1) * v(j - 1)).sum
      val sx = q6.map(_(i - 1)).sum; val sy = q6.map(_(j - 1)).sum
      assert(r.getLong(2) == n && r.getLong(3) == sxy &&
        r.getLong(4) == sx && r.getLong(5) == sy, s"($i,$j) moments")
      val cov = (n * sxy - sx * sy).toDouble / ((n * n).toDouble * 1e12)
      assert(r.getDouble(6) == cov, s"($i,$j) cov")
      if (i == j) assert(r.getDouble(6) >= 0.0, s"negative variance at $i")
    }
  }

  test("ts_ljung_box_terms: lag-1 rows reproduce ts_autocorr_lag1; " +
      "q_term replays n(n+2)·rho²/(n−k) from the emitted columns") {
    val got = TimeSeries.tsLjungBoxTerms(spark, sf).collect()
    assert(got.nonEmpty)
    val lag1 = TimeSeries.tsAutocorrLag1(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    got.filter(_.getInt(1) == 1).foreach { r =>
      val (n1, rho1) = lag1(r.getLong(0))
      assert(r.getLong(2) == n1 && r.getFloat(3) == rho1,
        s"user ${r.getLong(0)} lag-1 disagrees with ts_autocorr_lag1")
    }
    got.foreach { r =>
      val nser = (r.getLong(2) + r.getInt(1)).toDouble
      val rho = r.getFloat(3).toDouble
      val want = ((nser * (nser + 2.0)) * (rho * rho) /
        (nser - r.getInt(1).toDouble)).toFloat
      assert(r.getFloat(4) == want, s"user ${r.getLong(0)} lag ${r.getInt(1)}")
      assert(r.getFloat(4) >= 0.0f)
    }
    // every qualifying user carries all five lags (series are long
    // enough at this sf)
    got.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5), s"user $u lags")
    }
  }

  test("agg_ams_f2: counters replay the ±1 hash signs; the 16-counter " +
      "mean estimates F2 within the AMS variance envelope") {
    val got = Relational.aggAmsF2(spark, sf).collect()
    assert(got.length == 16)
    val fs = graft.schema.Schemas.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val f2 = fs.map(t => t._2 * t._2).sum
    got.foreach { r =>
      val c = r.getInt(0)
      val s = fs.map { case (u, f) =>
        if (md5hash60(s"$u:ams:$c") % 2 == 0) f else -f }.sum
      assert(r.getLong(1) == s, s"counter $c")
      assert(r.getLong(2) == s * s && r.getLong(3) == f2)
    }
    // mean of the 16 counters: Var[S²] = 2(F2² − F4) ⇒ sd(mean) ≤
    // F2·√(2/16); allow 4 sigma
    val est = got.map(_.getLong(2).toDouble).sum / 16.0
    assert(math.abs(est - f2.toDouble) < 4.0 * f2 * math.sqrt(2.0 / 16.0),
      s"est $est vs exact $f2")
  }

  test("ts_ohlc_hourly: open/close equal the time-ordered first/last " +
      "event values; high/low bound them; buckets partition the stream") {
    val got = TimeSeries.tsOhlcHourly(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(date_trunc("hour", col("ts")).as("h"), col("value"),
        unix_micros(col("ts")).as("us"), col("event_id")).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val byHour = ev.groupBy(_._1)
    assert(got.length == byHour.size)
    assert(got.map(_.getLong(1)).sum == ev.length)
    got.foreach { r =>
      val rows = byHour(r.getTimestamp(0)).sortBy(e => (e._3, e._4))
      assert(r.getLong(1) == rows.length)
      assert(r.getDouble(2) == rows.head._2, "open")
      assert(r.getDouble(5) == rows.last._2, "close")
      assert(r.getDouble(3) == rows.map(_._2).max, "high")
      assert(r.getDouble(4) == rows.map(_._2).min, "low")
      assert(r.getDouble(3) >= r.getDouble(2) && r.getDouble(3) >= r.getDouble(5))
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(4) <= r.getDouble(5))
    }
  }

  test("text_cdc_chunking: spans tile each doc exactly; boundaries replay " +
      "the 4-gram hash rule; a prefix-edited twin shares all chunks after " +
      "the first boundary (the content-defined property)") {
    val got = TextAnalysis.textCdcChunking(spark, sf).collect()
    assert(got.nonEmpty)
    val byDoc = got.groupBy(_.getLong(0))
    // spans tile: chunk k starts right after chunk k-1 ends; union = doc
    byDoc.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.head.getInt(2) == 1, s"doc $doc first span start")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getInt(2) == a.getInt(2) + a.getInt(3),
            s"doc $doc spans don't tile")
        case _ => ()
      }
      assert(sorted.map(_.getInt(1)).toSeq == sorted.indices)
    }
    // boundary rule replay on a sample doc
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), graft.query.TokenHash.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    docs.foreach { case (id, t) =>
      val ends = (1 to t.length).filter(i => i == t.length ||
        (i >= 4 && md5hash60(t.slice(i - 4, i).mkString(" ")) % 32 == 0))
      val rs = byDoc(id).sortBy(_.getInt(1))
      assert(rs.map(r => r.getInt(2) + r.getInt(3) - 1).toSeq == ends,
        s"doc $id boundaries")
      rs.foreach { r =>
        val want = md5hash60(
          t.slice(r.getInt(2) - 1, r.getInt(2) - 1 + r.getInt(3))
            .mkString(" "))
        assert(r.getLong(4) == want, s"doc $id chunk ${r.getInt(1)} hash")
      }
    }
    // CDC property: the planted twin (one-word prefix edit, doc_id +
    // 1000000) re-synchronizes — every original chunk hash after the
    // first boundary reappears in the twin
    (0L until 10L).foreach { orig =>
      val o = byDoc(orig).sortBy(_.getInt(1)).map(_.getLong(4))
      val tw = byDoc(orig + 1000000L).map(_.getLong(4)).toSet
      if (o.length > 1)
        assert(o.tail.forall(tw.contains),
          s"doc $orig: twin lost post-boundary chunks — CDC property broken")
    }
  }

  test("feature_mutual_info_terms: counts and terms replay exactly; the " +
      "summed MI is non-negative") {
    val got = Features.featureMutualInfoTerms(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("event_type"), floor(col("value") / lit(25.0)).cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val n = ev.length.toLong
    val joint = ev.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val mx = ev.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val my = ev.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    assert(got.length == joint.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      assert(r.getLong(2) == joint(key) && r.getLong(3) == mx(key._1) &&
        r.getLong(4) == my(key._2) && r.getLong(5) == n, s"$key counts")
      val want = ((joint(key).toDouble / n.toDouble) *
        math.log((joint(key) * n).toDouble /
          (mx(key._1) * my(key._2)).toDouble)).toFloat
      assert(r.getFloat(6) == want, s"$key term")
    }
    val mi = got.map(_.getFloat(6).toDouble).sum
    assert(mi >= -1e-9, s"MI must be non-negative, got $mi")
  }

  test("dq_dp_laplace_counts: the noise replays the inverse-CDF Laplace " +
      "draw from the category hash; noisy counts are exact + noise") {
    val got = graft.query.stats.Quality.dqDpLaplaceCounts(spark, sf).collect()
    assert(got.nonEmpty)
    val counts = graft.schema.Schemas.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(1) == counts(t))
      val u = md5hash60(s"$t:dp").toDouble / 1152921504606846976.0
      assert(r.getDouble(2) == u, s"$t u")
      val c = u - 0.5
      val noise = (-2.0 * math.signum(c) * math.log(1.0 - 2.0 * math.abs(c)))
        .toFloat
      assert(r.getFloat(3) == noise, s"$t noise")
      assert(r.getFloat(4) ==
        (counts(t).toDouble + noise.toDouble).toFloat, s"$t noisy")
      // Laplace(b=2) at sensitivity 1: |noise| is finite and unbiased
      // in expectation; sanity-bound a single draw at 10·b
      assert(math.abs(noise) < 20.0, s"$t implausible noise $noise")
    }
  }

  test("sample_neyman_allocation: allocations sum to the budget exactly, " +
      "replay N_h·sigma_h shares with largest-remainder rounding") {
    val got = graft.query.stats.Sampling.sampleNeymanAllocation(spark, sf)
      .collect()
    assert(got.nonEmpty)
    assert(got.map(_.getLong(4)).sum == 1000L, "allocations must sum to budget")
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("event_type"),
        round(col("value") * lit(1e3)).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val strata = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, vs) =>
      val n = vs.length.toLong
      val s1 = vs.map(_._2).sum
      val s2 = vs.map(v => v._2 * v._2).sum
      (t, n, math.sqrt((n * s2 - s1 * s1).toDouble) / n.toDouble / 1e3)
    }
    val tmass = strata.map { case (_, n, sd) => n.toDouble * sd }
      .foldLeft(0.0)(_ + _)
    val ideal = strata.map { case (t, n, sd) =>
      (t, 1000.0 * ((n.toDouble * sd) / tmass)) }
    val floors = ideal.map { case (t, i) => (t, i, math.floor(i).toLong) }
    val lo = 1000L - floors.map(_._3).sum
    val bump = floors.sortBy { case (t, i, f) => (-(i - f), t) }
      .take(lo.toInt).map(_._1).toSet
    val want = floors.map { case (t, i, f) =>
      t -> (f + (if (bump(t)) 1L else 0L)) }.toMap
    got.foreach { r =>
      assert(r.getLong(4) == want(r.getString(0)),
        s"${r.getString(0)} allocation")
      assert(r.getFloat(3) == ideal.toMap.apply(r.getString(0)).toFloat)
    }
  }

  test("graph_adamic_adar: pairs and counts agree with " +
      "graph_common_neighbors; scores replay sum(1/ln(deg(center)))") {
    val aa = Graph.graphAdamicAdar(spark, sf).collect()
    val cnRows = Graph.graphCommonNeighbors(spark, sf).collect()
    assert(aa.nonEmpty)
    // same ranking contract (cn desc, u, v) over the same wedge cohort
    // ⇒ identical pair lists
    assert(aa.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      cnRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // replay the degree-weighted score from the raw graph
    val li = graft.schema.Schemas.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val adj = edges.foldLeft(Map.empty[Long, Set[Long]]) {
      case (m, (u, v)) => m.updated(u, m.getOrElse(u, Set.empty) + v)
        .updated(v, m.getOrElse(v, Set.empty) + u)
    }
    aa.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(u % 16 == 0 && v % 16 == 0, "pair outside the wedge cohort")
      val common = adj(u) intersect adj(v)
      val want = common.toSeq
        .map(z => 1.0 / math.log(adj(z).size.toDouble)).sum.toFloat
      assert(math.abs(r.getFloat(3) - want) <= 2e-7f * math.abs(want),
        s"($u,$v): ${r.getFloat(3)} vs $want")
    }
  }

  test("ml_isotonic_calibration: fitted values are the isotonic minimax, " +
      "monotone non-decreasing, and match a driver-side PAV run") {
    val got = graft.query.ml.Calibration.mlIsotonicCalibration(spark, sf)
      .collect().sortBy(_.getInt(0))
    assert(got.nonEmpty)
    got.sliding(2).foreach {
      case Array(a, b) => assert(b.getDouble(4) >= a.getDouble(4),
        "isotonic fit must be non-decreasing")
      case _ => ()
    }
    // PAV with exact rational pools must equal the minimax closed form
    case class Pool(var sp: Long, var sn: Long)
    val pools = scala.collection.mutable.ArrayBuffer.empty[Pool]
    got.foreach { r =>
      pools += Pool(r.getLong(2), r.getLong(1))
      // merge while the last pool's mean < the previous pool's mean
      // (compare rationals by cross-multiplication — no doubles)
      while (pools.length >= 2 &&
          pools(pools.length - 1).sp * pools(pools.length - 2).sn <
          pools(pools.length - 2).sp * pools(pools.length - 1).sn) {
        val last = pools.remove(pools.length - 1)
        pools(pools.length - 1).sp += last.sp
        pools(pools.length - 1).sn += last.sn
      }
    }
    // expand pools back to per-bin fitted values by weight
    var bi = 0
    pools.foreach { p =>
      var w = p.sn
      while (w > 0) {
        val r = got(bi)
        assert(r.getDouble(4) == p.sp.toDouble / p.sn.toDouble,
          s"bin ${r.getInt(0)}: closed form != PAV")
        w -= r.getLong(1); bi += 1
      }
      assert(w == 0, "pool boundary must align with bin boundaries")
    }
    assert(bi == got.length)
  }

  test("ts_kalman_1d: every filtered value replays the recurrence " +
      "bit-exactly; the gain converges to the Riccati fixed point; " +
      "estimates stay inside the running observation envelope") {
    val got = TimeSeries.tsKalman1d(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter(col("user_id") < 50)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    // steady-state gain: p* = (−1+√17)/2 solves p = 4(p+1)/(p+5)
    val pStar = (-1.0 + math.sqrt(17.0)) / 2.0
    val kStar = (pStar + 1.0) / (pStar + 5.0)
    got.groupBy(_.getLong(0)).foreach { case (u, rows) =>
      val sorted = byUser(u).sortBy(e => (e._2, e._3))
      val out = rows.sortBy(_.getLong(2))
      assert(out.length == sorted.length)
      var x = 0.0; var p = 0.0
      var lo = Double.MaxValue; var hi = Double.MinValue
      sorted.zip(out).zipWithIndex.foreach { case (((_, _, id, z), r), i) =>
        assert(r.getLong(1) == id, s"user $u rn ${i + 1} event")
        val k =
          if (i == 0) { x = z; p = 1.0; 1.0 }
          else {
            val kk = (p + 1.0) / (p + 1.0 + 4.0)
            x = x + kk * (z - x)
            p = (1.0 - kk) * (p + 1.0)
            kk
          }
        assert(r.getDouble(4) == k, s"user $u rn ${i + 1} gain")
        assert(r.getDouble(5) == x, s"user $u rn ${i + 1} estimate")
        lo = math.min(lo, z); hi = math.max(hi, z)
        assert(x >= lo - 1e-12 && x <= hi + 1e-12,
          s"user $u: estimate left the observation envelope")
      }
      // gain hits the fixed point geometrically — by rn 20 it's there
      if (out.length > 20)
        assert(math.abs(out(20).getDouble(4) - kStar) < 1e-9,
          s"user $u gain ${out(20).getDouble(4)} vs k* $kStar")
    }
  }

  test("stream_kalman_filter: the streaming drain equals the batch " +
      "filter bit for bit, and a re-run is deterministic") {
    val batch = TimeSeries.tsKalman1d(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val stream = graft.streaming.StreamQueries.streamKalmanFilter(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq,
      "streaming Kalman must equal the batch recurrence exactly")
    val rerun = graft.streaming.StreamQueries.streamKalmanFilter(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rerun.toSeq == stream.toSeq, "re-drain must be deterministic")
  }

  test("stream_ohlc_candles: the streaming drain equals the batch candle " +
      "table row for row") {
    val batch = TimeSeries.tsOhlcHourly(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getFloat(6)))
    val stream = graft.streaming.StreamQueries.streamOhlcCandles(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getFloat(6)))
    assert(stream.nonEmpty && stream.toSeq == batch.toSeq)
  }

  test("window_bollinger_bands: flags replay the exact-integer band test " +
      "and agree with the double-arithmetic band; false until fill") {
    val got = Relational.windowBollingerBands(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter(col("user_id") < 50)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        round(col("value") * lit(1e3)).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1).map { case (u, rows) =>
      u -> rows.sortBy(e => (e._2, e._3))
    }
    val byId = got.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    byUser.foreach { case (u, rows) =>
      rows.zipWithIndex.foreach { case ((_, _, id, v3), i) =>
        val r = byId((u, id))
        val winRows = rows.slice(math.max(0, i - 19), i + 1).map(_._4)
        val n = winRows.length.toLong
        val s = winRows.sum; val q = winRows.map(x => x * x).sum
        assert(r.getLong(3) == n, s"user $u event $id n_win")
        assert(r.getDouble(4) ==
          s.toDouble / (n.toDouble * 1e3), s"user $u event $id mean")
        val dev = v3 * n - s
        val varT = n * q - s * s
        if (n < 20) {
          assert(!r.getBoolean(6) && !r.getBoolean(7),
            s"user $u event $id: flags before fill")
        } else {
          assert(r.getBoolean(6) == (dev > 0 && dev * dev > 4 * varT))
          assert(r.getBoolean(7) == (dev < 0 && dev * dev > 4 * varT))
          // the integer verdict equals the textbook double band test on
          // the quantized values (strict inequality, no boundary ties)
          val mean = s.toDouble / n.toDouble
          val sd = math.sqrt(varT.toDouble) / n.toDouble
          if (sd > 0) {
            assert(r.getBoolean(6) == (v3.toDouble - mean > 2.0 * sd)
              || math.abs(math.abs(v3.toDouble - mean) - 2.0 * sd) < 1e-6,
              s"user $u event $id upper-band disagreement")
          }
        }
      }
    }
  }

  test("window_hampel_filter: median/MAD replay the sorted-window picks; " +
      "outliers replaced by the median, inliers pass through untouched") {
    val got = Relational.windowHampelFilter(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter(col("user_id") < 50)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"), round(col("value") * lit(1e3)).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val byUser = ev.groupBy(_._1).map { case (u, rows) =>
      u -> rows.sortBy(e => (e._2, e._3)) }
    val byId = got.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    var flagged = 0
    byUser.foreach { case (u, rows) =>
      rows.zipWithIndex.foreach { case ((_, _, id, v, v3), i) =>
        val r = byId((u, id))
        val frame = rows.slice(math.max(0, i - 3),
          math.min(rows.length, i + 4)).map(_._5).sorted
        val med = frame(3)
        val mad = frame.map(x => math.abs(x - med)).sorted.apply(3)
        assert(r.getDouble(3) == med.toDouble / 1e3, s"($u,$id) median")
        assert(r.getDouble(4) == mad.toDouble / 1e3, s"($u,$id) mad")
        val out = frame.length >= 7 &&
          math.abs(v3 - med).toDouble > 3.0 * 1.4826 * mad.toDouble
        assert(r.getBoolean(5) == out, s"($u,$id) verdict")
        assert(r.getDouble(6) == (if (out) med.toDouble / 1e3 else v),
          s"($u,$id) cleaned")
        if (out) flagged += 1
      }
    }
    assert(flagged > 0, "despiker found nothing — corpus or rule broken")
  }

  test("ts_pacf_durbin_levinson: lag-1 PACF equals the lag-1 ACF and " +
      "every level replays the Durbin-Levinson recursion from the rho " +
      "values the ljung-box panel emits") {
    val got = TimeSeries.tsPacfDurbinLevinson(spark, sf).collect()
    assert(got.nonEmpty)
    val rho = TimeSeries.tsLjungBoxTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getFloat(3).toDouble)
      .toMap
    got.groupBy(_.getLong(0)).foreach { case (u, rows) =>
      val byLag = rows.map(r => r.getInt(1) -> r.getFloat(2)).toMap
      assert(byLag.keySet == (1 to 5).toSet, s"user $u lags")
      val r1 = rho((u, 1)); val r2 = rho((u, 2)); val r3 = rho((u, 3))
      val r4 = rho((u, 4)); val r5 = rho((u, 5))
      val p11 = r1
      val p22 = (r2 - p11 * r1) / (1.0 - p11 * r1)
      val p21 = p11 - p22 * p11
      val p33 = (r3 - (p21 * r2 + p22 * r1)) /
        (1.0 - (p21 * r1 + p22 * r2))
      val p31 = p21 - p33 * p22; val p32 = p22 - p33 * p21
      val p44 = (r4 - (p31 * r3 + p32 * r2 + p33 * r1)) /
        (1.0 - (p31 * r1 + p32 * r2 + p33 * r3))
      val p41 = p31 - p44 * p33; val p42 = p32 - p44 * p32
      val p43 = p33 - p44 * p31
      val p55 = (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1)) /
        (1.0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4))
      val want = Map(1 -> p11, 2 -> p22, 3 -> p33, 4 -> p44, 5 -> p55)
      want.foreach { case (k, v) =>
        assert(byLag(k) == v.toFloat, s"user $u pacf($k)") }
    }
  }

  test("agg_median_of_means: bucket means and the median replay; the " +
      "estimator sits near the plain mean on this benign corpus") {
    val got = Relational.aggMedianOfMeans(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    val ev = graft.schema.Schemas.events(spark, sf)
      .select(col("event_id"), round(col("value") * lit(1e3)).cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.getLong(0) == ev.length)
    assert(r.getLong(1) == 16)
    val byB = ev.groupBy { case (id, _) => md5hash60(s"$id:mom") % 16 }
    val means = byB.values.map { rows =>
      rows.map(_._2).sum.toDouble / (rows.length.toDouble * 1e3)
    }.toArray.sorted
    val mom = (means(7) + means(8)) / 2.0
    assert(r.getDouble(2) == mom, "median of means")
    val plain = ev.map(_._2).sum.toDouble / (ev.length.toDouble * 1e3)
    assert(r.getDouble(3) == plain, "plain mean")
    assert(math.abs(mom - plain) < 0.2 * math.abs(plain),
      "benign corpus: the two estimators should roughly agree")
  }

  // ---- physical-plan audits for the round-13 operators (PlanSpec
  // discipline: the 100 TB design rules as assertions) -----------------
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("plan: text_watermark_detect is map-only — no hash-partition " +
      "exchange anywhere (the green test runs inside the projection)") {
    val p = plan(TextAnalysis.textWatermarkDetect(spark, sf))
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("plan: dedup_exact_substring aggregates map-side before its one " +
      "hash exchange on the window hash") {
    val p = plan(graft.query.Dedup.dedupExactSubstring(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    val exchanges = p.linesIterator
      .filter(_.contains("hashpartitioning")).toList
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(_.contains("h#")),
      s"an exchange is keyed off the window hash:\n${exchanges.mkString("\n")}")
  }

  test("plan: emb_covariance_int combines map-side into 36 groups; " +
      "ann_ivf_pq_topk ends in TakeOrdered with broadcast LUT/probes") {
    val pc = plan(Similarity.embCovarianceInt(spark, sf))
    assert(pc.contains("partial_sum"), pc)
    val pq = plan(graft.query.Similarity.annIvfPqTopk(spark, sf))
    assert(pq.contains("TakeOrderedAndProject"), pq)
    assert(pq.contains("BroadcastHashJoin") ||
      pq.contains("BroadcastExchange"), pq)
  }

  test("pack_bin_ffd: a hot source (one group holding ~all docs) stays " +
      "bounded-by-group — completes, bins respect capacity, indices dense") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r13-ffd-skew").toString
    val n = 20000
    // one giant source + a 3-doc source; token counts cycle 1..9 words
    spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ", array((0 to 8).map(i =>
          when(col("id") % 9 >= i, lit(s"w$i"))): _*)).as("text"),
        lit("en").as("lang"),
        when(col("id") < n - 3, lit("giant")).otherwise(lit("tiny"))
          .as("source"),
        lit(10L).as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val out = TextAnalysis.packBinFfd(spark, dir, capacity = 64L).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60.0, s"skewed pack took $sec s")
    assert(out.length == n)
    out.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val loads = rows.groupBy(_.getLong(3)).map { case (bin, rs) =>
        bin -> rs.map(_.getLong(2)).sum
      }
      loads.foreach { case (bin, load) =>
        assert(load <= 64L, s"$src bin $bin overflows: $load") }
      val bins = loads.keys.toSeq.sorted
      assert(bins == (0L until bins.length), s"$src bins not dense: $bins")
    }
  }
}
