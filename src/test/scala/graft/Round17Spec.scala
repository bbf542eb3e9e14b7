package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.query.{Graph, Similarity}
import graft.query.ml.Significance
import graft.query.stats.Privacy

/** Round-17 guards: the r16 verdict's remaining `weak` item — ego
  * betweenness's UNCONDITIONAL broadcast hints — becomes the house
  * fingerprint-keyed edge-count gate (both branches proven identical
  * here at sf0.001 and by tools/GateCheck at x10), plus the ADVICE.md
  * closures (rich-club NaN guard, DECIMAL tie terms, Friedman's
  * driver-side counts folded into the plan).
  */
class Round17Spec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("graph_ego_betweenness: broadcast gate — hinted and gated plans " +
      "return identical rows, and the branches genuinely diverge") {
    val hinted = Graph.graphEgoBetweenness(spark, sf,
      broadcastMaxEdges = Long.MaxValue)
    val hintedPlan = hinted.queryExecution.sparkPlan.toString
    assert(hintedPlan.contains("BroadcastHashJoin"),
      "below the gate the courier pipeline must carry broadcast hints")
    val hintedRows = canon(hinted)

    // past the gate the hints come off; kill auto-broadcast too so the
    // tiny sf0.001 stats cannot sneak the broadcast strategy back in —
    // this is the genuine hash-partitioned branch a billion-edge corpus
    // would plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val gatedRows = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gated = Graph.graphEgoBetweenness(spark, sf,
        broadcastMaxEdges = 0L)
      val gatedPlan = gated.queryExecution.sparkPlan.toString
      assert(gatedPlan.contains("SortMergeJoin"),
        s"gate=0 must fall back to exchange-based joins:\n$gatedPlan")
      canon(gated)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(hintedRows == gatedRows,
      s"gate branches diverged: hinted=${hintedRows.length} rows, " +
        s"gated=${gatedRows.length} rows")
    assert(hintedRows.nonEmpty)
  }

  test("graph_ego_betweenness: the gate consults the cached edge count " +
      "— a second call plans without a fresh count job") {
    Graph.graphEgoBetweenness(spark, sf).collect()
    var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // planning only — no action: the gate decision itself must not
      // launch work once the (dir, fingerprint) count is cached
      Graph.graphEgoBetweenness(spark, sf).queryExecution.sparkPlan
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs == 0, s"gate planning launched $jobs jobs on a warm cache")
  }

  test("graph_rich_club: phi is NULL (never NaN) when a cut leaves " +
      "fewer than 2 club vertices") {
    // highest-degree vertex count at an absurd cut: empty club → no row
    // (count-of-empty-group), single-vertex club → NULL phi. Force the
    // single-vertex case synthetically through the public default cuts
    // by checking the invariant on real rows instead: no NaN anywhere.
    val rows = Graph.graphRichClub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      if (r.getLong(1) < 2) assert(r.isNullAt(3), s"phi must be NULL at n_k<2: $r")
      else assert(!r.getFloat(3).isNaN, s"NaN phi: $r")
    }
  }

  test("eval_friedman_kendall_w: n/k ride the plan — ONE action, no " +
      "driver-side count() round trips") {
    // AQE splits one action into a job per materialized stage, which
    // drowns the signal; with AQE off, one collect = the final job plus
    // one job per broadcast-exchange build — the r16 form added TWO
    // whole driver count() ACTIONS (with their own stage DAGs) on top
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val (jobs, row) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Significance.evalFriedmanKendallW(spark, sf).collect() // warm
      var j = 0
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          synchronized { j += 1 }
      }
      spark.sparkContext.addSparkListener(l)
      val r = try {
        val rr = Significance.evalFriedmanKendallW(spark, sf).collect()
        Thread.sleep(500)
        rr
      } finally spark.sparkContext.removeSparkListener(l)
      (j, r)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // final job + one per broadcast-exchange build (type panel, counts
    // side, nk panel, tie term, …) — measured 6; the r16 driver-count
    // form would add 2 more complete actions on top of whatever the
    // broadcast builds cost, so the pin catches a reintroduction
    assert(jobs <= 6, s"friedman spent $jobs jobs on one call")
    assert(row.length == 1 && row(0).getLong(0) > 0 && row(0).getLong(1) > 0)
  }

  test("tie-term DECIMAL discipline: Mann–Whitney and Wilcoxon emit " +
      "finite statistics with the DECIMAL(38,0) tie moments") {
    val mw = Significance.evalMannWhitneyU(spark, sf).collect().head
    assert(!mw.getDouble(4).isNaN && !mw.getDouble(4).isInfinite)
    val wx = Significance.evalWilcoxonSignedRank(spark, sf).collect().head
    assert(!wx.getDouble(2).isNaN && !wx.getDouble(2).isInfinite)
  }

  /** The cross-engine 60-bit md5 draw, reimplemented from scratch for
    * the hand-checks below (NOT calling the engine's hash60). */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("eval_bootstrap_bca: the full BCa epilogue matches a " +
      "from-scratch reimplementation over the collected replicas") {
    val mc = Significance.evalMcnemar(spark, sf).collect().head
    val n = mc.getAs[Long]("n")
    val cp = mc.getAs[Long]("n_a_only"); val cm = mc.getAs[Long]("n_b_only")
    val d = cp - cm
    val boot = Significance.evalPairedBootstrap(spark, sf).collect()
    assert(boot.length == 50)
    // below-count: the same integer cross-multiplied compare
    val cnt = boot.count(r =>
      (r.getAs[Long]("sum_a") - r.getAs[Long]("sum_b")) * n
        < d * r.getAs[Long]("n_eff")).toLong
    // closed-form jackknife in BigInt (independent of Spark DECIMAL)
    val c0 = n - cm - cp
    val sp = BigInt(n + d); val sm = BigInt(n - d); val dd = BigInt(d)
    val i2 = BigInt(cm) * sp * sp + BigInt(c0) * dd * dd +
      BigInt(cp) * sm * sm
    val i3 = -(BigInt(cm) * sp * sp * sp) - BigInt(c0) * dd * dd * dd +
      BigInt(cp) * sm * sm * sm
    val accel = if (i2 == BigInt(0)) 0.0
      else i3.toDouble / (6.0 * i2.toDouble * math.sqrt(i2.toDouble))
    val grid = Significance.invNormGrid(50)
    val z0 = grid((math.min(math.max(cnt, 1L), 49L) - 1).toInt)
    def w(zq: Double): Double =
      z0 + (z0 + zq) / (1.0 - accel * (z0 + zq))
    val wLo = w(Significance.invNormCdf(0.025))
    val wHi = w(Significance.invNormCdf(0.975))
    def idx(wv: Double): Int = 1 + grid.count(_ < wv)
    val deltas = boot
      .map(r => (r.getAs[Float]("delta"), r.getAs[Int]("replica")))
      .sortBy(identity)
    val row = Significance.evalBootstrapBca(spark, sf).collect() match {
      case Array(one) => one
      case other => fail(s"expected 1 row, got ${other.length}")
    }
    assert(row.getAs[Long]("n_items") == n)
    assert(row.getAs[Long]("d_total") == d)
    assert(row.getAs[Long]("cnt_below") == cnt)
    assert(row.getAs[Float]("theta_hat") == (d.toDouble / n.toDouble).toFloat)
    assert(row.getAs[Float]("z0") == z0.toFloat)
    assert(row.getAs[Float]("accel") == accel.toFloat)
    assert(row.getAs[Int]("idx_lo") == idx(wLo))
    assert(row.getAs[Int]("idx_hi") == idx(wHi))
    assert(row.getAs[Float]("ci_lo") == deltas(idx(wLo) - 1)._1)
    assert(row.getAs[Float]("ci_hi") == deltas(idx(wHi) - 1)._1)
    // the interval is ordered and brackets the plug-in estimate's
    // bootstrap neighborhood (sanity, not exactness)
    assert(row.getAs[Float]("ci_lo") <= row.getAs[Float]("ci_hi"))
  }

  test("graph_sssp_weighted: matches a from-scratch 4-round " +
      "Bellman-Ford over the collected weighted graph") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val ewRows = li.as("a").join(li.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w")).collect()
    val adj = scala.collection.mutable.Map[Long, List[(Long, Long)]]()
      .withDefaultValue(Nil)
    ewRows.foreach { r =>
      val u = r.getLong(0); val v = r.getLong(1)
      val len = 1L + 1000L / r.getLong(2)
      adj(u) = (v, len) :: adj(u); adj(v) = (u, len) :: adj(v)
    }
    val srcs = adj.keys.toSeq.sortBy(u => (h60(u.toString), u)).take(4)
    var cur: Map[(Long, Long), Long] =
      srcs.map(s => (s, s) -> 0L).toMap
    for (_ <- 1 to 4) { // FULL relaxation (no frontier pruning): the
      // spec proves the engine's pruned rounds equal the textbook prefix
      val next = scala.collection.mutable.Map[(Long, Long), Long]() ++ cur
      cur.foreach { case ((s, u), du) =>
        adj(u).foreach { case (v, l) =>
          val k = (s, v); val nd = du + l
          if (!next.contains(k) || nd < next(k)) next(k) = nd
        }
      }
      cur = next.toMap
    }
    val got = Graph.graphSsspWeighted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == cur, s"engine=${got.size} rows, reference=${cur.size}")
    srcs.foreach(s => assert(got((s, s)) == 0L))
  }

  test("graph_sssp_weighted: per-round job cost is bounded — total " +
      "jobs linear in rounds, constant per extra round") {
    def jobsFor(rounds: Int): Int = {
      Graph.graphSsspWeighted(spark, sf, rounds = rounds).collect() // warm
      var j = 0
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          synchronized { j += 1 }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        Graph.graphSsspWeighted(spark, sf, rounds = rounds).collect()
        Thread.sleep(500)
      } finally spark.sparkContext.removeSparkListener(l)
      j
    }
    val j2 = jobsFor(2); val j4 = jobsFor(4)
    // each round materializes the improvement frontier and the distance
    // table (2 localCheckpoint actions) plus AQE's per-stage jobs; the
    // pin fails if a round ever starts re-evaluating earlier rounds'
    // subtrees (the exponential-lineage failure the eager checkpoints
    // exist to prevent)
    // one superstep barrier per round (the merged min-combine) plus
    // AQE's per-stage jobs; the pin allows modest jitter but fails on
    // any super-linear re-evaluation (the exponential-lineage failure
    // the eager checkpoint exists to prevent)
    assert(j4 - j2 <= 22, s"2 extra rounds cost ${j4 - j2} jobs (j2=$j2, j4=$j4)")
    assert(j4 <= 50, s"4-round SSSP spent $j4 jobs")
  }

  test("ann_ivf_delta_assign: incremental delta assignment equals a " +
      "full re-assignment with the corpus-trained quantizer, occupancy " +
      "conserved") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val corpus = emb.filter(_._1 % 5 != 0); val delta = emb.filter(_._1 % 5 == 0)
    val seeds = corpus.sortBy { case (id, _) => (h60(id.toString), id) }
      .take(16).map(_._2).zipWithIndex
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cellOf(e: Array[Float]): Long = {
      var bestDp = Double.NegativeInfinity; var bestCell = -1
      seeds.foreach { case (se, c) =>
        val dp = dot(e, se)
        if (dp > bestDp || (dp == bestDp && c < bestCell)) {
          bestDp = dp; bestCell = c
        }
      }
      bestCell.toLong
    }
    // ONE pass over corpus ∪ delta with the standing quantizer — the
    // "rebuilt index" the incremental path must agree with
    val occC = corpus.groupBy(x => cellOf(x._2)).view.mapValues(_.size).toMap
    val occD = delta.groupBy(x => cellOf(x._2)).view.mapValues(_.size).toMap
    val out = Similarity.annIvfDeltaAssign(spark, sf).collect()
    assert(out.length == 16)
    out.foreach { r =>
      val cell = r.getLong(0)
      assert(r.getLong(1) == occC.getOrElse(cell, 0).toLong,
        s"cell $cell corpus occupancy")
      assert(r.getLong(2) == occD.getOrElse(cell, 0).toLong,
        s"cell $cell delta occupancy")
    }
    assert(out.map(_.getLong(1)).sum == corpus.length.toLong)
    assert(out.map(_.getLong(2)).sum == delta.length.toLong)
  }

  test("privacy_dp_clipped_mean: release columns are finite, the clip " +
      "binds the scaled sum, and the noisy count is floored at 1") {
    val rows = Privacy.privacyDpClippedMean(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nEx = r.getAs[Long]("n_exact")
      val s = r.getAs[Long]("clipped_sum_scaled")
      assert(s >= 0L && s <= nEx * 5000L,
        s"clip must bound the per-record contribution: $r")
      assert(r.getAs[Float]("dp_count") >= 1.0f)
      assert(!r.getAs[Float]("dp_mean").isNaN)
      assert(!r.getAs[Float]("dp_mean").isInfinite)
    }
  }
}
