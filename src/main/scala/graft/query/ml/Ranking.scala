package graft.query
package ml

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The ML family's ranking metrics: pass@k, retrieval metrics, rank
  * correlation and top-k agreement. */
object Ranking {

  /** pass@k — the unbiased estimator every code/agent eval reports:
    * for a problem with n trials of which c succeeded,
    * pass@k = 1 − C(n−c,k)/C(n,k), computed in the numerically-stable
    * product form 1 − Π_{i<k}(n−c−i)/(n−i) (the form the published
    * estimator uses — never raw factorials). Problems here are users,
    * trials their events, success = value ≥ 50 — the stand-in mapping
    * for a (problem_id, trial, passed) eval table; the estimator
    * arithmetic is what this operator pins.
    *
    * Exactness: n and c are exact integers; each product term is one
    * double division and the k=5 product multiplies left-to-right in
    * fixed order, so both engines land identical bits. pass@1 reduces
    * to c/n. pass@5 is NULL where n < 5 (the estimator needs k ≤ n) and
    * exactly 1.0 where fewer than k trials failed (C(n−c,k) = 0).
    *
    * Scale shape: one map-side-combined (n, c) aggregate per problem,
    * then scalar arithmetic — no window, no second shuffle, no skew
    * (hot problems still aggregate to one row). */
  def evalPassAtK(spark: SparkSession, dir: String,
      threshold: Double = 50.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
    val counts = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") >= threshold, 1L).otherwise(0L)).as("c"))
    val nD = col("n").cast("double"); val cD = col("c").cast("double")
    val f = col("n") - col("c") // failures
    val fD = f.cast("double")
    val prod5 = (0 until 5).map(i =>
      (fD - lit(i.toDouble)) / (nD - lit(i.toDouble)))
      .reduceLeft(_ * _)
    counts.select(col("user_id"), col("n"), col("c"),
      (cD / nD).as("pass1"),
      when(col("n") < 5, lit(null).cast("double"))
        .when(f < 5, lit(1.0))
        .otherwise(lit(1.0) - prod5).as("pass5"))
      .orderBy(col("user_id"))
  }

  /** Truncated-RBO weights for [[evalTopkAgreement]]: w_d =
    * p^(d−1)(1−p) / (1 − p^k), p = 0.9, k = 10 — computed once and
    * inlined as the SAME double literals into the Spark plan and the
    * generated oracle (the Poisson-threshold discipline). */
  private[graft] val rboWeights: Array[Double] = {
    val p = 0.9; val k = 10
    val norm = 1.0 - math.pow(p, k)
    Array.tabulate(k)(d => math.pow(p, d) * (1.0 - p) / norm)
  }

  /** Top-k rank-biased agreement between two document rankers (by
    * n_chars and by distinct-token count, ties on doc_id) — the
    * truncated, renormalized RBO (Webber et al.): at each depth
    * d ≤ 10, the prefix overlap |A_d ∩ B_d| (an integer: docs whose
    * BOTH ranks are ≤ d), weighted p^(d−1)(1−p)/(1−p^k) — the
    * top-weighted "do my two rankers agree where it matters"
    * statistic that plain rank correlation (which weighs the tail
    * equally) cannot express. Emitted per depth with the weight and
    * contribution, so the RBO is the sum of the contribution column.
    *
    * Exactness: overlaps are integers off a cumulative histogram of
    * max(rank_a, rank_b); weights are shared literals; each
    * agreement/contribution is fixed scalar math per row.
    *
    * Scale shape: the truncated RBO only reads docs whose BOTH ranks
    * are ≤ k, so each ranker reduces to its exact top-k PANEL first
    * (TakeOrdered — a per-partition heap + driver merge of ≤ k rows,
    * never a global sort), ranks are assigned by a window over the
    * ≤ k-row panel, and the two panels inner-join on doc_id. No window
    * or join ever sees corpus grain. */
  def evalTopkAgreement(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("sa"),
        size(array_distinct(TokenHash.tokens(col("text"))))
          .cast("long").as("sb"))
    def panel(s: String, r: String): DataFrame = d
      .orderBy(col(s).desc, col("doc_id")).limit(k)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col(s).desc, col("doc_id"))).as(r))
    val both = panel("sa", "ra").join(panel("sb", "rb"), Seq("doc_id"))
      .select(greatest(col("ra"), col("rb")).as("m"))
    val overlaps = (1 to k).map(dd =>
      coalesce(sum(when(col("m") <= dd, 1L)), lit(0L)).as(s"o$dd"))
    val g = both.agg(overlaps.head, overlaps.tail: _*)
    val slots = (1 to k).map { dd =>
      val w = rboWeights(dd - 1)
      struct(lit(dd).as("depth"), col(s"o$dd").as("overlap"),
        (col(s"o$dd").cast("double") / lit(dd.toDouble)).cast("float")
          .as("agreement"),
        lit(w).cast("float").as("weight"),
        (lit(w) * (col(s"o$dd").cast("double") / lit(dd.toDouble)))
          .cast("float").as("contribution"))
    }
    g.select(explode(array(slots: _*)).as("s"))
      .select(col("s.depth").as("depth"), col("s.overlap").as("overlap"),
        col("s.agreement").as("agreement"), col("s.weight").as("weight"),
        col("s.contribution").as("contribution"))
      .orderBy(col("depth"))
  }

  /** Rank correlation between two per-document quality signals (token
    * count vs distinct-token count), per language: Spearman's ρ
    * (tie-aware, Pearson on average ranks) and Kendall's τ-b — the "do
    * my two scorers rank documents the same way" audit an eval or
    * data-curation pipeline runs before trusting a cheaper proxy
    * metric.
    *
    * Exactness: average ranks are kept DOUBLED (2·minrank + ties − 1,
    * an integer), every moment (n·Σxy − Σx·Σy etc.) is an exact Long,
    * and each ρ is one num/√(d1·d2) with fixed parenthesization —
    * bit-identical cross-engine. τ-b uses Knight's O(k log k) form:
    * sort by (x, y), discordant Q = strict merge-sort inversions of
    * the y sequence, and concordant P = n₀ − n₁ − n₂ + n_xy − Q from
    * the tie-pair counts; the oracle computes P and Q by the O(n²)
    * pair join instead, so a hash match PROVES the inversion identity.
    * Long moments bound: r2 ≤ 2k ⇒ Σ(r2x·r2y)·k ≤ 4k³, exact to
    * k ≈ 1.3e6 docs per language; beyond that the moments move to
    * DECIMAL(38,0) (the agg_decimal_exact discipline).
    *
    * Scale shape: per-doc signals come off the persisted TF index with
    * one map-side-combined aggregate; the per-lang pass is
    * flatMapSortedGroups (Spark sorts groups within partitions — no
    * driver arrays beyond one lang's panel, the
    * [[graft.query.stats.TimeSeries.tsMannKendall]] discipline, O(k log k) per
    * group). */
  def evalRankCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = TokenHash.tokenTf(spark, dir)
    val xy = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("x"), count(lit(1)).as("y"))
    val ds = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(xy, Seq("doc_id"))
      .select(col("lang"), col("x"), col("y"), col("doc_id"))
      .as[(String, Long, Long, Long)]
    val out = ds.groupByKey(_._1)
      .flatMapSortedGroups(col("x"), col("y"), col("doc_id")) {
        (lang, it) =>
          val rows = it.toArray // sorted by (x, y, doc_id)
          val k = rows.length
          val xs = Array.tabulate(k)(i => rows(i)._2)
          val ys = Array.tabulate(k)(i => rows(i)._3)
          // doubled average ranks from run boundaries (x is sorted)
          def doubledRanksSorted(v: Array[Long]): Array[Long] = {
            val r = new Array[Long](v.length)
            var i = 0
            while (i < v.length) {
              var j = i
              while (j + 1 < v.length && v(j + 1) == v(i)) j += 1
              val d = (i + 1).toLong + (j + 1).toLong // 2 * avg rank
              var t = i; while (t <= j) { r(t) = d; t += 1 }
              i = j + 1
            }
            r
          }
          val r2x = doubledRanksSorted(xs)
          val yIdx = ys.zipWithIndex.sortBy(_._1)
          val r2ySorted = doubledRanksSorted(yIdx.map(_._1))
          val r2y = new Array[Long](k)
          var i = 0
          while (i < k) { r2y(yIdx(i)._2) = r2ySorted(i); i += 1 }
          var sx = 0L; var sy = 0L; var sxx = 0L; var syy = 0L
          var sxy = 0L
          i = 0
          while (i < k) {
            sx += r2x(i); sy += r2y(i)
            sxx += r2x(i) * r2x(i); syy += r2y(i) * r2y(i)
            sxy += r2x(i) * r2y(i); i += 1
          }
          val num = k * sxy - sx * sy
          val d1 = k * sxx - sx * sx
          val d2 = k * syy - sy * sy
          val rho: Option[Float] =
            if (d1 > 0 && d2 > 0)
              Some((num.toDouble
                / math.sqrt(d1.toDouble * d2.toDouble)).toFloat)
            else None
          // Knight: Q = strict inversions of y in (x, y, id) order
          val q = RankMoments.countInversions(ys.clone())
          def tiePairs(v: Array[Long]): Long = {
            val c = scala.collection.mutable.LongMap.empty[Long]
            v.foreach(x => c(x) = c.getOrElse(x, 0L) + 1L)
            c.valuesIterator.map(t => t * (t - 1) / 2).sum
          }
          val n1 = tiePairs(xs) // xs sorted, but tiePairs is order-free
          val n2 = tiePairs(ys)
          var nxy = 0L
          i = 0
          while (i < k) {
            var j = i
            while (j + 1 < k && rows(j + 1)._2 == rows(i)._2 &&
              rows(j + 1)._3 == rows(i)._3) j += 1
            val t = (j - i + 1).toLong
            nxy += t * (t - 1) / 2
            i = j + 1
          }
          val n0 = k.toLong * (k - 1) / 2
          val p = n0 - n1 - n2 + nxy - q
          val taub: Option[Float] =
            if (n0 - n1 > 0 && n0 - n2 > 0)
              Some(((p - q).toDouble /
                math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble))
                .toFloat)
            else None
          Iterator((lang, k.toLong, num, d1, d2, rho,
            n0, n1, n2, nxy, p, q, taub))
      }
    out.toDF("lang", "n", "s_num", "s_d1", "s_d2", "spearman_rho",
        "n0", "n1", "n2", "nxy", "n_concordant", "n_discordant", "tau_b")
      .orderBy(col("lang"))
  }

  /** Retrieval evaluation: label-match precision@k and MRR of exact
    * cosine search over a fixed query panel (vec_id < `nQueries`) — the
    * recall/quality harness an embedding pipeline runs after each
    * index or model change.
    *
    * Scale shape: the query panel broadcasts (queries are always the
    * tiny side) and every corpus partition scores all queries in one
    * pass — the corpus is scanned ONCE for the whole panel, not once
    * per query. The per-query top-k is a (query-keyed) window over
    * scores, ranked on (cosine, vec_id) with the deterministic
    * [[graft.functions.FloatVecDot]] sequential fold both engines
    * replay bit-identically. The final averages are cast to float32
    * (20-addend sum-order tolerance). */
  def evalRetrievalMetrics(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    val emb = table(spark, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = emb.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        expr("float_dot(embedding, qe)").as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val perQuery = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("qid"))
      .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .as("hits"),
        min(when(col("label") === col("qlabel"), col("rn"))).as("first_hit"))
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        avg(col("hits").cast("double") / lit(k))
          .cast("float").as("precision_at_k"),
        avg(coalesce(lit(1.0) / col("first_hit"), lit(0.0)))
          .cast("float").as("mrr"))
  }
}
