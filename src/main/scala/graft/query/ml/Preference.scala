package graft.query
package ml

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The ML family's preference and comparison queries: win-rate matrix,
  * Bradley–Terry, preference-pair margins and the Pareto frontier. */
object Preference {

  /** Pareto frontier (skyline) over per-part order statistics: parts for
    * which no other part has ≥ total quantity AND ≤ best unit price with
    * at least one strict — the classic "best tradeoff" operator relational
    * engines lack as a primitive.
    *
    * Scale shape: the naive skyline is an O(n²) self-join — fatal at
    * corpus scale. The engine runs the standard two-phase plan: (1) a
    * BUCKET PRE-FILTER — bucket the maximize-dimension (total_qty) into
    * `nBuckets` equi-width cells, take each cell's min of the
    * minimize-dimension, suffix-min those over strictly-higher cells
    * (a tiny nBuckets-row table), and prune every point dominated by the
    * suffix min: any point in a strictly higher bucket has strictly
    * greater qty, so `price ≥ suffix_min(bucket+1…)` proves domination.
    * No skyline point can be pruned, so phase (2) — the exact dominance
    * anti-join — runs only on the provably small survivor set (a
    * broadcast nested-loop on dozens of rows, not the corpus). One scan +
    * one map-side agg + one broadcast join at any scale. */
  def paretoFrontier(spark: SparkSession, dir: String,
      nBuckets: Int = 64): DataFrame = {
    val m = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("l_quantity")).as("total_qty"),
        min(col("l_extendedprice") / col("l_quantity")).as("min_unit_price"))
    val qmax = m.agg(max(col("total_qty")).as("qmax"))
    // equi-width bucket of the maximize dim; bucket ids 0..nBuckets
    val bucketed = m.crossJoin(broadcast(qmax))
      .withColumn("bucket",
        least(floor(col("total_qty") / col("qmax") * nBuckets),
          lit(nBuckets - 1)).cast("int"))
    // per-bucket min price, then suffix min over strictly higher buckets
    val bmins = bucketed.groupBy(col("bucket"))
      .agg(min(col("min_unit_price")).as("bmin"))
    import org.apache.spark.sql.expressions.Window
    val suffix = bmins.select(col("bucket").as("b"),
      min(col("bmin")).over(Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, -1)).as("suffix_min"))
    val survivors = bucketed
      .join(broadcast(suffix), col("bucket") === col("b"), "left")
      .filter(col("suffix_min").isNull ||
        col("min_unit_price") < col("suffix_min"))
      .select(col("p_partkey"), col("total_qty"), col("min_unit_price"))
    // exact dominance anti-join on the (small) survivor set; the q side is
    // a renamed projection so the self-join resolves unambiguously
    val q = survivors.select(col("total_qty").as("q_qty"),
      col("min_unit_price").as("q_price"))
    survivors.join(broadcast(q),
      col("q_qty") >= col("total_qty") &&
        col("q_price") <= col("min_unit_price") &&
        (col("q_qty") > col("total_qty") ||
          col("q_price") < col("min_unit_price")),
      "left_anti")
      .orderBy(col("p_partkey"))
  }

  /** Number of Bradley–Terry rating slots (event types beyond the
    * first `btSlots` alphabetically are excluded — the fixed arity is
    * what lets the MM iteration unroll into scalar column layers). */
  private[graft] val btSlots = 5

  /** Bradley–Terry pairwise-preference ratings — the arena-style
    * "which model wins head-to-head" statistic an LLM eval pipeline
    * fits over human/judge preference pairs. Competitors are event
    * types; match `m` is the event pair (2m, 2m+1), won by the larger
    * ×10³-scaled integer value (tie → the even event, deterministic).
    *
    * The MM fixpoint (Hunter 2004) p'ₐ = Wₐ / Σ_{b≠a} n_ab/(pₐ+p_b)
    * runs `iters` = 8 rounds UNROLLED into fixed-parenthesization
    * column layers over the single 20-cell win-matrix row — the
    * ts_pacf_durbin_levinson discipline: no recurrence to replay, both
    * engines evaluate the identical expression tree, so the float
    * ratings are bit-identical. Slots with no wins or no matches keep
    * their prior rating (guarded CASE, no 0/0).
    *
    * Scale shape: ONE map-side-combined groupBy on match_id (min_by /
    * max_by over the 2-row groups — never a self-join), the type→slot
    * panel broadcast twice, then a 20-cell aggregate into one row; the
    * iteration is scalar math on that row. At 100 TB the only wide
    * exchange is the match-grain shuffle, which any preference corpus
    * already stores pre-grouped. */
  /** The shared head-to-head match frame of [[evalBradleyTerry]] and
    * [[evalWinRateMatrix]]: match m = event pair (2m, 2m+1), one row
    * per complete different-type match with both sides' types and
    * ×10³-scaled integer values (min_by/max_by over the 2-row groups —
    * never a self-join). */
  private def matchFrame(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
      .withColumn("match_id", expr("event_id DIV 2"))
      .withColumn("side", (col("event_id") % 2).cast("int"))
      .groupBy(col("match_id"))
      .agg(min_by(col("event_type"), col("side")).as("ta"),
        min_by(col("v3"), col("side")).as("va"),
        max_by(col("event_type"), col("side")).as("tb"),
        max_by(col("v3"), col("side")).as("vb"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") === 2 && col("ta") =!= col("tb"))

  /** Pairwise win-rate matrix with Wilson 95% intervals — the
    * model-vs-model table an arena leaderboard publishes beside the
    * [[evalBradleyTerry]] ratings (the ratings summarize; this table
    * shows WHICH matchups carry the signal and how wide each cell's
    * uncertainty is at its own sample size). One row per unordered
    * model pair: a's wins, b's wins, a's win rate, and the Wilson
    * score bounds (the interval that stays inside [0,1] at small n,
    * unlike the normal approximation).
    *
    * Exactness: wins/games are BIGINTs off one map-side-combined
    * aggregate on the (a, b) pair key; rate and bounds are a
    * fixed-parenthesization double epilogue per row.
    *
    * Scale shape: the match-grain shuffle is shared with the BT
    * ratings; the pair-keyed aggregate has ≤ C(models, 2) groups. */
  def evalWinRateMatrix(spark: SparkSession, dir: String): DataFrame = {
    val m = matchFrame(spark, dir)
      .select(least(col("ta"), col("tb")).as("model_a"),
        greatest(col("ta"), col("tb")).as("model_b"),
        when(col("va") >= col("vb"), col("ta")).otherwise(col("tb"))
          .as("winner"))
    val g = m.groupBy(col("model_a"), col("model_b"))
      .agg(count(lit(1)).as("n_games"),
        sum(when(col("winner") === col("model_a"), 1L).otherwise(0L))
          .as("wins_a"))
    val n = col("n_games").cast("double")
    val p = col("wins_a").cast("double") / n
    val z2 = lit(1.96 * 1.96)
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(1.96) * sqrt(p * (lit(1.0) - p) / n
      + z2 / (lit(4.0) * n * n))
    val denom = lit(1.0) + z2 / n
    g.select(col("model_a"), col("model_b"), col("n_games"),
        col("wins_a"), (col("n_games") - col("wins_a")).as("wins_b"),
        p.cast("float").as("rate_a"),
        ((center - spread) / denom).cast("float").as("wilson_lo"),
        ((center + spread) / denom).cast("float").as("wilson_hi"))
      .orderBy(col("model_a"), col("model_b"))
  }

  def evalBradleyTerry(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    val k = btSlots
    val e = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
    val types = e.select(col("event_type")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("event_type"))) - 1)
          .cast("int"))
      .filter(col("idx") < k)
    val paired = matchFrame(spark, dir)
      .join(broadcast(types.select(col("event_type").as("ta"),
        col("idx").as("ia"))), Seq("ta"))
      .join(broadcast(types.select(col("event_type").as("tb"),
        col("idx").as("ib"))), Seq("tb"))
      .select(when(col("va") >= col("vb"), col("ia")).otherwise(col("ib"))
          .as("wi"),
        when(col("va") >= col("vb"), col("ib")).otherwise(col("ia"))
          .as("li"))
    val cells = (for (a <- 0 until k; b <- 0 until k if a != b)
      yield coalesce(sum(when(col("wi") === a && col("li") === b, 1L)),
        lit(0L)).as(s"w_${a}_$b")).toSeq
    // ONE aggregate row: the k·(k−1) win-matrix cells + the present-slot
    // count. The 8 minorization iterations then run DRIVER-SIDE on those
    // ~21 scalars (the textBpeEncode bounded-collect precedent): an
    // earlier form layered the iterations as 8 nested plan projections,
    // whose collapsed expression tree cost ~0.5 s of optimizer time per
    // run — for fixed-point math on ONE row. Every double op below
    // replays the plan form's exact evaluation order (left-assoc
    // reductions in ascending b), so the emitted ratings are
    // bit-identical to the in-plan formulation the oracle mirrors.
    val aggRow = paired.agg(cells.head, cells.tail: _*)
      .crossJoin(broadcast(types.agg(
        count(lit(1)).cast("int").as("n_types"))))
      .collect()(0)
    val w = Array.tabulate(k, k) { (a, b) =>
      if (a == b) 0L else aggRow.getAs[Long](s"w_${a}_$b")
    }
    val nTypes = aggRow.getAs[Int]("n_types")
    // absent slots (fewer than k event types) start at 0 and stay
    // there, so ratings normalize over the PRESENT models only
    var p = Array.tabulate(k)(a => if (a < nTypes) 1.0 else 0.0)
    (1 to iters).foreach { _ =>
      p = Array.tabulate(k) { a =>
        val wa = (0 until k).filter(_ != a).map(b => w(a)(b)).reduce(_ + _)
        val den = (0 until k).filter(_ != a).map { b =>
          // absent-slot pairs have p_a + p_b = 0: term is 0, not 0/0
          if (p(a) + p(b) > 0) (w(a)(b) + w(b)(a)).toDouble / (p(a) + p(b))
          else 0.0
        }.reduce(_ + _)
        if (wa > 0 && den > 0) wa.toDouble / den else p(a)
      }
    }
    val tot = (0 until k).map(p).reduce(_ + _)
    val slotRows = (0 until k).map { a =>
      val wins = (0 until k).filter(_ != a).map(b => w(a)(b)).reduce(_ + _)
      val losses = (0 until k).filter(_ != a).map(b => w(b)(a)).reduce(_ + _)
      (a, wins, losses, (p(a) / tot).toFloat)
    }
    import spark.implicits._
    slotRows.toDF("idx", "wins", "losses", "rating")
      .select(col("idx").cast("int").as("idx"), col("wins"),
        col("losses"), col("rating"))
      .join(broadcast(types), Seq("idx"))
      .select(col("event_type").as("model"), col("idx"), col("wins"),
        col("losses"), (col("wins") + col("losses")).as("n_matches"),
        col("rating"))
      .orderBy(col("model"))
  }

  /** CCNet-style perplexity buckets: split each language's documents
    * into head / middle / tail terciles of a language-model fluency
    * score, the classic web-corpus quality triage (head feeds
    * pretraining, tail gets dropped or heavily filtered). The score is
    * the corpus-familiarity proxy Σ tf·cnt(tok) / n_tokens — the
    * average corpus frequency of the doc's token occurrences, monotone
    * with unigram logprob but EXACT: both moments are BIGINTs off the
    * shared [[TokenHash.tokenTf]] index, and the score is ONE
    * correctly-rounded double division per doc, so the tercile
    * boundary compare is bit-identical cross-engine (ln-based logprob
    * would put an engine-dependent ulp under the rank).
    *
    * Scale shape: two map-side-combined aggregates over the persisted
    * TF index (vocab counts, per-doc moments); the Zipf-head vocab
    * join collapses per (doc, tok) FIRST — the unigram-LM discipline.
    * The ntile window partitions by lang (few, large groups); at
    * 100 TB the production form computes the two cutoff scores per
    * lang with a distributed selection over the score histogram and
    * broadcasts them into a map-only bucket assign — the rank and the
    * cutoff forms agree exactly because scores are deterministic
    * doubles with a doc_id tiebreak. */
  /** DPO/RLHF preference-pair construction: within each candidate
    * group (4 adjacent docs standing in for "responses to one
    * prompt"), pick the best- and worst-scoring candidates as the
    * (chosen, rejected) training pair and emit the score margin — the
    * data-prep step between quality scoring and preference-tuning.
    * Score is the integer n_chars column; tiebreaks are doc_id ASC for
    * chosen and doc_id DESC for rejected, so a group of equal scores
    * still yields two DISTINCT docs (margin 0), and every pick is
    * deterministic on any engine/partitioning. Single-doc groups drop.
    *
    * Scale shape: one map-side-combinable min_by/max_by aggregate on
    * the group key — no window, no sort, no self-join; at 100 TB this
    * is one well-distributed shuffle at the prompt grain. */
  def prefPairMargin(spark: SparkSession, dir: String,
      groupSize: Int = 4): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("score"),
        expr(s"doc_id DIV $groupSize").as("group_id"))
    d.groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_cands"),
        // chosen: max score, then SMALLEST doc_id (negate id for max_by)
        max_by(struct(col("score"), (-col("doc_id")).as("nid")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("ch"),
        // rejected: min score, then LARGEST doc_id
        min_by(struct(col("score"), (-col("doc_id")).as("nid")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("rj"))
      .filter(col("n_cands") >= 2)
      .select(col("group_id"), col("n_cands"),
        (-col("ch.nid")).as("chosen_doc"), col("ch.score").as("chosen_score"),
        (-col("rj.nid")).as("rejected_doc"),
        col("rj.score").as("rejected_score"),
        (col("ch.score") - col("rj.score")).as("margin"))
      .orderBy(col("group_id"))
  }
}
