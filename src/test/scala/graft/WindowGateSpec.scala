package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** The unpartitioned-window gate (driver round 15) — the r14 verdict's
  * mechanization ask: `sample_pps_systematic` shipped a global
  * `sum().over(Window.orderBy(...))` over the raw fact table (Spark
  * moves the WHOLE input to one partition — the textbook 100 TB
  * scale-killer), and the only thing that caught it was a human plan
  * audit. This suite makes the rule a failing test, like BenchBudget
  * and the job-count pins:
  *
  * Every declared query's physical plan is scanned. An unpartitioned
  * `WindowExec` is legal only when BOTH hold:
  *
  *   1. STRUCTURAL: its input subtree contains a reducing operator —
  *      an aggregate (grain ≤ group keys), a TakeOrdered / limit
  *      (grain ≤ k), or a local relation — so the window can never see
  *      raw fact rows;
  *   2. DECLARED: the query appears in [[boundedGlobalWindows]] with a
  *      human-readable justification naming the bounded grain (bucket
  *      histogram / calendar grain / ≤k panel / fixed category set).
  *
  * A new query that reintroduces a global window fails (1) if it runs
  * over unreduced input, and fails (2) until its author writes down WHY
  * the window input is bounded — at which point the right fix is
  * usually [[graft.query.TwoLevel.prefix]] instead. Stale allowlist
  * entries (queries that no longer exhibit a global window) also fail,
  * so the list stays the exact current inventory. An entry justified as
  * "two-level" must run its global windows over TwoLevel's own bucket
  * histogram, so a hand-rolled copy of the algorithm fails too.
  */
class WindowGateSpec extends SparkSpec {

  /** Query → why its unpartitioned window input is bounded. The grain
    * named here is the WINDOW INPUT's, independent of corpus size. */
  private val boundedGlobalWindows: Map[String, String] = Map(
    "agg_gini_cents" -> "revenue-range bucket histogram (two-level rank)",
    "agg_histogram_quantiles" -> "fixed ≤ 32-bin equi-width histogram",
    "agg_pareto_concentration" ->
      "revenue-range bucket histogram (two-level rank/cumsum)",
    "ann_ivf_det_topk" -> "≤ nCells deterministic seed panel",
    "ann_ivf_delta_assign" -> "≤ nCells deterministic seed panel",
    "stream_ann_ivf_assign" ->
      "≤ nCells deterministic seed panel (shared ivfOccReport epilogue)",
    "ann_ivf_pq_topk" -> "≤ nCells seed / ≤ nProbe probe panels",
    "ann_recall_curve" -> "≤ nCells seed panel + ≤ nQueries query panel",
    "corpus_source_overlap" -> "≤ 16 distinct sources (mask cap)",
    "curriculum_phases" ->
      "token-length bucket histogram (two-level cumsum)",
    "dq_volume_anomaly" -> "daily grain (calendar-bounded)",
    "drift_ks_value" -> "≤ 1024 value-range buckets (two-level CDF)",
    "emb_cell_balance" -> "≤ nCells deterministic seed panel",
    "eval_auc_delong" ->
      "≤ 4097 score-range buckets (two-level placement)",
    "eval_auc_roc" -> "≤ 4097 score-range buckets (two-level rank-sum)",
    "eval_bradley_terry" -> "≤ k distinct event types",
    "eval_confusion" -> "≤ k distinct event types",
    "eval_decile_lift" -> "≤ 4097 score-range buckets (two-level rank)",
    "eval_cliffs_delta" ->
      "unit-width value buckets (metric-domain-bounded, two-level CDF)",
    "eval_ks_test" ->
      "unit-width value buckets (metric-domain-bounded, two-level CDF)",
    "eval_mann_whitney_u" ->
      "unit-width value buckets (metric-domain-bounded, two-level CDF)",
    "eval_wilcoxon_signed_rank" ->
      "distinct integer |Δcount| grain (activity-bounded, not corpus)",
    "eval_pr_auc" ->
      "≤ 4097 score-range buckets (two-level rank/cumsum)",
    "eval_topk_agreement" -> "two ≤ k TakeOrdered ranking panels",
    "pack_sequences" -> "doc-id bucket histogram (two-level cumsum)",
    "pareto_frontier" -> "≤ 64 quantity buckets (suffix min)",
    "privacy_dp_quantile" -> "≤ domain/step candidate-grid panel",
    "ts_hurst_exponent" ->
      "calendar-hour grain rank + 4-row block-size panel",
    "privacy_dp_topk" -> "≤ |event_type| category panel",
    "retrieval_rerank_crossenc" -> "≤ pool TakeOrdered candidate panel",
    "retrieval_rrf_hybrid" -> "two ≤ poolK retrieval pools",
    "s9_batch_assign" -> "order-key bucket histogram (two-level rank)",
    "sample_neyman_allocation" -> "≤ |event_type| strata",
    "sample_pps_systematic" ->
      "order-key bucket histogram (two-level cumsum)",
    "sql_abc_analysis" ->
      "revenue-range bucket histogram (two-level rank/cumsum)",
    "sql_cte_ranking" ->
      "n_orders bucket histogram (two-level rank, spelled in SQL)",
    "sql_customer_rfm" ->
      "three metric-range bucket histograms (two-level ntile)",
    "sql_monthly_cum_revenue" -> "month grain (calendar-bounded)",
    "sql_yearly_growth" -> "year grain (calendar-bounded)",
    "text_zipf_slope" -> "≤ topN TakeOrdered term panel",
    "ts_stl_decompose" -> "hourly grain (calendar-bounded)")

  /** The entries justified as two-level: their global windows must be
    * [[graft.query.TwoLevel]]'s histogram prefix. sql_cte_ranking spells
    * the algorithm in SQL, so it cannot name the helper's column. */
  private val twoLevel: Set[String] = boundedGlobalWindows.collect {
    case (name, why) if why.contains("two-level") => name
  }.toSet - "sql_cte_ranking"

  /** True when the subtree below an unpartitioned window provably
    * reduces grain before the window sees it — a STRUCTURAL heuristic;
    * the [[boundedGlobalWindows]] entry is the human-judged gate and
    * this check only catches the mechanical regressions.
    *
    * The walk follows grain-carrying paths only (r15 advice #2): a
    * broadcast BUILD side glued on by a join cannot by itself reduce
    * the probe side's grain (the pre-rewrite evalPrAuc shape — a 1-row
    * broadcast aggregate crossJoined onto raw fact rows — must NOT
    * satisfy this check), so build sides are not descended. An INNER
    * broadcast join whose output grain is bounded by its small build
    * side (a ≤k panel joined back to a fact table) is exactly the case
    * the heuristic cannot see — those queries carry their bound in the
    * allowlist justification instead. */
  private def reduced(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      reduced(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      })
    case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
      reduced(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      })
    case other => other.children.exists(reduced)
  }

  test("every unpartitioned WindowExec in every declared query runs over " +
      "reduced input and carries a bounded-grain justification") {
    val withGlobals = scala.collection.mutable.Set[String]()
    val failures = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.sparkPlan
        catch { case e: Throwable =>
          failures += s"$name: plan construction failed: ${e.getMessage}"
          null
        }
      if (plan != null) {
        val globals = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty) {
          withGlobals += name
          globals.filterNot(w => reduced(w.child)).foreach { w =>
            failures += (s"$name: unpartitioned WindowExec over UNREDUCED " +
              s"input (no aggregate/top-k/limit below it) — this moves the " +
              s"whole relation to one partition; use " +
              s"graft.query.TwoLevel.prefix. Window: " +
              w.windowExpression.mkString(", "))
          }
          if (!boundedGlobalWindows.contains(name))
            failures += (s"$name: has an unpartitioned WindowExec but no " +
              s"bounded-grain justification in WindowGateSpec." +
              s"boundedGlobalWindows — prove the window input is bounded " +
              s"(bucket histogram / calendar grain / ≤k panel) or rewrite " +
              s"two-level")
          if (twoLevel.contains(name))
            globals.filterNot(w => w.orderSpec.headOption.exists(
                _.child.references.exists(_.name == "__tl_bkt")))
              .foreach { w =>
                failures += (s"$name: justified as two-level, but its " +
                  s"global window does not order by TwoLevel's bucket " +
                  s"column __tl_bkt — a hand-rolled histogram prefix; use " +
                  s"graft.query.TwoLevel.prefix. Window: " +
                  w.windowExpression.mkString(", "))
              }
        }
      }
    }
    val stale = boundedGlobalWindows.keySet -- withGlobals
    assert(stale.isEmpty,
      s"stale allowlist entries (no global window in plan anymore): " +
        s"${stale.toSeq.sorted.mkString(", ")}")
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
