package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.query.{Relational, Warehouse}
import graft.query.stats.{Sampling, TimeSeries}

/** Second-wave relational operators: semantic invariants plus the
  * plan-shape rules that matter at 100 TB (broadcasts, TakeOrdered
  * pagination, pushed-down deterministic sampling).
  */
class Relational2Spec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("agg_cube: 4 grouping sets; gid partitions row groups consistently") {
    val rows = Relational.aggCube(spark, sf).collect()
    val byGid = rows.groupBy(_.getInt(2))
    assert(byGid.keySet == Set(0, 1, 2, 3))
    // grand total appears exactly once, with both keys null
    val grand = byGid(3)
    assert(grand.length == 1 && grand.head.isNullAt(0) && grand.head.isNullAt(1))
    // per-gid row counts sum consistently: total rows = sum over gid 0
    val n0 = byGid(0).map(_.getLong(3)).sum
    assert(byGid(1).map(_.getLong(3)).sum == n0)
    assert(byGid(2).map(_.getLong(3)).sum == n0)
    assert(grand.head.getLong(3) == n0)
  }

  test("agg_min_max_by: argmax keyed by unique event_id matches window argmax") {
    val got = Relational.aggMinMaxBy(spark, sf)
      .select("event_type", "latest_user").as[(String, Long)].collect().toMap
    val expect = graft.schema.Schemas.events(spark, sf)
      .orderBy($"event_id".desc).select("event_type", "user_id")
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, v) => (k, v.head._2) }
    assert(got == expect)
  }

  test("window_ranking: rank/ntile invariants per partition") {
    val rows = Relational.windowRanking(spark, sf).collect()
    val byPrio = rows.groupBy(_.getString(1))
    byPrio.foreach { case (_, part) =>
      val rnks = part.map(_.getInt(2)).sorted
      assert(rnks.head == 1 && rnks.last == part.length) // unique tiebreak ⇒ rank is a permutation
      val tiles = part.map(_.getInt(4))
      assert(tiles.min == 1 && tiles.max == math.min(4, part.length))
    }
  }

  test("join_null_safe: NULL <=> NULL matches (the nulled-out region joins)") {
    val rows = Relational.joinNullSafe(spark, sf).collect()
    val nullRow = rows.filter(_.isNullAt(0))
    assert(nullRow.length == 1 && !nullRow.head.isNullAt(1),
      "null key must match the null-keyed region row, not drop")
    assert(rows.forall(!_.isNullAt(2)))
  }

  test("join_null_safe plan: bounded region side broadcasts") {
    assert(plan(Relational.joinNullSafe(spark, sf)).contains("BroadcastHashJoin"))
  }

  test("o3_limit_offset plan: TakeOrdered pagination, not a global sort") {
    val p = plan(Relational.o3LimitOffset(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sample_hash_det: deterministic, ~10%, and consistent across reruns") {
    val a = Sampling.sampleHashDet(spark, sf).select("o_orderkey")
      .as[Long].collect().toSeq
    val b = Sampling.sampleHashDet(spark, sf).select("o_orderkey")
      .as[Long].collect().toSeq
    assert(a == b)
    val total = graft.schema.Schemas.table(spark, sf, "orders").count()
    assert(a.length > total / 20 && a.length < total / 5, s"${a.length} of $total")
  }

  test("unpivot: one (metric,value) row per aggregate column per group") {
    val rows = Relational.unpivotMetrics(spark, sf).collect()
    val metrics = rows.map(_.getString(1)).distinct.sorted
    assert(metrics.toSeq == Seq("n_rows", "sum_disc", "sum_qty"))
    val groups = rows.map(_.getString(0)).distinct
    assert(rows.length == groups.length * 3)
  }

  test("agg_cube plan: one Expand + partial aggregation before the exchange") {
    val p = plan(Relational.aggCube(spark, sf))
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p) // map-side combine across grouping sets
  }

  test("ts_gapfill plan: grid side broadcasts; fact side aggregates pre-join") {
    val df = TimeSeries.tsGapfill(spark, sf)
    df.collect() // let AQE finalize
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") ||
      executed.contains("BroadcastNestedLoopJoin"), executed)
  }

  test("part_pruning plan: partition predicate prunes to one directory") {
    val df = Warehouse.partPruning(spark, sf)
    val p = plan(df)
    assert(p.contains("PartitionFilters") &&
      p.contains("event_type"), p.linesIterator.filter(_.contains("Partition"))
        .mkString("\n"))
    // partition column predicate must NOT appear as a data filter
    val scanned = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanned.contains("PartitionFilters"), scanned)
  }

  test("ts_gapfill: dense grid — every (hour, type) cell present, gaps zero-filled") {
    val rows = TimeSeries.tsGapfill(spark, sf).collect()
    val hours = rows.map(_.getTimestamp(0)).distinct
    val types = rows.map(_.getString(1)).distinct
    assert(rows.length == hours.length * types.length)
    val span = (hours.map(_.getTime).max - hours.map(_.getTime).min) / 3600000L + 1
    assert(hours.length == span, s"grid not dense: ${hours.length} vs $span")
    assert(rows.forall(!_.isNullAt(2)))
  }

  test("agg_approx_sketch: sketches land within tolerance of exact answers") {
    val rows = Relational.aggApproxSketch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // within-bound booleans (the oracle compares these against TRUE)
      assert(r.getBoolean(2), s"approx_users outside bound: $r")
      assert(r.getBoolean(4), s"approx_p50 outside bound: $r")
      assert(r.getLong(1) > 0 && !r.isNullAt(3))
    }
  }

  test("subq_correlated: scalar subquery equals groupBy-max; EXISTS equals semi-join") {
    val got = Relational.subqCorrelated(spark, sf)
    // Catalyst must rewrite to joins — no per-row execution operators
    val p = plan(got)
    assert(!p.toLowerCase.contains("subqueryexec") && !p.contains("ScalarSubquery"),
      "correlated subqueries should decorrelate to joins")
    val viaJoin = graft.schema.Schemas.table(spark, sf, "orders")
      .groupBy("o_custkey").count().count()
    assert(got.count() == viaJoin) // IN (SELECT o_custkey) keeps exactly customers with orders
  }
}
