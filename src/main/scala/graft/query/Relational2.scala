package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.{IndexCache, Storage}
import graft.schema.Schemas.table

/** Second wave of relational operator coverage beyond SURVEY §2 (the
  * engine-completeness surface): grouping sets beyond rollup, distinct
  * aggregates, argmin/argmax, ordered string aggregation, ranking and
  * explicit window frames, null-safe and cross joins, correlated
  * subqueries, CTE SQL, map/struct/nested-JSON scalar functions, unpivot,
  * deterministic hash sampling, conditional aggregates, and pagination.
  *
  * Every query here is DuckDB-oracle-backed (hash-exact). Cross-engine
  * exactness rules applied throughout: REAL casts on large double sums,
  * INT casts where DuckDB widens to BIGINT/HUGEINT, unique-key tiebreaks
  * under every ranking/argmax (events.value has heavy duplicates).
  */
object Relational2 {

  /** CUBE over (returnflag, linestatus) with grouping_id — all four
    * grouping-set combinations in one pass (partial aggregation per set;
    * one shuffle, same as a plain group-by at scale). */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("float").as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** Distinct aggregates: single- and multi-column COUNT(DISTINCT) next to
    * a plain count — Spark plans this as expand + two-phase aggregate;
    * distinct-by-key stays partial until the final merge. */
  def aggCountDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** argmin/argmax (min_by/max_by) per group, keyed by the UNIQUE event_id
    * so ties cannot make the pick nondeterministic (events.value has
    * thousands of duplicates — never argmax on it directly). */
  def aggMinMaxBy(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        max_by(col("user_id"), col("event_id")).as("latest_user"),
        min_by(col("user_id"), col("event_id")).as("first_user"),
        max_by(col("value"), col("event_id")).as("latest_value"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("event_type"))

  /** Ordered string aggregation: collect_set → array_sort → concat_ws is
    * the deterministic Spark spelling of string_agg(DISTINCT … ORDER BY).
    * The set stays bounded per group (distinct statuses), so the collect
    * is safe at scale — this is NOT a payload collect. */
  def aggStringConcat(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
          .as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"))
      .orderBy(col("l_returnflag"))

  /** Ranking window family: rank / dense_rank / ntile / percent_rank /
    * cume_dist over a per-priority ordering with a unique tiebreak
    * (o_orderkey) — deterministic under duplicate totals. */
  def windowRanking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("tile4"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy(col("o_orderkey"))
  }

  /** Explicit window frames: bounded ROWS frames (moving sum/avg),
    * first/last/nth value over running and full-partition frames. Framed
    * double sums are order-deterministic (sequential within the frame) but
    * engines may associate differently — REAL casts per the exactness
    * rules. */
  def windowFrames(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wTrail = w.rowsBetween(-2, Window.currentRow)
    val wLead = w.rowsBetween(Window.currentRow, 2)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        sum(col("value")).over(wTrail).cast("float").as("sum_3"),
        avg(col("value")).over(wLead).cast("float").as("avg_next3"),
        first(col("value")).over(wAll).as("first_value"),
        last(col("value")).over(wAll).as("last_value"),
        nth_value(col("value"), 2).over(wAll).as("second_value"))
      .orderBy(col("event_id"))
  }

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): aggregate both
    * sides to bounded cardinality first so NULL<=>NULL matching cannot blow
    * up row counts, then broadcast the smaller side. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val nations = table(spark, dir, "nation")
      .groupBy(nullif(col("n_regionkey"), lit(2)).as("k"))
      .agg(count(lit(1)).as("n_nations"))
    val regions = table(spark, dir, "region")
      .select(nullif(col("r_regionkey"), lit(2)).as("rk"), col("r_name"))
    nations.join(broadcast(regions), nations("k") <=> regions("rk"), "left")
      .select(col("k"), col("r_name"), col("n_nations"))
      .orderBy(col("k"), col("r_name"))
  }

  /** Cross join (small × small): every region paired with every distinct
    * order status. Both sides bounded ⇒ broadcast nested loop, no shuffle
    * of anything large. */
  def joinCrossSmall(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "region").select(col("r_name"))
      .crossJoin(
        table(spark, dir, "orders").select(col("o_orderstatus")).distinct())
      .orderBy(col("r_name"), col("o_orderstatus"))

  /** Correlated subqueries through the SQL entry point: scalar subquery
    * (per-customer max order), EXISTS, and IN — Catalyst rewrites all
    * three to joins (scalar → left outer aggregate join, EXISTS/IN →
    * semi joins); nothing is executed per-row. */
  def subqCorrelated(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT max(o_totalprice) FROM orders o
        |    WHERE o.o_custkey = c.c_custkey) AS max_total,
        |  EXISTS(SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderstatus = 'F') AS has_f
        |FROM customer c
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** CTE + window through the SQL entry point; ranking on exact integer
    * counts (never on a float aggregate — cross-engine ulp differences in
    * a double sum could reorder ranks). The ranking key (n_orders DESC,
    * o_custkey) is unique per row, so dense_rank ≡ row_number, and the
    * global rank is spelled TWO-LEVEL in SQL (customer grain is
    * unbounded): a per-n_orders-bucket count histogram prefix-sums into
    * rank offsets — the only unpartitioned window runs over the
    * histogram CTE — and the within-bucket row_number windows run in
    * parallel. */
  def sqlCteRanking(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(o_totalprice) AS FLOAT) AS total
        |  FROM orders GROUP BY o_custkey
        |), hist AS (
        |  SELECT n_orders DIV 4 AS bkt, count(*) AS bn
        |  FROM per_cust GROUP BY n_orders DIV 4
        |), offs AS (
        |  SELECT bkt, coalesce(sum(bn) OVER (ORDER BY bkt DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM hist
        |)
        |SELECT o_custkey, n_orders, total,
        |  CAST(off + row_number() OVER (PARTITION BY bkt
        |    ORDER BY n_orders DESC, o_custkey) AS INT) AS rnk
        |FROM (SELECT *, n_orders DIV 4 AS bkt FROM per_cust) p
        |JOIN offs USING (bkt)
        |ORDER BY o_custkey""".stripMargin)
  }

  /** Map and struct scalar functions, projected to scalars: literal-map
    * lookup (the relational spelling of a CASE dimension decode) and
    * nested struct field access. */
  def fMapStruct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(col("o_orderkey"),
        element_at(
          map(lit("F"), lit(1), lit("O"), lit(2), lit("P"), lit(3)),
          col("o_orderstatus")).as("status_code"),
        struct(col("o_orderkey").as("k"), col("o_orderpriority").as("p"))
          .getField("p").as("prio_via_struct"),
        map_keys(map(col("o_orderstatus"), col("o_orderkey")))
          .getItem(0).as("status_key"))
      .orderBy(col("o_orderkey"))

  /** Nested JSON round-trip: build a nested object with to_json, extract
    * scalars back with get_json_object / json_tuple paths. The oracle is
    * the identity projection — exactly what a correct round-trip must
    * yield. Doubles stay OUT of the JSON path (float-to-text formats
    * differ across engines); only ints and strings round-trip. */
  def fJsonNested(spark: SparkSession, dir: String): DataFrame = {
    val js = to_json(struct(
      col("o_orderkey").as("id"),
      struct(col("o_orderstatus").as("s"), col("o_orderpriority").as("p"))
        .as("info"),
      array(col("o_custkey")).as("ks")))
    table(spark, dir, "orders")
      .withColumn("js", js)
      .select(col("o_orderkey"),
        get_json_object(col("js"), "$.info.s").as("status_rt"),
        get_json_object(col("js"), "$.info.p").as("prio_rt"),
        get_json_object(col("js"), "$.ks[0]").cast("long").as("custkey_rt"),
        json_array_length(get_json_object(col("js"), "$.ks")).as("n_ks"))
      .orderBy(col("o_orderkey"))
  }

  /** Unpivot (wide → long): per-returnflag aggregate row melted into
    * (metric, value) pairs — Spark's melt/unpivot operator. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).cast("float").as("sum_qty"),
        sum(col("l_discount")).cast("float").as("sum_disc"),
        count(lit(1)).cast("float").as("n_rows"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_disc"), col("n_rows")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))

  /** Deterministic hash sampling: keep rows whose md5-derived hash60 of
    * the key ≡ 0 (mod 10) — a reproducible ~10% sample that any engine
    * (and any rerun) selects identically, unlike TABLESAMPLE. This is the
    * sampling primitive a 100 TB pipeline wants: push-down-able, stable
    * across retries, joins consistently (same keys sampled in every
    * table). */
  def sampleHashDet(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(Dedup.hash60(col("o_orderkey").cast("string")) % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Conditional aggregates: count_if, bool_and/bool_or, filtered sum. */
  def aggConditional(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count_if(col("value") > 50).as("n_gt50"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        bool_or(col("value") > 99).as("any_gt99"),
        sum(when(col("value") > 50, col("value")).otherwise(lit(0.0)))
          .cast("float").as("sum_gt50"))
      .orderBy(col("event_type"))

  /** Pagination: ORDER BY … LIMIT k OFFSET m with a unique tiebreak.
    * Spark plans offset+limit as a single TakeOrdered of m+k rows per
    * partition — no global sort. */
  def o3LimitOffset(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(10)
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Time-series gap fill: a dense hourly grid per event_type (cross join
    * of keys × sequence(min,max,1h)) left-joined against the hourly
    * aggregate, zero-filled. The grid side is tiny (keys × hours) and
    * broadcasts; the fact side aggregates BEFORE the join, so nothing
    * big ever shuffles twice. */
  def tsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        col("value"))
    val hourly = ev.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("float").as("sum_value"))
    val bounds = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(ev.select(col("event_type")).distinct())
    grid.join(hourly, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0f)).as("sum_value"))
      .orderBy(col("h"), col("event_type"))
  }

  /** Partitioned sink + partition-pruned scan: write events partitioned by
    * event_type, read back with a partition predicate — the scan must
    * touch ONE directory (PartitionFilters, audited in Relational2Spec).
    * This is the layout/pruning contract a 100 TB table lives by. */
  def partPruning(spark: SparkSession, dir: String): DataFrame = {
    partitionedEvents(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Dynamic-partition-pruned dimension join: the partitioned fact is
    * joined to a small category dimension filtered at query time —
    * which partitions survive is only known AFTER the dim filter runs,
    * so static pruning cannot help and Catalyst injects a
    * DynamicPruningExpression probe into the fact scan (plan-audited in
    * PlanSpec). THE mechanism that keeps star-schema scans at 100 TB
    * from reading partitions the dim filter would discard. */
  def joinDppPruned(spark: SparkSession, dir: String): DataFrame = {
    // the dim must be a REAL relation with a filter on top — an inline
    // local relation constant-folds the predicate away and DPP sees no
    // selective build side to subscribe the fact scan to. The category
    // dim is a constant, so one copy serves the whole session.
    val dimPath = IndexCache(spark, "relational.dppDim", (), Nil) {
      val tmp = Storage.tempDir("event_type_dim")
      val cat = Seq(("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "ops"), ("error", "ops"))
      spark.createDataFrame(cat).toDF("event_type", "category")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      tmp
    }(Storage.delete)
    val dim = spark.read.parquet(dimPath)
    partitionedEvents(spark, dir)
      .join(dim.filter(col("category") === "engagement"), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("event_type"))
  }

  // one partitioned copy of events per (session, sf dir, events
  // generation) — the "table layout"
  private[query] def partitionedEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = IndexCache(spark, "relational.partitionedEvents", dir,
        Seq(s"$dir/events.parquet")) {
      val tmp = Storage.tempDir("events_by_type")
      graft.schema.Schemas.events(spark, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      tmp
    }(Storage.delete)
    spark.read.parquet(out)
  }

  /** Self join on a derived key: each line item paired with the NEXT line
    * of the same order (l_linenumber + 1) — the adjacency-self-join
    * pattern. Same-table both sides ⇒ one shuffle on l_orderkey serves
    * both (Catalyst reuses the exchange). */
  def joinSelfNextline(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    li.join(
        li.select(col("l_orderkey").as("r_orderkey"),
          col("l_linenumber").as("r_linenumber"),
          col("l_quantity").as("next_quantity")),
        col("l_orderkey") === col("r_orderkey") &&
          col("r_linenumber") === col("l_linenumber") + 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("next_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** unionByName with missing columns: position-independent union where
    * each side lacks a column the other has (null-filled) — the
    * schema-evolution-tolerant union. */
  def setOpsUnionByName(spark: SparkSession, dir: String): DataFrame = {
    val a = table(spark, dir, "region")
      .select(col("r_name").as("name"), lit("region").as("kind"),
        col("r_regionkey").as("region_key"))
    val b = table(spark, dir, "nation")
      .select(col("n_name").as("name"), lit("nation").as("kind"),
        col("n_nationkey").as("nation_key"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy(col("kind"), col("name"))
  }

  /** Gaps-and-islands: runs of consecutive event_ids with the same
    * event_type per user, via the row_number-difference trick (two window
    * passes over one shuffle, island id = rn_overall − rn_within_type).
    * Output: per (user, type) island count and longest island. */
  def windowGapsIslands(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val wType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .withColumn("grp",
        row_number().over(wAll) - row_number().over(wType))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_islands"), max(col("run_len")).as("longest_run"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Ratio-to-report: each row's share of its partition total. The
    * partition sum is a DOUBLE aggregate whose accumulation order differs
    * per engine, so it is rounded through REAL on both sides BEFORE the
    * division — the quotient of identical doubles is then bit-exact. */
  def windowRatioToReport(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        (col("value") /
          sum(col("value")).over(w).cast("float").cast("double"))
          .cast("float").as("share"))
      .orderBy(col("event_id"))
  }

  /** Multi-key sort with explicit null ordering: NULLS FIRST on a nullable
    * key ascending, NULLS LAST descending — the four null-placement
    * combinations engines disagree on by default (Spark defaults nulls
    * first on ASC; DuckDB nulls last), made explicit on both sides. */
  def o4SortNulls(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio_n"),
        col("o_orderstatus"))
      .orderBy(col("prio_n").asc_nulls_first,
        col("o_orderstatus").desc_nulls_last,
        col("o_orderkey"))
      .limit(200)

  /** Plain DISTINCT projection — the de-dup operator in its simplest
    * relational form (hash-partitioned, map-side partial). */
  def t10Distinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("lang"), col("source"))
      .distinct()
      .orderBy(col("lang"), col("source"))

  /** HAVING through the SQL entry point: post-aggregation predicate on an
    * aggregate expression (Catalyst plans it as Filter over Aggregate). */
  def aggHaving(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_custkey, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 3 ORDER BY o_custkey""".stripMargin)
  }

  /** Explicit GROUPING SETS (neither rollup nor cube): two independent
    * one-dimensional aggregates in one pass over the fact table. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(l_extendedprice) AS FLOAT) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Salted skew join: a fact stream where ~70% of rows hit one hot key
    * would put one shuffle partition on a single straggler task. Salting
    * splits the hot key across `salts` partitions: the fact side gets a
    * deterministic salt (event_id % salts), the dim side is replicated
    * ×salts — the join key becomes (k, salt), spreading the hot key
    * evenly. Same result as the unsalted join (the oracle), but no
    * straggler at 100 TB. (AQE skew-join handles moderate skew
    * automatically; explicit salting is the contract for extreme,
    * known-hot keys.) */
  def joinSkewSalted(spark: SparkSession, dir: String,
      salts: Int = 8): DataFrame = {
    // hot key = c_custkey 1 (a REAL dim key — custkeys start at 1, so a
    // sentinel 0 would anti-join the hot rows away and leave the salted
    // path unexercised): ~70% of fact rows land on it
    val fact = graft.schema.Schemas.events(spark, dir)
      .select(
        when(col("event_id") % 10 < 7, lit(1L))
          .otherwise(col("user_id")).as("k"),
        (col("event_id") % salts).as("salt"),
        col("value"))
    val dim = table(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
      .crossJoin(spark.range(salts).select(col("id").as("salt")))
    fact.join(dim, Seq("k", "salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** RANGE window frame over event-time seconds: trailing-10-minute
    * count/sum per user. RANGE frames include ALL peers within the value
    * range (unlike ROWS) — the sliding-window-by-time idiom without a
    * groupBy-window reshuffle per slide. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-600, Window.currentRow)
    graft.schema.Schemas.events(spark, dir)
      .withColumn("sec", col("ts").cast("long"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_10m"),
        sum(col("value")).over(w).cast("float").as("sum_trailing_10m"))
      .orderBy(col("event_id"))
  }

  /** Bitwise aggregates: AND/OR/XOR folds over the group — exact integer
    * reductions, commutative/associative ⇒ partial aggregation applies. */
  def aggBitwise(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"))
      .orderBy(col("event_type"))

  /** Typed Dataset pipeline: case-class rows, typed filter, groupByKey +
    * mapGroups — the Dataset[T] API surface over the same engine. NOTE on
    * scale: mapGroups shuffles whole rows (no partial aggregation); it is
    * the right tool for genuinely per-group imperative logic, while
    * reducible aggregates should use groupBy(...).agg or a typed
    * Aggregator (see [[graft.functions.WeightedAvg]]). Here each group
    * carries only counters, and the oracle proves the typed path computes
    * exactly what the relational one would. */
  def typedPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[TypedEv]
    ds.filter(_.value > 10.0)
      .groupByKey(_.event_type)
      .mapGroups { (k, it) =>
        var n = 0L
        var maxId = Long.MinValue
        var users = Set.empty[Long]
        it.foreach { e =>
          n += 1
          if (e.event_id > maxId) maxId = e.event_id
          users += e.user_id
        }
        (k, n, maxId, users.size)
      }
      .toDF("event_type", "n_high", "max_event_id", "n_users")
      .orderBy(col("event_type"))
  }

  /** Approximate sketches, oracle-checked through exact companions: HLL /
    * KLL internals differ per engine by design, so the raw sketch values
    * can't hash-compare — instead the query emits the EXACT aggregates
    * (hash-compared against DuckDB) plus booleans asserting each sketch
    * landed within its error bound. DuckDB's oracle declares the booleans
    * TRUE: if a sketch ever drifts outside its bound, the hash compare
    * fails — the error contract is enforced BY the gate, not beside it.
    * Relational2Spec additionally bounds the raw error values. */
  def aggApproxSketch(spark: SparkSession, dir: String): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        // rsd 0.01: the sketch's own precision must sit well inside the
        // 5% contract below — the default 0.05 rsd can exceed 5% observed
        // error on individual groups (seen at sf0.1)
        approx_count_distinct(col("user_id"), 0.01).as("approx_users_raw"),
        expr("percentile(value, 0.5)").cast("float").as("exact_p50"),
        percentile_approx(col("value"), lit(0.5), lit(1000))
          .cast("float").as("approx_p50_raw"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users_raw") - col("exact_users"))
          <= greatest(lit(1L), (col("exact_users") * 0.05).cast("long")))
          .as("approx_users_ok"),
        col("exact_p50"),
        (abs(col("approx_p50_raw") - col("exact_p50"))
          <= abs(col("exact_p50")) * 0.05 + 0.001).as("approx_p50_ok"))
      .orderBy(col("event_type"))

  /** Lateral explode with ordinality: posexplode of the token array —
    * the flatten side of the corpus pipelines (doc → token rows), with
    * the position preserved. */
  def lateralExplode(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .orderBy(col("doc_id"), col("pos"))
}

/** Typed row for [[Relational2.typedPipeline]] — top-level so Catalyst's
  * generated (de)serializers can access it. */
case class TypedEv(event_id: Long, user_id: Long, event_type: String,
    value: Double)
