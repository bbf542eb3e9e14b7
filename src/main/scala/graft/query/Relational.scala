package graft.query

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.schema.Schemas.{events, table}
import graft.schema.{IndexCache, Storage}

/** The relational family: the SURVEY.md §2 operator inventory
  * (aggregates, windows, joins, subqueries, sets, map/struct/JSON,
  * sketches and moments) re-expressed as declarative DataFrame
  * programs over the driver's test tables. Every query here is paired with
  * an ANSI-SQL oracle in [[graft.SparkEntry.oracleSql]] and hash-compared
  * by the driver against DuckDB at sf0.01.
  *
  * Conventions (driver-compare safety):
  *   - output column names are all lowercase and aliased identically in the
  *     oracle SQL (driver sorts columns by name before hashing);
  *   - every query ends in a total ORDER BY (deterministic row order even if
  *     the driver does not sort rows);
  *   - output types match the oracle's (INT/BIGINT/REAL/DOUBLE — oracles
  *     CAST where DuckDB's natural type differs, e.g. EXTRACT → BIGINT).
  *
  * Scale notes (100 TB rule): every query is a pure Catalyst plan — filters
  * and projections push to the parquet scan, aggregations are partial
  * (map-side combine) before the exchange, sorts run on already-reduced
  * outputs, dimension joins are broadcast, and nothing materializes on the
  * driver.
  */
object Relational {

  /** Flagship aggregation (TPC-H Q1 shape) — pricing summary by flag/status.
    * GroupBy keys are low-cardinality: partial aggregation collapses each
    * input partition to ~6 rows before the exchange, so the shuffle is O(1)
    * regardless of input size. (Reference analog: the trainer's only
    * aggregate is Imputer's per-column mean, spark_trainer.py:70 — this is
    * its group-by generalization.) */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Q3 skeleton (SURVEY §7.3): avg event value per hour-of-day, band
    * filter, best-first sort — the relational core of the reference's
    * optimal-time endpoint (api/api.py:227-313) with the model swapped for
    * an aggregate. 24-row output: the HAVING band runs post-agg on 24 rows;
    * the groupBy shuffles only 24 partial rows per input partition.
    *
    * Exactness: the score rides the ×10³ value grid summed in
    * DECIMAL(38,0) — a streaming `avg(double)` accumulates in engine-
    * specific order and drifted past bit-equality at x10, and here the
    * drift is worse than cosmetic because the BETWEEN band sits on the
    * drifting value (a boundary hour can flip in/out). The band test is
    * the exact integer inequality 45000·n ≤ Σv3 ≤ 52000·n; the reported
    * score is one fixed-parenthesization double epilogue. */
  def q3OptimalTime(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    events(spark, dir)
      .select(hour(col("ts")).as("hour"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"))
      .groupBy(col("hour"))
      .agg(sum(col("v3").cast(dec38)).as("sv3"), count(lit(1)).as("n_events"))
      .filter(col("sv3") >= col("n_events").cast(dec38) * lit(45000L) &&
        col("sv3") <= col("n_events").cast(dec38) * lit(52000L))
      .select(col("hour"),
        (col("sv3").cast("double") / col("n_events").cast("double") /
          lit(1000.0)).as("score"),
        col("n_events"))
      .orderBy(col("score"), col("hour"))
  }

  // ---- §2.1 sources --------------------------------------------------------

  /** S1: projection scan. Column pruning reaches the parquet reader
    * (ReadSchema carries only 4 of 11 lineitem columns). Reference analog:
    * the producer's header-CSV scan (producer/producer.py:33-45). */
  def s1ScanProject(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S2/O3: deterministic row limit — ordered top-N, a single reduction
    * (TakeOrderedAndProject: no global sort, no full shuffle). Reference:
    * MAX_ROWS_TO_SEND cap (producer/producer.py:14,46-48). */
  def s2LimitOrdered(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
      .limit(100)

  /** S3/F1: to_float_or_zero coercion — cast-with-default at the source
    * boundary (producer/producer.py:53-58: empty/invalid → 0.0). A
    * non-numeric string coerces to 0.0f; a numeric one round-trips. */
  def s3CoerceToFloat(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_id"),
        // try_cast, not cast: Spark 4 runs ANSI mode, where a failed string
        // cast throws instead of yielding null (the reference's semantics)
        coalesce(expr("try_cast(event_type AS float)"), lit(0.0f)).as("et_coerced"),
        coalesce(col("value").cast("float"), lit(0.0f)).as("value_f"))
      .orderBy(col("event_id"))

  /** S4/F2: JSON-encode sink shape (producer/producer.py:21,62). Built by
    * explicit concat so the byte-level result is engine-independent (key
    * order and spacing of to_json vary by engine). */
  def s4JsonEncode(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        concat(lit("{\"event_id\":"), col("event_id").cast("string"),
          lit(",\"user_id\":"), col("user_id").cast("string"),
          lit(",\"event_type\":\""), col("event_type"), lit("\"}")).as("payload"))
      .orderBy(col("event_id"))

  /** S6/F2/S8: JSON-decode source — parse the `props` JSON value column and
    * surface a typed field (consumer/consumer.py:24 value_deserializer). */
  def s6JsonDecode(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))

  /** S7: malformed-record filter — rows whose JSON value fails to parse (or
    * lacks the field) are dropped, the `from_json`-null idiom for the
    * consumer's non-dict drop (consumer/consumer.py:47-49). The k>50 band
    * keeps the filter observable on all-valid synthetic data. */
  def s7MalformedFilter(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k").isNotNull && col("k") > 50)
      .orderBy(col("event_id"))

  /** S9: count-based tumbling batch window (consumer/consumer.py:59-82) —
    * batch_id = floor(row_rank / 1000) in `event_id` order, then per-batch
    * stats. Scale-safe global ranking WITHOUT a single-partition sort:
    * two-level rank. Level 1 buckets rows by the ID VALUE range
    * (`floor(event_id / bucketWidth)` — derived from the value, so it is
    * deterministic under any physical partitioning) and aggregates a
    * per-bucket histogram; a running sum over that histogram (a window over
    * n/bucketWidth tiny rows, NOT the data) yields each bucket's global
    * rank offset, broadcast back. Level 2 ranks within each bucket
    * (parallel windows, ≤ bucketWidth rows each) and adds the offset.
    * The only single-partition exchange in the plan carries the aggregated
    * histogram. Requires unique event_ids (ties would make the global rank
    * order-dependent — asserted by the data-contract spec). The
    * arrival-order streaming variant (no ordering column needed) lives in
    * [[graft.ingest.Batcher]]. */
  def s9BatchAssign(spark: SparkSession, dir: String,
      bucketWidth: Long = 4096L): DataFrame =
    graft.ingest.Batcher.assignBatches(
        events(spark, dir).select(col("event_id")),
        "event_id", batchSize = 1000, maxBatches = Int.MaxValue,
        bucketWidth = bucketWidth)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("batch_id"))

  /** S11: multi-file scan — several scans of the same schema unioned into
    * one DataFrame (spark_trainer/spark_trainer.py:43,46 reads a *list* of
    * batch CSVs). Expressed as two disjoint scans + unionAll; Catalyst
    * pushes the disjoint filters into both scans. */
  def s11MultiScanUnion(spark: SparkSession, dir: String): DataFrame = {
    def part(n: Int) = table(spark, dir, "lineitem")
      .filter(col("l_linenumber") === n)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    part(1).unionAll(part(2)).orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** S12: in-memory row source — literal rows + explicit schema
    * (api/api.py:89,157,284 createDataFrame). LocalRelation: constant-folded,
    * never touches an executor. */
  def s12InMemSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq((1, 1200.5f, 17.0f), (2, 450.0f, 21.5f), (3, 80.25f, 3.0f))
      .toDF("row_id", "distance", "temp")
      // arithmetic in double: float division/promotion rules differ between
      // engines; double ops are IEEE-identical everywhere
      .withColumn("score",
        col("distance").cast("double") * lit(0.01) + col("temp").cast("double"))
      .orderBy(col("row_id"))
  }

  // ---- §2.2 transforms -----------------------------------------------------

  /** T1: bulk cast — every numeric column cast in ONE select (the
    * reference's 25 stacked withColumn casts, spark_trainer.py:48-50,
    * collapsed to a single Project so the plan has one node, not 25). */
  def t1BulkCast(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("float").as("quantity_f"),
        col("l_extendedprice").cast("float").as("extendedprice_f"),
        col("l_discount").cast("float").as("discount_f"),
        col("l_tax").cast("float").as("tax_f"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** T2: null-drop on a subset — na.drop on the label column
    * (spark_trainer.py:52). Nulls are induced (value<1 → null) since the
    * synthetic table is complete; the drop then removes exactly those. */
  def t2NullDrop(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("label",
        when(col("value") < 1.0, lit(null)).otherwise(col("value")))
      .na.drop(Seq("label"))
      .select(col("event_id"), col("label"))
      .orderBy(col("event_id"))

  /** T3/T4: training projection — keep features+label, drop the rest
    * (spark_trainer.py:56-62), with the defensive schema intersect. */
  def t3Projection(spark: SparkSession, dir: String): DataFrame = {
    val wanted = Seq("o_orderkey", "o_custkey", "o_totalprice", "no_such_col")
    val df = table(spark, dir, "orders")
    val present = wanted.filter(df.columns.contains) // T4 intersect
    df.select(present.map(col): _*).orderBy(col("o_orderkey"))
  }

  /** T5: single-row validation/coercion — missing feature → 0.0 plus a
    * missing-flag column (api/api.py:49-73's warning list, as data). */
  def t5ValidateRow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq((1, Some(1200.5f), Option.empty[Float], Some(3.2f)),
        (2, Option.empty[Float], Some(21.0f), Option.empty[Float]))
      .toDF("row_id", "distance", "temp", "wind")
      .select(col("row_id"),
        coalesce(col("distance"), lit(0.0f)).as("distance_v"),
        coalesce(col("temp"), lit(0.0f)).as("temp_v"),
        coalesce(col("wind"), lit(0.0f)).as("wind_v"),
        col("distance").isNull.as("distance_missing"),
        col("temp").isNull.as("temp_missing"),
        col("wind").isNull.as("wind_missing"))
      .orderBy(col("row_id"))
  }

  /** T6: BETWEEN range filter (api/api.py:290) — pushed to the parquet scan
    * as two comparison filters. */
  def t6BetweenFilter(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_quantity").between(10.0, 20.0))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** T7: column override (what-if clone, api/api.py:133-135) — overwrite one
    * feature with a literal across all rows. */
  def t7ColumnOverride(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"), col("value"))
      .withColumn("value_overridden", lit(42.5))
      .orderBy(col("event_id"))

  /** T8: grid substitution (api/api.py:261-268) — one base row × an
    * exploded candidate-hour sequence, Phour/Pmin overwritten per candidate.
    * The base side is a LocalRelation: the "join" is constant expansion, no
    * shuffle at any scale. */
  def t8GridSubstitution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq((1200.5f, 17.0f)).toDF("distance", "temp")
      .withColumn("hour", explode(sequence(lit(0), lit(23))))
      .select(col("hour"),
        col("hour").cast("float").as("phour"),
        lit(30.0f).as("pmin"),
        col("distance"), col("temp"))
      .orderBy(col("hour"))
  }

  /** T9: candidate-domain filter (api/api.py:262-264) — drop out-of-domain
    * hours from a literal candidate list. */
  def t9DomainFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq(-3, 0, 7, 12, 18, 23, 24, 99).toDF("hour")
      .filter(col("hour").between(0, 23))
      .orderBy(col("hour"))
  }

  // ---- §2.3 aggregations ---------------------------------------------------

  /** A1: mean imputation — the relational core of Imputer(strategy=mean)
    * (spark_trainer.py:67-70): one global mean over non-null values, then
    * coalesce nulls to it. The 1-row aggregate is broadcast: no shuffle of
    * the fact side, the impute is a map-side expression at any scale.
    *
    * Exactness: the mean rides the ×10³ value grid summed in
    * DECIMAL(38,0) with a two-division double epilogue — a streaming
    * avg(double) accumulates in engine-specific order and drifted past
    * bit-equality at the x10 corpus (the q3_optimal_time class). */
  def a1MeanImpute(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val withNulls = events(spark, dir)
      .withColumn("value_n",
        when(col("value") < 1.0, lit(null)).otherwise(col("value")))
    val mean = withNulls
      .select(round(col("value_n") * lit(1000.0)).cast("long").as("v3"))
      .agg((sum(col("v3").cast(dec38)).cast("double")
        / count(col("v3")).cast("double") / lit(1000.0)).as("mean_value"))
    withNulls.crossJoin(broadcast(mean))
      .select(col("event_id"),
        coalesce(col("value_n"), col("mean_value")).as("value_imputed"))
      .orderBy(col("event_id"))
  }

  /** A2: scalar aggregate — the 1-row "first()" extraction (api/api.py:92)
    * as a proper global aggregate. */
  def a2ScalarAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // float32 output: engines associate double summation differently
      // (DuckDB vectorizes); float rounding absorbs the last-ulp skew, and
      // the reference is float-typed end-to-end anyway (api/api.py:46-47)
      .agg(avg(col("value")).cast("float").as("mean_value"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))

  /** Grouped stats — group-by generalization of A1's per-column mean, with
    * exact distinct counts. Low-cardinality keys → partial agg collapses
    * each partition before the exchange. */
  def aggGroupStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("event_type"))

  // ---- joins (engine surface; reference's Q2/Q3 re-expression + north-star)

  /** Broadcast dimension join — fact × small dim. `broadcast(part)` keeps
    * the fact side shuffle-free: the 1000-executor plan is a map-side hash
    * join per fact partition.
    *
    * Exactness: revenue is summed as BIGINT cents ×(100−disc_c) in
    * DECIMAL(38,0) (the [[joinSaltedSkew]] discipline) — the original
    * `sum(double)` form drifted past bit-equality at x10 because the two
    * engines accumulate in different orders; one fixed-paren double
    * epilogue (/10⁴) restores the dollar scale. */
  def joinBroadcastDim(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
          .cast(dec38) *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
          .as("rev_c4"),
        count(lit(1)).as("n_items"))
      .select(col("p_brand"),
        (col("rev_c4").cast("double") / lit(10000.0)).as("revenue"),
        col("n_items"))
      .orderBy(col("p_brand"))
  }

  /** Shuffle (sort-merge/hash) join — two fact tables co-partitioned on the
    * join key by the exchange; AQE picks the physical strategy and coalesces
    * post-shuffle partitions. */
  def joinShuffleFact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))

  /** 3-way star join — customer→nation→region, both dims broadcast.
    *
    * Exactness: acctbal is on the cents grid but not binary-representable,
    * so `sum(double)` is order-sensitive and drifted at x10 — summed as
    * BIGINT cents in DECIMAL(38,0), one double epilogue (/10²). */
  def joinStar3Way(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)").cast(dec38))
          .as("bal_c"))
      .select(col("r_name"), col("n_customers"),
        (col("bal_c").cast("double") / lit(100.0)).as("sum_acctbal"))
      .orderBy(col("r_name"))
  }

  /** Anti join — parts never ordered (NOT EXISTS). Broadcast the distinct
    * key set of the fact side when small; at scale this is a shuffled
    * left-anti hash join. */
  def joinAntiUnordered(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .join(table(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))

  /** Semi join — customers with at least one order (EXISTS): no
    * multiplication of the left side, the probe stops at first match. */
  def joinSemiActive(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Left outer join with aggregation — unmatched left rows survive with
    * zero counts (count of a null-producing column). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val li2001 = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
    table(spark, dir, "part")
      .join(li2001, col("p_partkey") === col("l_partkey"), "left_outer")
      .groupBy(col("p_partkey"))
      .agg(count(col("l_orderkey")).as("n_2001_items"))
      .orderBy(col("p_partkey"))
  }

  /** Full outer join — early-window vs late-window customer activity;
    * either side may be null, keys coalesced. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val early = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_custkey").as("ck_early"))
      .agg(count(lit(1)).as("n_early"))
    val late = o.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .groupBy(col("o_custkey").as("ck_late"))
      .agg(count(lit(1)).as("n_late"))
    early.join(late, col("ck_early") === col("ck_late"), "full_outer")
      .select(coalesce(col("ck_early"), col("ck_late")).as("custkey"),
        coalesce(col("n_early"), lit(0L)).as("n_early"),
        coalesce(col("n_late"), lit(0L)).as("n_late"))
      .orderBy(col("custkey"))
  }

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL preserve
    * duplicate cardinalities (the bag semantics the DISTINCT forms drop). */
  def setOpsMultiset(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchasers = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val errorers   = ev.filter(col("event_type") === "error").select(col("user_id"))
    val iAll = purchasers.intersectAll(errorers).withColumn("tag", lit("intersect_all"))
    val eAll = purchasers.exceptAll(errorers).withColumn("tag", lit("except_all"))
    iAll.unionAll(eAll)
      .groupBy(col("tag"), col("user_id"))
      .agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("tag"), col("user_id"))
  }

  /** AS-OF join, composed from built-ins (SURVEY §7.6 preference (a)): for
    * every error event, the most recent purchase by the same user at or
    * before it. Union the two streams tagged, then one window pass per user
    * carries the last-seen purchase forward — a single shuffle on user_id,
    * no range-join explosion. The oracle is DuckDB's native ASOF JOIN, so
    * the composition is checked against a first-class implementation. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val tagged = purchases
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
        col("value").as("p_value"), col("ts").as("p_ts"))
      .unionByName(errors
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("double").as("p_value"),
          lit(null).cast("timestamp").as("p_ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_purchase_value", last(col("p_value"), ignoreNulls = true).over(w))
      .withColumn("last_purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
      .filter(col("event_id").isNotNull) // keep the error rows only
      .select(col("event_id"), col("user_id"),
        date_trunc("millisecond", col("last_purchase_ts")).as("purchase_ts"),
        col("last_purchase_value").as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Non-equi range join — events banded by literal value ranges (the
    * BroadcastNestedLoopJoin path for interval predicates; the band table
    * broadcasts, the fact side never shuffles). */
  def joinRangeBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(("low", 0.0, 50.0), ("mid", 50.0, 150.0),
      ("high", 150.0, 1e9)).toDF("band", "lo", "hi")
    events(spark, dir)
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("band"))
  }

  /** Exact interpolated percentiles per group. */
  def aggPercentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.25)").cast("float").as("p25"),
        expr("percentile(value, 0.5)").cast("float").as("p50"),
        expr("percentile(value, 0.75)").cast("float").as("p75"),
        expr("percentile(value, 0.9)").cast("float").as("p90"))
      .orderBy(col("event_type"))

  // ---- window functions ----------------------------------------------------

  /** Top-k per key — row_number over (partition by type, order by value
    * desc). Partitioned window: shuffles once on the key, sorts within
    * partitions only. Tie-broken by event_id for determinism. */
  def windowTopkPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    events(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("rk"), col("event_id"), col("value"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Running sum per user in event order — rows unbounded preceding..current. */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        sum(col("value")).over(w).cast("float").as("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hopping (sliding) event-time windows in batch: 6-hour windows sliding
    * every 3 hours — each event lands in exactly two windows (epoch-aligned
    * like Spark's streaming `window`). The oracle reconstructs the window
    * assignment with modular epoch arithmetic + UNNEST. */
  def windowHoppingAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** Session windows in batch: per-user activity sessions with a 30-minute
    * inactivity gap via `session_window` — the built-in sessionization
    * operator (the islands-and-gaps SQL pattern is the oracle). */
  def windowSessionAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      // truncate to ms: the oracle's source timestamps are nanosecond-
      // precision, ours are micros — ms is the shared precision
      .select(col("user_id"),
        date_trunc("millisecond", col("w.start")).as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Lag/lead offsets per key in event order — the remaining window-family
    * member (offset functions; frames and ranking covered elsewhere). */
  def windowLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        (col("value") - lag(col("value"), 1).over(w)).cast("float").as("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Advanced statistical aggregates — sample stddev/variance, exact
    * median, correlation, covariance. Moments ride the exact-integer
    * discipline (value on the ×10³ grid, raw BIGINT user ids, sums in
    * DECIMAL(38,0)/HUGEINT) and every statistic is a fixed
    * parenthesization of those exact sums: the builtin
    * covar_samp/corr accumulators are streaming doubles whose ORDER
    * differs per engine, and the x10 sweep caught them diverging past
    * the REAL cast once the synthetic user-id stride (~10⁹ offsets) met
    * 10⁶-row groups — catastrophic cancellation the two-pass textbook
    * form never sees. Median stays on the raw doubles: selection plus
    * one midpoint average is order-independent on any engine. */
  def aggStatsAdvanced(spark: SparkSession, dir: String): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def d(c: Column): Column = c.cast(dec38)
    val g = events(spark, dir)
      .select(col("event_type"),
        round(col("value") * lit(1000.0)).cast("long").as("v3"),
        col("user_id").as("u"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("v3"))).as("sv"),
        sum(d(col("v3")) * col("v3")).as("svv"),
        sum(d(col("u"))).as("su"),
        sum(d(col("u")) * col("u")).as("suu"),
        sum(d(col("u")) * col("v3")).as("suv"),
        median(col("value")).cast("float").as("median_value"))
    val nD = col("n").cast("double")
    val varNum = (d(col("n")) * col("svv") - col("sv") * col("sv"))
      .cast("double")
    val covNum = (d(col("n")) * col("suv") - col("su") * col("sv"))
      .cast("double")
    val uNum = (d(col("n")) * col("suu") - col("su") * col("su"))
      .cast("double")
    val varV = varNum / (nD * (nD - lit(1.0))) / lit(1e6)
    g.select(col("event_type"),
        sqrt(varV).cast("float").as("sd_value"),
        varV.cast("float").as("var_value"),
        col("median_value"),
        (covNum / (sqrt(varNum) * sqrt(uNum))).cast("float")
          .as("corr_value_user"),
        (covNum / (nD * (nD - lit(1.0))) / lit(1e3)).cast("float")
          .as("covar_value_user"))
      .orderBy(col("event_type"))
  }

  // ---- §2.4 sorts / limits / top-k ----------------------------------------

  /** O1: sort by aggregate desc — the feature-importance ordering
    * (spark_trainer.py:95) generalized: avg value per type, heaviest first. */
  def o1SortImportanceDesc(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("importance"))
      .orderBy(col("importance").desc, col("event_type"))

  /** O2: ascending top-k — "best suggestions first" (api/api.py:298) with a
    * cap: TakeOrderedAndProject, not a global sort. */
  def o2TopkAsc(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
      .orderBy(col("value"), col("event_id"))
      .limit(20)

  // ---- set ops -------------------------------------------------------------

  /** Set operations — distinct user sets of two event types: intersect
    * (users doing both) and except (purchasers who never error), unioned
    * with a tag. Both are shuffle-on-key distinct ops. */
  def setOpsUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchasers = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val errorers   = ev.filter(col("event_type") === "error").select(col("user_id"))
    val both    = purchasers.intersect(errorers).withColumn("tag", lit("both"))
    val pureBuy = purchasers.except(errorers).withColumn("tag", lit("purchase_only"))
    both.unionAll(pureBuy).orderBy(col("tag"), col("user_id"))
  }

  /** Skew-salted aggregation — the two-stage groupBy for hot keys: stage 1
    * aggregates on (key, salt) spreading each hot key over `salts`
    * partitions; stage 2 merges the partials per key. Result is identical
    * to the direct groupBy (the oracle); the win at scale is that no
    * single reducer owns a hot key's full volume. (AQE's skew handling
    * covers joins; aggregation salting is the manual analog for extreme
    * key skew — here user_id has only ~15 distinct values, the synthetic
    * worst case.) */
  def aggSaltedSkew(spark: SparkSession, dir: String, salts: Int = 16): DataFrame =
    events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
      .groupBy(col("user_id"))
      .agg(sum(col("pn")).as("n"), sum(col("psum")).cast("float").as("sum_value"))
      .orderBy(col("user_id"))

  /** Salted shuffle equi-join — the skew-join twin of [[aggSaltedSkew]].
    * The fact side gets a deterministic salt in [0, salts); the dim side
    * is replicated ×salts (one copy per salt value); the join key becomes
    * (key, salt), so a hot key's rows spread across `salts` post-shuffle
    * partitions instead of landing on one straggler. The `shuffle_hash`
    * hint keeps the pattern honest — salting exists precisely for dims
    * too big to broadcast, and a broadcast plan would salt nothing.
    * Result rows are EXACTLY the unsalted join's (each fact row meets its
    * key's dim copy for its own salt exactly once), which is what the
    * oracle checks. Cost: dim ×salts replication — the standard skew
    * tradeoff; AQE's skew-join split handles runtime-detected skew, this
    * handles the skew you know at authoring time. */
  def saltedEquiJoin(fact: DataFrame, factKey: String, saltSrc: Column,
      dim: DataFrame, dimKey: String, salts: Int): DataFrame = {
    val salted = fact.withColumn("jsalt",
      pmod(saltSrc, lit(salts)).cast("int"))
    val replicated = dim.withColumnRenamed(dimKey, factKey)
      .withColumn("jsalt",
        explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated.hint("shuffle_hash"), Seq(factKey, "jsalt"))
      .drop("jsalt")
  }

  /** Skew-hardened revenue-by-nation: lineitem (fact) salted-joined to
    * supplier (dim, replicated ×salts), then nation broadcast and exact
    * scaled-integer revenue per nation — oracle-exact vs the plain
    * unsalted SQL join. Money stays in BIGINT cents ×(100−disc_c)
    * (the engine-version-proof scaled-integer discipline). */
  def joinSaltedSkew(spark: SparkSession, dir: String,
      salts: Int = 8): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val sup = table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    saltedEquiJoin(li, "l_suppkey",
        col("l_orderkey") + col("l_linenumber"), sup, "s_suppkey", salts)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
          (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
          .as("revenue_c4"))
      .orderBy(col("n_name"))
  }

  /** Bloom-prefiltered fact→dim join — the runtime-filter pattern for the
    * dim-too-big-to-broadcast regime: build a bloom filter over the
    * selective dim's keys (`bloom_filter_agg`, an ObjectHashAggregate
    * whose one-row binary result broadcasts at ~100 KB), semi-filter the
    * fact with `might_contain` BEFORE its shuffle, then run the real
    * equi-join on the survivors. False positives only cost a little
    * extra shuffle — the join keeps results exact, which is what the
    * plain-join oracle checks. At 100 TB this is the difference between
    * shuffling the full fact table and shuffling the ~selectivity
    * fraction that can match (Spark's own AQE runtime filter injects the
    * same shape; building it explicitly keeps it deterministic and
    * hint-controlled). Sizing here is fixed (1e5 items / 8e5 bits ≈ 2%
    * FPP); a production build sizes from dim-side stats. */
  def joinBloomPrefilter(spark: SparkSession, dir: String,
      numItems: Long = 100000L, numBits: Long = 800000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("bloom_filter_agg",
      exprs => BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0),
      "scala_udf")
    reg.createOrReplaceTempFunction("might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)), "scala_udf")
    table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
      .createOrReplaceTempView("v_bloom_urgent")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .createOrReplaceTempView("v_bloom_li")
    // might_contain requires the filter side to be a constant or scalar
    // subquery (the shape Spark's AQE runtime filter injects); the
    // subquery plans once, its ~100 KB binary result ships to every
    // fact-side task, and the filter pushes below the fact's exchange
    spark.sql(
      s"""SELECT /*+ SHUFFLE_HASH(o) */
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  count(*) AS n_items,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100L - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS revenue_c4
        |FROM v_bloom_li l
        |JOIN v_bloom_urgent o ON l_orderkey = o_orderkey
        |WHERE might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(o_orderkey),
        |       ${numItems}L, ${numBits}L) FROM v_bloom_urgent),
        |    xxhash64(l_orderkey))
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** ROLLUP grouping sets — per-(type, user-bucket) stats plus per-type and
    * grand-total subtotals in one pass (one shuffle; Expand feeds the same
    * partial-agg pipeline). Null grouping keys are the subtotal markers. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 3).cast("int"))
      .rollup(col("event_type"), col("user_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first)

  /** Pivot — event counts per hour-of-day pivoted to one column per event
    * type. Explicit pivot values keep the plan single-pass (no distinct
    * pre-scan); equivalent to per-type conditional aggregation, which is
    * exactly the oracle's formulation. */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(hour(col("ts")).as("hour"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("hour"))

  /** Typed UDAF: weighted average of `value` weighted by the props payload
    * `k`, per event type ([[graft.functions.WeightedAvg]] Aggregator). */
  def udafWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val wavg = org.apache.spark.sql.functions.udaf(graft.functions.WeightedAvg)
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy(col("event_type"))
      .agg(wavg(col("value"), col("k")).cast("float").as("weighted_avg_value"))
      .orderBy(col("event_type"))
  }

  /** Q2 skeleton: sensitivity analysis (api/api.py:108-223) without the
    * model — base row × UNNEST(variation_values), the varied feature
    * overridden per clone, a deterministic linear score standing in for the
    * RF transform. Cross join of 1×N literals: constant-folded, no shuffle. */
  def q2SensitivitySkeleton(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Seq((1200.5f, 17.0f, 2.5f)).toDF("distance", "temp", "wind")
    base
      .withColumn("varied_value",
        explode(array(Seq(1.0f, 2.0f, 3.0f, 4.0f, 5.0f).map(lit): _*)))
      .withColumn("distance_varied", col("varied_value"))
      .select(col("varied_value"),
        (col("distance_varied").cast("double") * lit(0.02)
          + col("temp").cast("double") * lit(0.5)
          + col("wind").cast("double") * lit(1.5)).as("score"))
      .orderBy(col("varied_value"))
  }

  /** Most-frequent event_type per user (per-key mode) with a
    * deterministic count-desc, name-asc tiebreak — the categorical
    * summary statistic. Two aggregations: per-(user, type) counts (one
    * shuffle, map-side combined), then a per-user 5-row argmax via
    * max(struct) — never a window over raw events. Rank is on exact
    * integers. */
  def aggModePerKey(spark: SparkSession, dir: String,
      maxUser: Long = 200L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"),
        // min over (-n, name): smallest -n = largest count, then name
        // asc — the deterministic mode in one struct aggregate
        min(struct((-col("n")).as("negn"), col("event_type"))).as("m"))
      .select(col("user_id"), col("n_types"),
        col("m.event_type").as("mode_type"), (-col("m.negn")).as("mode_n"))
      .orderBy(col("user_id"))

  /** Exact rolling median of `value` over the trailing 7 events per user
    * — the robust-statistics window (median resists the outliers that
    * wreck a rolling mean). Uses the exact `percentile` aggregate as a
    * window function over a bounded ROWS frame: per-frame work is O(7),
    * so the window cost is linear and the only shuffle is the user_id
    * hash partition. The frame holds RAW doubles (not aggregates), and
    * linear interpolation at 0.5 is the same two-operand IEEE arithmetic
    * in both engines, so the result is bit-exact even before the REAL
    * cast. Output bounded to user_id < 40; the windows are per-user, so
    * the bound does not change any retained row's frame. */
  def rollingMedian(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id", "value",
        """CAST(percentile(value, 0.5) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS FLOAT)
          |  AS rolling_median""".stripMargin)
      .orderBy(col("event_id"))

  /** Exponentially weighted moving average over the trailing 8 events
    * per user, decay a = 0.5: ewma = Σ v_i·a^(n−i) / Σ a^(n−i) over the
    * frame. a = ½ makes every weight an exact power of two, and Spark
    * evaluates the weighted sum as a SEQUENTIAL fold over the frame
    * array (`aggregate` over an index sequence) in frame order. The
    * DuckDB oracle's numerator is a plain SQL sum over an unnest
    * subquery whose evaluation order DuckDB does NOT guarantee, so
    * cross-engine equality rests on the shared REAL cast absorbing
    * any last-ulp summation-order difference over the ≤ 8 addends —
    * NOT on order parity (8 same-scale doubles never drift anywhere
    * near a float32 ulp). The frame array is ≤ 8 elements (bounded
    * memory per row); one user_id shuffle total. Output bounded to
    * user_id < 40 (frames are per-user — unaffected). */
  def windowEwma(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id", "value",
        """collect_list(value) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame""".stripMargin)
      .selectExpr("event_id", "user_id", "value",
        """CAST(
          |  aggregate(sequence(1, size(frame)), CAST(0.0 AS DOUBLE),
          |    (acc, i) -> acc + element_at(frame, i)
          |      * power(0.5, size(frame) - i))
          |  / (2.0 - power(0.5, size(frame) - 1))
          |AS FLOAT) AS ewma""".stripMargin)
      .orderBy(col("event_id"))

  /** Mergeable-sketch aggregation: per-nation HLL sketches of customer
    * keys, MERGED up to per-region cardinality estimates — the two-level
    * partial-aggregate pattern that makes count-distinct re-aggregatable
    * at 100 TB (sketches combine associatively across partitions, days,
    * or pre-computed rollups; exact distinct does not). The oracle pins
    * the EXACT companions plus a boolean asserting the estimate lands
    * within 8% (lgConfigK=12 ⇒ ~1.6% rsd, so 8% ≈ 5 sigma), so the
    * check is hash-exact while the sketch itself stays approximate.
    * KNOWN FLAKE MODE (by construction): the oracle hardcodes TRUE for
    * the bound column, so a >5-sigma estimator excursion would surface
    * as an engine mismatch rather than a sketch-accuracy failure — at
    * ~5 sigma the probability is negligible, which is the point of the
    * wide bound. */
  def aggSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val region = table(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val perNation = cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey"), col("n_nationkey"))
      .agg(expr("hll_sketch_agg(c_custkey, 12)").as("sketch"),
        countDistinct(col("c_custkey")).as("n_exact_nation"))
    perNation
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_exact_nation")).as("n_customers"),
        expr("hll_sketch_estimate(hll_union_agg(sketch))").as("est"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_nations"), col("n_customers"),
        (abs(col("est") - col("n_customers"))
          <= col("n_customers") * lit(0.08)).as("est_within_8pct"))
      .orderBy(col("r_name"))
  }

  /** Exact-decimal financial rollup: per (returnflag, linestatus) sums
    * of price and discounted net revenue carried as DECIMAL — the
    * money-column discipline that makes a 100 TB aggregate reproducible
    * to the cent. Each double price is cast to decimal ONCE per row
    * (deterministic nearest-rounding of the binary double — an exact
    * decimal tie is impossible in binary floating point, so both
    * engines round identically) and every downstream add is exact
    * integer-scaled arithmetic: no summation-order sensitivity, no
    * REAL-cast crutch, associative and therefore partial-aggregable.
    * One map-side-combined shuffle to 6 groups. */
  def aggDecimalExact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").cast("decimal(18,2)").as("price_dec"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("net_dec"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("price_dec")).as("sum_price"),
        sum(col("net_dec")).as("sum_net"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Count-Min sketch frequency estimation, fully replayed: build a
    * d=4 × w=256 counter matrix over the event user_ids (row hashes are
    * independent md5-60-bit families), estimate each key's frequency as
    * the MIN over its d counters, and report the top keys' exact count,
    * estimate, and overestimate. Because the hash family and counter
    * sums are exact integer arithmetic, the ESTIMATE ITSELF is
    * bit-identical cross-engine — the oracle pins the sketch's actual
    * values, not just an error bound — and `est ≥ exact` is a theorem
    * of the structure (counters only ever add), asserted per row.
    *
    * Scale shape: the sketch is ONE map-side-combined aggregation to
    * d·w = 1024 cells (each partition pre-aggregates its own counter
    * matrix — this is why CM works on streams), broadcast back to the
    * per-key estimate probe. Mergeability across partitions/days is the
    * entire point of the structure at 100 TB. */
  def aggCountminFreq(spark: SparkSession, dir: String,
      d: Int = 4, w: Int = 256, topK: Int = 10): DataFrame = {
    // the ×d md5 fanout must not ride the scan's partitioning: the
    // driver corpus reads as ONE task (single row group), so d·|events|
    // digests would run on one core (measured 1.5 s of the query's
    // 1.7 s at sf0.1). spread() hash-partitions the narrow user_id
    // column across the cores — and the `exact` groupBy(user_id) below
    // reuses that same exchange instead of adding its own.
    val ev = graft.schema.Schemas.spread(spark, dir, "events",
      graft.schema.Schemas.events(spark, dir).select(col("user_id")),
      col("user_id"))
    // each event lands in one bucket per row: (row, hash_row(key) % w)
    val cells = ev
      .select(col("user_id"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .select(col("r"),
        pmod(TokenHash.hash60(concat(lit("cm"), col("r").cast("string"),
          lit(":"), col("user_id").cast("string"))), lit(w.toLong))
          .as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(topK)
    val probes = exact
      .select(col("user_id"), col("n"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .select(col("user_id"), col("n"), col("r"),
        pmod(TokenHash.hash60(concat(lit("cm"), col("r").cast("string"),
          lit(":"), col("user_id").cast("string"))), lit(w.toLong))
          .as("b"))
    probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("user_id"), col("n"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("user_id"), col("n"), col("cm_est"),
        (col("cm_est") - col("n")).as("overestimate"),
        (col("cm_est") >= col("n")).as("est_ge_exact"))
      .orderBy(col("n").desc, col("user_id"))
  }

  /** Per-group ordinary-least-squares fit of extendedprice ~ quantity:
    * slope, intercept, and R² per returnflag, computed closed-form from
    * the five sufficient-statistic sums in a single map-side-combined
    * aggregate — the one-pass GROUP BY regression a monitoring pipeline
    * runs per segment, never a per-group solver loop.
    *
    * Scale shape: one scan, one aggregation on a tiny key; all moments
    * combine associatively so the map side does nearly all the work.
    * Float casts absorb partial-sum reassociation. */
  def aggLinregByGroup(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").cast("double").as("x"),
        col("l_extendedprice").cast("double").as("y"))
    val a = li.groupBy(col("rf"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val r2 = ((col("n") * col("sxy") - col("sx") * col("sy"))
        * (col("n") * col("sxy") - col("sx") * col("sy"))) /
      ((col("n") * col("sxx") - col("sx") * col("sx"))
        * (col("n") * col("syy") - col("sy") * col("sy")))
    a.select(col("rf"), col("n").cast("long").as("n"),
        slope.cast("float").as("slope"),
        ((col("sy") - slope * col("sx")) / col("n"))
          .cast("float").as("intercept"),
        r2.cast("float").as("r2"))
      .orderBy(col("rf"))
  }

  // ---- embeddings --------------------------------------------------------

  /** Nearest-event as-of join: each `purchase` is matched to the SAME
    * user's temporally nearest `error` event, looking both directions
    * (ties at equal distance resolve backward — the direction-complete
    * sibling of the backward-only `join_asof`). Expressed as one
    * interleaved per-user ordered window (prev/next error via
    * ignoreNulls frames) — never an event×event range join.
    *
    * Scale shape: one shuffle on user_id, two frame scans over the
    * interleaved sequence, a per-row arithmetic pick. State never
    * exceeds the window frame; at 100 TB this is the sort-merge as-of
    * shape every tick-data engine uses. */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val base = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val errTs = when(col("event_type") === "error", col("ts"))
    val n = e
      .withColumn("prev_err",
        last(errTs, ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_err",
        first(errTs, ignoreNulls = true)
          .over(base.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
    val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_err"))
    val dNext = unix_micros(col("next_err")) - unix_micros(col("ts"))
    val nearest = when(col("prev_err").isNull && col("next_err").isNull,
        lit(null).cast("timestamp"))
      .when(col("next_err").isNull, col("prev_err"))
      .when(col("prev_err").isNull, col("next_err"))
      .when(dPrev <= dNext, col("prev_err"))
      .otherwise(col("next_err"))
    n.select(col("user_id"), col("event_id"), col("ts"),
        nearest.as("nearest_err_ts"),
        (unix_micros(nearest) - unix_micros(col("ts"))).as("delta_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ---- forecasting -------------------------------------------------------

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity score (bots and stuck clients collapse to
    * near-zero entropy; engaged users spread across types). One
    * aggregation to (user, type) counts, one rollup with the Σ −p·ln p
    * fold; both shuffles share the user_id prefix.
    *
    * At 100 TB the same two-level shape holds: the (user, type) grain
    * is the only wide state and it map-side combines. */
  def aggEntropyByKey(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.schema.Schemas.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("user_id"))
      .agg(sum(col("n")).as("ntot"), count(lit(1)).as("n_types"))
    c.join(tot, Seq("user_id"))
      .select(col("user_id"), col("n_types"),
        (col("n").cast("double") / col("ntot").cast("double")).as("p"))
      .groupBy(col("user_id"))
      .agg(first(col("n_types")).as("n_types"),
        sum(negate(col("p") * log(col("p")))).cast("float")
          .as("entropy_nats"))
      .orderBy(col("user_id"))
  }

  // ---- divergence --------------------------------------------------------

  /** Rolling OLS slope of value vs time (value-units per hour) over each
    * user's trailing 8 events — the local-trend monitor a metrics
    * pipeline attaches per entity. The frame's x/y series are collected
    * as ordered lists and ALL five moments come from explicit
    * sequential folds over them (the [[windowEwma]]
    * discipline): the closed-form slope suffers catastrophic
    * cancellation at epoch-hour magnitudes, so the only way two engines
    * agree is to make every double op bit-identical, not just
    * mathematically equal.
    *
    * Scale shape: one shuffle on user_id; frames are bounded (8), so
    * state is O(frame) per row and the folds are in-row arithmetic. */
  def windowRollingSlope(spark: SparkSession, dir: String,
      maxUser: Long = 40L): DataFrame =
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .selectExpr("event_id", "user_id",
        """collect_list(CAST(unix_micros(ts) AS DOUBLE) / 3600000000.0)
          |  OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fx""".stripMargin,
        """collect_list(value) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fy""".stripMargin)
      .selectExpr("event_id", "user_id",
        "CAST(size(fx) AS DOUBLE) AS n",
        "aggregate(fx, CAST(0.0 AS DOUBLE), (a, e) -> a + e) AS sx",
        "aggregate(fy, CAST(0.0 AS DOUBLE), (a, e) -> a + e) AS sy",
        """aggregate(sequence(1, size(fx)), CAST(0.0 AS DOUBLE),
          |  (a, i) -> a + element_at(fx, i) * element_at(fy, i))
          |AS sxy""".stripMargin,
        """aggregate(fx, CAST(0.0 AS DOUBLE),
          |  (a, e) -> a + e * e) AS sxx""".stripMargin)
      .selectExpr("event_id", "user_id", "CAST(n AS BIGINT) AS n_frame",
        """CAST(CASE WHEN n * sxx - sx * sx <> 0.0
          |  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
          |  ELSE NULL END AS FLOAT) AS slope_per_hour""".stripMargin)
      .orderBy(col("event_id"))

  // ---- running extrema ---------------------------------------------------

  /** Per-user running peak and drawdown over the ordered value series —
    * the standard running-max monitor (portfolio drawdown, watermark
    * lag, capacity headroom). One bounded window pass; ties ordered by
    * event_id so the peak is deterministic. */
  def windowDrawdown(spark: SparkSession, dir: String,
      maxUser: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("event_id"), col("user_id"), col("value"),
        max(col("value")).over(w).as("peak"))
      .select(col("event_id"), col("user_id"),
        col("value").cast("float").as("value"),
        col("peak").cast("float").as("peak"),
        (col("peak") - col("value")).cast("float").as("drawdown"))
      .orderBy(col("event_id"))
  }

  // ---- concentration -----------------------------------------------------

  /** Pareto concentration of revenue over parts: how many parts carry
    * 80% of revenue, and what share the top decile of parts holds.
    * Revenue is summed in CENTS (exact integers) so the threshold
    * comparisons are deterministic under any partitioning — a double
    * cumulative sum could flip the boundary row between engines.
    *
    * Scale shape: one map-side-combined aggregate to per-part cents,
    * then a [[TwoLevel]] descending rank/cumsum over the part grain
    * (part cardinality is itself unbounded, so no unpartitioned window
    * may touch it), parts bucketed by cents range. Ties (equal cents)
    * share a bucket by construction, so ranks match the single-window
    * form exactly. */
  def aggParetoConcentration(spark: SparkSession, dir: String): DataFrame = {
    val perPart = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("cents"))
    val ranked = TwoLevel.prefix(perPart, floor(col("cents") / lit(4096L)),
      Seq(col("cents").desc, col("l_partkey")), bucketDesc = true,
      rowNumber = Some("rk"), sums = Seq("cents" -> "cum"))
    val tot = perPart.agg(sum(col("cents")).as("t"),
      count(lit(1)).as("p"))
    // a part is needed for the 80% budget when the revenue BEFORE it is
    // still under the threshold; all comparisons on exact cent integers
    // (scaled by 10 vs 8·t to stay integral)
    ranked.crossJoin(broadcast(tot))
      .agg(first(col("p")).as("n_parts"),
        sum(when((col("cum") - col("cents")) * 10 < col("t") * 8, 1L)
          .otherwise(0L)).as("n_parts_80pct"),
        sum(when(col("rk") <= ceil(col("p").cast("double") / 10.0),
          col("cents")).otherwise(0L)).as("top_decile_cents"),
        first(col("t")).as("t2"))
      .select(col("n_parts").cast("long").as("n_parts"),
        col("n_parts_80pct").cast("long").as("n_parts_80pct"),
        (col("top_decile_cents").cast("double") / col("t2").cast("double"))
          .as("top_decile_share"))
  }

  // ---- as-of with tolerance ----------------------------------------------

  /** Backward as-of join with a max-gap tolerance: each purchase matches
    * the same user's most recent PRIOR error only when it happened
    * within `toleranceUs` — the tick-data semantics where a stale quote
    * must not match. Same one-window shape as [[joinAsofNearest]]. */
  def joinAsofTolerance(spark: SparkSession, dir: String,
      toleranceUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = e.withColumn("prev_err",
        last(when(col("event_type") === "error", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
    val gap = unix_micros(col("ts")) - unix_micros(col("prev_err"))
    withPrev.select(col("user_id"), col("event_id"), col("ts"),
        when(gap <= toleranceUs, col("prev_err")).as("matched_err_ts"),
        when(gap <= toleranceUs, gap).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ---- local clustering --------------------------------------------------

  /** EXACT distinct counting through mergeable bitmap partials: per
    * (nation, key-bucket) bitmaps OR-merge up to regions, and the
    * summed bitmap_count equals exact COUNT(DISTINCT) — asserted in
    * the output row. The production replacement for count-distinct at
    * 100 TB: unlike HLL ([[aggSketchMerge]]) the partials
    * are exact, and unlike COUNT(DISTINCT) they re-aggregate across
    * days/partitions/rollups without a re-scan. Bucketing by
    * `bitmap_bucket_number` keeps each bitmap ≤ 32k bits regardless of
    * key range. */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val j = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(table(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("n_nationkey"), col("c_custkey"),
        expr("bitmap_bucket_number(c_custkey)").as("bkt"))
    val perNation = j.groupBy(col("n_regionkey"), col("n_nationkey"),
        col("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))")
        .as("bm"))
    val perRegion = perNation.groupBy(col("n_regionkey"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("n_regionkey"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_customers_bitmap"))
    val exact = j.groupBy(col("n_regionkey"))
      .agg(countDistinct(col("c_custkey")).as("n_customers_exact"))
    exact.join(perRegion, Seq("n_regionkey"))
      .select(col("n_regionkey"), col("n_customers_exact"),
        col("n_customers_bitmap"),
        (col("n_customers_exact") === col("n_customers_bitmap"))
          .as("bitmap_is_exact"))
      .orderBy(col("n_regionkey"))
  }

  // ---- inequality --------------------------------------------------------

  /** Gini coefficient of revenue over parts, on exact cent integers:
    * G = (2·Σ i·xᵢ) / (n·Σx) − (n+1)/n over the ascending-sorted
    * revenue sequence — the inequality companion of
    * [[aggParetoConcentration]] (same index, one number). Integer rank
    * products keep the sort-position sum deterministic; the final
    * ratio is one double division.
    *
    * Scale shape: per-part cents is a map-side-combined aggregate; the
    * ascending rank is a [[TwoLevel]] row number over the part grain
    * (part cardinality is unbounded — no unpartitioned window touches
    * it), parts bucketed by cents range. Equal cents share a bucket, so
    * ranks match the single-window form exactly; the moment fold is one
    * row. (Σ i·xᵢ can exceed 2⁶³ only past ~10¹⁰ parts·cents — cast to
    * double at that scale, accepting float noise in the ratio.) */
  def aggGiniCents(spark: SparkSession, dir: String): DataFrame = {
    val perPart = table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("cents"))
    val ranked = TwoLevel.rowNumber(perPart, floor(col("cents") / lit(4096L)),
      Seq(col("cents"), col("l_partkey")), bucketDesc = false, "i")
    ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).as("sx"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("n").cast("long").as("n_parts"),
        ((lit(2.0) * col("six").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n").cast("double") + 1.0) / col("n").cast("double"))
          .as("gini"))
  }

  // ---- prefix duplicates -------------------------------------------------

  /** AMS (Alon–Matias–Szegedy) F₂ sketch: estimate the second frequency
    * moment Σ f_u² of the per-user event counts from 16 independent
    * ±1-hashed counters S_c = Σ_u f_u·sign(u, c) — E[S_c²] = F₂, the
    * classic one-pass self-join-size / skew estimator, emitted beside
    * the exact F₂ so the sketch's error is visible per counter. Signs
    * come from the cross-engine [[TokenHash.hash60]], so every
    * counter (and therefore the estimate) is bit-identical in the
    * oracle — the HLL/count-min companion completing the sketch family
    * with the frequency-moment member.
    *
    * Scale shape: the per-user count is one map-side-combined
    * aggregate; the 16 counters expand from it (16 rows per USER, not
    * per event) and combine map-side into 16 grouped rows — the
    * partial-counter merge IS the AMS mergeability property that makes
    * the sketch work across partitions at 100 TB. All integers until
    * the final mean division. */
  def aggAmsF2(spark: SparkSession, dir: String,
      nCounters: Int = 16): DataFrame = {
    val perUser = graft.schema.Schemas.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("f"))
    val exact = perUser.agg(sum(col("f") * col("f")).as("f2_exact"))
    perUser
      .select(col("user_id"), col("f"),
        explode(sequence(lit(0), lit(nCounters - 1))).as("counter"))
      .select(col("counter"),
        (when(TokenHash.hash60(concat(col("user_id").cast("string"),
          lit(":ams:"), col("counter").cast("string"))) % 2 === 0, col("f"))
          .otherwise(-col("f"))).as("term"))
      .groupBy(col("counter"))
      .agg(sum(col("term")).as("s"))
      .crossJoin(broadcast(exact))
      .select(col("counter"), col("s"), (col("s") * col("s")).as("s2"),
        col("f2_exact"),
        ((col("s") * col("s") - col("f2_exact")).cast("double") /
          col("f2_exact").cast("double")).as("rel_err"))
      .orderBy(col("counter"))
  }

  /** Bollinger bands with INTEGER-EXACT breakout flags: per user, the
    * rolling 20-event mean ± 2σ envelope and whether the current value
    * breaks out — the volatility-banded anomaly gate (trading,
    * telemetry) in a form where no float can flip a verdict. The band
    * test is cross-multiplied onto ×10³-scaled integers (dev = v·n − s;
    * breakout ⇔ dev² > 4·(n·Σv² − s²)), the rolling sums are BIGINT
    * (order-independent, so DuckDB's segment-tree sliding windows and
    * Spark's frame folds agree bit for bit — a double rolling sum would
    * NOT), and mean/sd are single divisions / one IEEE sqrt of exact
    * integers. Flags are FALSE until the window fills
    * (a breakout verdict needs the full envelope). The ×10³
    * scale is the overflow envelope: dev² peaks at (n·v₃ᵐᵃˣ)² ≈ 10¹⁴
    * for |v| ≤ 490 at n = 20 (×10⁶ scaling overflows s² at this value
    * range — caught by the ANSI overflow error, not silent).
    *
    * Scale shape: one exchange on user_id; one sliding frame over it;
    * everything else map-only. */
  def windowBollingerBands(spark: SparkSession, dir: String,
      win: Int = 20, maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(win - 1), Window.currentRow)
    val dev = col("v3") * col("n_win") - col("s")
    val varTerm = col("n_win") * col("q") - col("s") * col("s")
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s", sum(col("v3")).over(w))
      .withColumn("q", sum(col("v3") * col("v3")).over(w))
      .select(col("user_id"), col("event_id"), col("value"), col("n_win"),
        (col("s").cast("double") / (col("n_win").cast("double") * lit(1e3)))
          .as("mean"),
        (sqrt(varTerm.cast("double")) / col("n_win").cast("double")
          / lit(1e3)).as("sd"),
        when(col("n_win") < win, lit(false))
          .otherwise(dev > 0 && dev * dev > lit(4L) * varTerm)
          .as("above_upper"),
        when(col("n_win") < win, lit(false))
          .otherwise(dev < 0 && dev * dev > lit(4L) * varTerm)
          .as("below_lower"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Hampel filter: the rolling-median/MAD outlier cleaner — a point
    * is an outlier iff |x − median₇| > 3·1.4826·MAD₇ over the centered
    * 7-event window, and the cleaned series replaces outliers with the
    * window median (the standard telemetry despiker, robust where the
    * mean/σ z-score family breaks under the very spikes it hunts).
    *
    * Exactness: median and MAD are PICKS from sorted ×10³-scaled
    * integers (odd window ⇒ single middle element — no averaging
    * anywhere), so the verdict comparison is one double multiply
    * against an exact integer deviation: cross-multiplied as
    * 10³·|dev| > 3·1.4826·10³·MAD computed identically both engines —
    * no sums, no aggregation order, nothing to drift.
    *
    * Scale shape: one exchange on user_id; one centered frame; picks
    * via `element_at(array_sort(collect_list(...)), 4)` over exactly 7
    * values per frame. Edge rows (< 7 in frame) pass through
    * unflagged — the standard boundary contract. Frames with < 4 rows
    * (a user with ≤ 3 events total) have no 4th order statistic: the
    * picks are `when`-guarded to NULL there — under Spark 4 ANSI mode
    * an unguarded `element_at` past the end THROWS, while the DuckDB
    * oracle's `vals[4]` returns NULL, so the guard is both a
    * data-dependent-crash fix and the cross-engine NULL contract
    * (median/mad NULL, row unflagged, value passed through). */
  def windowHampelFilter(spark: SparkSession, dir: String,
      maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    val nWin = count(lit(1)).over(w)
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
      .withColumn("n_win", nWin)
      .withColumn("med3", when(col("n_win") >= 4,
        element_at(array_sort(collect_list(col("v3")).over(w)), 4)))
      .withColumn("mad3", when(col("n_win") >= 4, element_at(array_sort(
        transform(collect_list(col("v3")).over(w),
          x => abs(x - col("med3")))), 4)))
      .select(col("user_id"), col("event_id"), col("value"),
        (col("med3").cast("double") / lit(1e3)).as("median"),
        (col("mad3").cast("double") / lit(1e3)).as("mad"),
        when(col("n_win") < 7, lit(false))
          .otherwise(abs(col("v3") - col("med3")).cast("double") >
            lit(3.0) * lit(1.4826) * col("mad3").cast("double"))
          .as("is_outlier"))
      .withColumn("cleaned",
        when(col("is_outlier"), col("median")).otherwise(col("value")))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Median-of-means: the heavy-tail-robust mean estimator — rows hash
    * into 16 deterministic buckets, each bucket's mean is an exact
    * integer-rational division, and the estimate is the MEDIAN of the
    * 16 bucket means (even count ⇒ average of the two middle picks).
    * Sub-Gaussian deviation bounds under only a variance assumption —
    * the estimator sketch/streaming systems use where one corrupt
    * shard would poison a plain mean. Emitted beside the plain mean so
    * the robustness gap is visible.
    *
    * Scale shape: one 16-key map-side-combined aggregate; the median
    * picks from a sorted 16-element collect — nothing scales with the
    * corpus beyond the first combine. All inputs ×10³-scaled exact
    * integers; each mean is ONE division. */
  def aggMedianOfMeans(spark: SparkSession, dir: String,
      buckets: Int = 16): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(round(col("value") * lit(1e3)).cast("long").as("v3"),
        pmod(TokenHash.hash60(concat(col("event_id").cast("string"),
          lit(":mom"))), lit(buckets.toLong)).as("b"))
    val means = ev.groupBy(col("b"))
      .agg(count(lit(1)).as("n_b"), sum(col("v3")).as("s_b"))
      .select(col("b"), col("n_b"),
        (col("s_b").cast("double") / (col("n_b").cast("double") * lit(1e3)))
          .as("mean_b"))
    val tot = ev.agg(count(lit(1)).as("n"), sum(col("v3")).as("s"))
      .select(col("n"),
        (col("s").cast("double") / (col("n").cast("double") * lit(1e3)))
          .as("plain_mean"))
    // middle picks derive from the REALIZED bucket-mean count
    // size(ms), not the `buckets` parameter: a tiny corpus can leave
    // hash buckets empty, where the hardcoded buckets/2 pick would
    // throw under ANSI (element_at past the end) and stop being the
    // median of the realized means. Even count → average of the two
    // middle picks; odd → the single middle element.
    val m = size(col("ms"))
    means.agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(col("mean_b"))).as("ms"))
      .crossJoin(tot)
      .select(col("n"), col("n_buckets"),
        when(m % 2 === 0,
          (element_at(col("ms"), (m / 2).cast("int")) +
            element_at(col("ms"), (m / 2 + 1).cast("int"))) / lit(2.0))
          .otherwise(element_at(col("ms"), ((m + 1) / 2).cast("int")))
          .as("median_of_means"),
        col("plain_mean"))
  }

  /** Exact weighted median of l_quantity per return flag, weighted by
    * extended price in EXACT CENTS (the [[aggGiniCents]]
    * discipline): the smallest quantity whose running weight reaches
    * half the group total. Integer cumulative sums make the crossing
    * test exact — a floating cumsum could flip the boundary row between
    * engines.
    *
    * Scale shape: TWO-LEVEL — the per-(flag, quantity) weight histogram
    * is one map-side-combined aggregate (quantity domain is bounded, so
    * the shuffle carries ≤ |rf|·|q| rows regardless of corpus size),
    * the running-weight window then ranks that tiny histogram, never
    * the fact rows. Equivalence to the row-grain form is exact: the
    * first ROW to cross half-total sits inside the first QUANTITY whose
    * group-end cumsum crosses, and min(q) only reads the quantity. An
    * earlier formulation ran the cumsum window over the raw rows —
    * a full sort of the fact table into |rf| = 3 partitions (measured
    * 1.3 s / 10 MB spill-prone shuffle at sf0.1 vs ~0.2 s for this
    * form, and the 3-way parallelism ceiling is the scale-killer). */
  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val hist = table(spark, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_quantity").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("w_cents"))
      .groupBy(col("rf"), col("q"))
      .agg(sum(col("w_cents")).as("w"))
    val win = Window.partitionBy(col("rf")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy(col("rf"))
      .agg(sum(col("w")).as("tot_cents"))
    hist.withColumn("cum", sum(col("w")).over(win))
      .join(broadcast(tot), Seq("rf"))
      .filter(col("cum") * 2 >= col("tot_cents"))
      .groupBy(col("rf"))
      .agg(min(col("q")).as("weighted_median"),
        min(col("tot_cents")).as("total_cents"))
      .select(col("rf").as("l_returnflag"), col("weighted_median"),
        col("total_cents"))
      .orderBy(col("l_returnflag"))
  }

  // ---- time series -------------------------------------------------------

  /** Edit-distance similarity self-join over the DISTINCT part-name
    * vocabulary via FastSS deletion neighborhoods: two names within
    * Levenshtein distance ≤ 2 must share a string reachable by deleting
    * ≤ 2 characters from each, so candidate pairs come from an
    * equi-join on the ≤2-deletion key set (|name|²/2 keys per name) and
    * only candidates pay the Levenshtein verify — the record-linkage
    * blocking discipline (candidate generation linear in vocab size,
    * never an all-pairs cross join).
    *
    * The vocabulary grain matters at scale: corpus rows dedup to their
    * name first (exact-dup groups would otherwise make ANY pair join
    * quadratic in the hottest group), then the vocab-level join is
    * bounded by vocabulary size, which grows sub-linearly in corpus
    * size. */
  def joinEditDistance(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame = {
    val names = table(spark, dir, "part").select(col("p_name").as("name"))
      .distinct()
    // ≤2-deletion neighborhood: delete position i (1-based, 0 = keep),
    // then position j of the result. i=0,j=0 keeps the original, so
    // exact matches and distance-1/2 pairs all share keys.
    val del = (s: Column, i: Column) => when(i === 0, s).otherwise(
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, lit(999))))
    val keyed = names
      .select(col("name"), explode(sequence(lit(0), length(col("name"))))
        .as("i"))
      .select(col("name"), del(col("name"), col("i")).as("d1"))
      .select(col("name"), col("d1"),
        explode(sequence(lit(0), length(col("d1")))).as("j"))
      .select(col("name"), del(col("d1"), col("j")).as("key"))
      .distinct()
    keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .orderBy(col("name_a"), col("name_b"))
  }

  // ---- semi-structured ---------------------------------------------------

  /** VARIANT-typed extraction over the events `props` JSON: parse once
    * to Spark 4's binary VARIANT encoding, path-extract `$.k`, and
    * profile it per event type — the open-schema ingestion path for
    * heterogeneous metadata columns (the shredded alternative to a
    * rigid from_json StructType, and to string re-parsing per access).
    *
    * Scale shape: parse + extract are per-row codegen expressions; the
    * rollup is a tiny-key map-side-combined aggregate. avg is emitted
    * as an exact integer-sum/count division so the oracle compare is
    * bit-exact. */
  def fVariantJson(spark: SparkSession, dir: String): DataFrame = {
    val k = variant_get(parse_json(col("props")), "$.k", "int")
    table(spark, dir, "events")
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("avg_k",
        col("sum_k").cast("double") / col("n_with_k").cast("double"))
      .orderBy(col("event_type"))
  }

  // ---- dedup -------------------------------------------------------------

  /** Mergeable equi-width histogram quantiles over l_extendedprice: 32
    * fixed bins spanned by the broadcast (min, max) extent, per-bin
    * counts from one map-side-combined aggregate, then p50/p90/p99
    * estimated by linear interpolation inside the crossing bin. The
    * scan-friendly alternative to an exact global sort: the histogram
    * is a 32-row mergeable partial (union = add counts), which is what
    * a 100 TB profiler actually ships between stages. Target ranks use
    * integer DIV — never q·N float arithmetic.
    *
    * Scale shape: two scans (extent, counts) of which the second does
    * all work map-side; the quantile solve runs on the 32-row
    * histogram, broadcast-joined — no sort anywhere. */
  def aggHistogramQuantiles(spark: SparkSession, dir: String,
      bins: Int = 32): DataFrame = {
    val x = table(spark, dir, "lineitem").select(col("l_extendedprice").as("x"))
    val ext = x.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val counts = x.crossJoin(broadcast(ext))
      // hi == lo (constant column / single row): everything is bin 0 —
      // ANSI would throw on the zero-width division
      .select(when(col("hi") === col("lo"), lit(0)).otherwise(
        least(greatest(
          floor((col("x") - col("lo")) * bins / (col("hi") - col("lo")))
            .cast("int"), lit(0)), lit(bins - 1))).as("bin"),
        col("lo"), col("hi"))
      .groupBy(col("bin"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
    val cum = counts
      .withColumn("cum_before", coalesce(sum(col("n")).over(
        Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = counts.agg(sum(col("n")).as("total"))
    // ceil targets — the smallest k with k/N ≥ q; a floor form emits
    // k=0 (no crossing bin at all) on tiny N
    val targets = spark.range(1).select(
      explode(array(lit("p50"), lit("p90"), lit("p99"))).as("q"))
      .crossJoin(broadcast(tot))
      .select(col("q"), col("total"),
        when(col("q") === "p50", (col("total") + 1) / 2)
          .when(col("q") === "p90", (col("total") * 9 + 9) / 10)
          .otherwise((col("total") * 99 + 99) / 100).cast("long").as("k"))
    targets.join(cum,
        col("k") > col("cum_before") && col("k") <= col("cum_before") + col("n"))
      .select(col("q"), col("k"),
        (col("lo") + (col("hi") - col("lo")) / bins *
          (col("bin").cast("double") +
            (col("k") - col("cum_before")).cast("double") /
              col("n").cast("double")))
          .cast("float").as("estimate"))
      .orderBy(col("q"))
  }

  // ---- warehouse ---------------------------------------------------------

  /** Event activity grid by (day-of-week, hour): the ops heat-map
    * behind capacity planning. Both axes come from INTEGER epoch-micros
    * arithmetic ((days+4) mod 7 pins Thursday=1970-01-01 with
    * 0=Sunday) — calendar functions differ across engines on week
    * origin, integer arithmetic cannot.
    *
    * Scale shape: per-row codegen arithmetic into a 168-key map-side-
    * combined aggregate. */
  def aggDowHourGrid(spark: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val day = lit(86400000000L)
    graft.schema.Schemas.events(spark, dir)
      .select(((us - pmod(us, day)) / day % 7 + 4).cast("long").as("d0"),
        (pmod(us, day) / lit(3600000000L)).cast("int").as("hour"),
        col("user_id"))
      .select(pmod(col("d0"), lit(7)).cast("int").as("dow"), col("hour"),
        col("user_id"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("dow"), col("hour"))
  }

  /** FORWARD as-of join: each error event matched to the user's NEXT
    * purchase within one hour — "did the failure convert anyway", the
    * directional mirror of [[joinAsofTolerance]]'s backward
    * lookup (the pair covers both as-of orientations; nearest-ties
    * live in `join_asof_nearest`). Unmatched errors survive with null
    * match columns — the LEFT as-of contract.
    *
    * Scale shape: one user-partitioned window pass (FOLLOWING frame —
    * the same shuffle as the backward form), no joins at all. */
  def joinAsofForward(spark: SparkSession, dir: String,
      toleranceUs: Long = 3600000000L): DataFrame = {
    val e = graft.schema.Schemas.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val withNext = e.withColumn("next_buy",
        first(when(col("event_type") === "purchase", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
    val gap = unix_micros(col("next_buy")) - unix_micros(col("ts"))
    withNext.select(col("user_id"), col("event_id"), col("ts"),
        when(gap <= toleranceUs, col("next_buy")).as("matched_buy_ts"),
        when(gap <= toleranceUs, gap).as("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Welch's unequal-variance t-test between the click and purchase
    * event-value populations — the parametric two-sample test beside
    * [[graft.query.ml.Significance.evalKsTest]]'s distribution-free KS. Inputs
    * are exact: per-group n, Σx, Σx² over ×1000-scaled BIGINT values (the
    * statistic is DEFINED on the scaled values; the scale cancels in t),
    * means/variances use the computational formula on those exact integers, and
    * both engines evaluate the same IEEE expression tree — hash-exact through t
    * and the Welch–Satterthwaite df.
    *
    * Scale shape: ONE map-side-combined conditional aggregate over the
    * fact table; everything after is scalar arithmetic on a single
    * row. */
  def aggTtestWelch(spark: SparkSession, dir: String): DataFrame = {
    val w = new RankMoments.WelchMoments(spark, dir)
    import w._
    val se1 = v1 / g("n1").cast("double")
    val se2 = v2 / g("n2").cast("double")
    g.select(col("n1"), col("n2"),
      (m1 / lit(1000.0)).cast("float").as("mean1"),
      (m2 / lit(1000.0)).cast("float").as("mean2"),
      ((m1 - m2) / sqrt(se1 + se2)).cast("float").as("t_stat"),
      ((se1 + se2) * (se1 + se2) /
        (se1 * se1 / (g("n1") - lit(1)).cast("double") +
         se2 * se2 / (g("n2") - lit(1)).cast("double")))
        .cast("float").as("df"))
  }

  /** Exact sample skewness and excess kurtosis of `value` per event
    * type — the distribution-shape panel beside
    * [[aggStatsAdvanced]]'s variance/correlation row. Raw
    * power sums Σx..Σx⁴ accumulate over ×1000-scaled integers in
    * DECIMAL(38,0) (a ×10⁵-row corpus of 6-digit values needs 29
    * digits — BIGINT overflows at the 4th power, which is why the
    * decimal lane exists); the g1/g2 formulas then run once on exact
    * central moments in double, identically associated in both
    * engines, REAL-cast on emit. The scale factor cancels in both
    * statistics.
    *
    * Scale shape: ONE map-side-combined aggregate (decimal partials
    * merge exactly); everything after is per-group scalar math. */
  def aggSkewKurtosis(spark: SparkSession, dir: String): DataFrame = {
    val x = round(col("value") * lit(1000.0)).cast("decimal(38,0)")
    val g = graft.schema.Schemas.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val n = col("n").cast("double")
    val m = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - m * m
    val m3 = col("s3").cast("double") / n - lit(3.0) * m *
      (col("s2").cast("double") / n) + lit(2.0) * m * m * m
    val m4 = col("s4").cast("double") / n - lit(4.0) * m *
      (col("s3").cast("double") / n) + lit(6.0) * m * m *
      (col("s2").cast("double") / n) - lit(3.0) * m * m * m * m
    g.select(col("event_type"), col("n"),
        (m / lit(1000.0)).cast("float").as("mean"),
        (m3 / sqrt(m2 * m2 * m2)).cast("float").as("skewness"),
        (m4 / (m2 * m2) - lit(3.0)).cast("float").as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }

  /** Largest net-gain streak per user (maximum-sum contiguous subarray
    * of mean-centered event values, Kadane's recurrence): the "best
    * run" statistic behind engagement-burst and hot-streak detection —
    * order-dependent sequential state like
    * [[graft.query.stats.Anomaly.anomalyAlertDebounce]], so it rides the same
    * sorted-group iteration, with the recurrence replayed as a recursive CTE in
    * the oracle.
    *
    * Integer-exact: centered values are kept ×n-scaled
    * (n·v6 − s6, the deferred-division discipline), so Kadane's max
    * comparisons are BIGINT compares; ONE division at emit recovers
    * the value scale.
    *
    * Scale shape: one user-key exchange + in-partition sort; O(1)
    * state per key; the per-user mean is a map-side-combined aggregate
    * broadcast back. */
  def windowMaxSubarray(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * lit(1e6)).cast("long").as("v6"))
    val stats = ev.groupBy(col("user_id"))
      .agg(sum(col("v6")).as("s6"), count(lit(1)).as("n"))
    val joined = ev.join(broadcast(stats), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("us"),
        (col("n") * col("v6") - col("s6")).as("x"), col("n"))
      .as[(Long, Long, Long, Long, Long)]
    joined.groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (u, it) =>
        var cur = 0L; var best = Long.MinValue; var n = 0L
        it.foreach { case (_, _, _, x, nn) =>
          n = nn
          cur = math.max(x, cur + x)
          best = math.max(best, cur)
        }
        Iterator.single((u, n, best))
      }
      .toDF("user_id", "n_events", "best_scaled")
      .withColumn("best_value",
        (col("best_scaled").cast("double") /
          col("n_events").cast("double") / lit(1e6)).cast("float"))
      .orderBy(col("user_id"))
  }

  /** Rolling 20-pair autocorrelation per user: the Pearson correlation
    * of (value, previous value) over a sliding window — the
    * "has this signal gone sticky" monitor beside
    * [[windowBollingerBands]]' level envelope (a regime
    * change often shows in AUTOCORRELATION before it moves the mean).
    * Null until the frame holds `win` full pairs or either variance
    * is zero (no verdict on degenerate input — deterministic, never
    * NaN).
    *
    * Exactness: the Bollinger ×10³-BIGINT discipline on BOTH series
    * (x = v₃, y = lag(v₃)): all five rolling moments are exact
    * integers (order-independent sliding sums — segment trees and
    * frame folds agree), the correlation is one fixed-paren double
    * expression of them, and zero-variance is an exact integer test.
    * Overflow envelope: n·Σxy ≤ 20²·(4.9e5)² ≈ 2e15 ≪ 2⁶³.
    *
    * Scale shape: one exchange on user_id; lag and the sliding frame
    * share its sort; everything else map-only. */
  def windowRollingCorr(spark: SparkSession, dir: String,
      win: Int = 20, maxUser: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w = byUser.rowsBetween(-(win - 1), Window.currentRow)
    val n = col("np")
    val num = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    graft.schema.Schemas.events(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * lit(1e3)).cast("long").as("x"))
      .withColumn("y", lag(col("x"), 1).over(byUser))
      .withColumn("np", count(col("y")).over(w))
      .withColumn("sx", sum(when(col("y").isNotNull, col("x"))).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx",
        sum(when(col("y").isNotNull, col("x") * col("x"))).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .select(col("user_id"), col("event_id"), col("np").as("n_pairs"),
        when(col("np") === win && vx > 0L && vy > 0L,
          (num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .cast("float"))
          .as("rolling_autocorr"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Theil index of the order-revenue distribution, per order priority
    * — the DECOMPOSABLE inequality measure beside the Lorenz pair
    * ([[aggGiniCents]] / [[aggParetoConcentration]]):
    * T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ). Unlike Gini, Theil sums across
    * subgroups, which is why revenue-concentration audits report both.
    *
    * Exactness: x is exact cents; μ = S/n enters as the exact-integer
    * ratio, each term is (x·n/S)·ln(x·n/S) — the cross-multiplied
    * integer-fed form — and the sum's group-order ulps are absorbed by
    * the REAL cast (the 1/ln adamic_adar rule). Zero-price orders
    * contribute 0 (lim x→0 x·ln x = 0), made explicit.
    *
    * Scale shape: one map-side-combined (n, Σ) aggregate per priority,
    * broadcast back, one map-side-combined term sum — two tiny-key
    * passes over the fact table, no window. */
  def aggTheilIndex(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val tot = o.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val ratio = col("cents").cast("double") * col("n").cast("double") /
      col("s").cast("double")
    o.join(broadcast(tot), Seq("priority"))
      .select(col("priority"), col("n"), col("s"),
        when(col("cents") > 0L, ratio * log(ratio)).otherwise(lit(0.0))
          .as("term"))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n_orders"),
        (sum(col("term")) / max(col("n")).cast("double")).cast("float")
          .as("theil"))
      .orderBy(col("priority"))
  }

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
    Layouts.partitionedEvents(spark, dir)
      .join(dim.filter(col("category") === "engagement"), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy(col("event_type"))
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

  // One bucketed copy of (orders, customer) per (session, sf dir,
  // source generation) — the engine's "table layout" the way a warehouse
  // would maintain it: paid once at load time, amortized over every
  // co-located join after. Table-name suffixes come from a monotonic
  // counter (never from hashCode), so two sessions' catalog tables never
  // point at each other; a superseded layout's tables are dropped and
  // its dir deleted.
  private val bucketSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Bucketed co-located join: orders and customer both bucketed (and
    * sort-ordered) on the join key into the same bucket count, so the
    * sort-merge join reads matching buckets directly — NO exchange and no
    * per-query sort on either side (PlanSpec asserts both). At 100 TB
    * this is THE pattern for recurring fact-dim joins on a stable key:
    * the shuffle happens once at write time, not per query. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (ordersT, customerT, _) = IndexCache(spark, "relational.bucketed",
        dir, Seq(s"$dir/orders.parquet", s"$dir/customer.parquet")) {
      val suffix = bucketSeq.incrementAndGet().toString
      val (to, tc) = (s"orders_bkt_$suffix", s"customer_bkt_$suffix")
      val base = Storage.tempDir("graft_bkt")
      // repartition on the bucket key first: each write task then holds
      // exactly one bucket (repartition and bucketBy share the murmur3
      // hash), giving ONE file per bucket — a multi-file bucket would
      // force a per-query sort before the merge join
      table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(8, col("o_custkey"))
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders").saveAsTable(to)
      table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .repartition(8, col("c_custkey"))
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer").saveAsTable(tc)
      (to, tc, base)
    } { case (to, tc, base) =>
      Seq(to, tc).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Storage.delete(base)
    }
    val o = spark.table(ordersT)
    val c = spark.table(customerT)
    // merge hint: exercise the bucketed sort-merge path (a broadcast
    // would be chosen at test scale and hide the layout win)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("float").as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Distribution window functions beyond rank/dense_rank: percent_rank,
    * cume_dist, ntile over the order-line sequence, plus nth_value and
    * last_value over the full-partition frame. */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    // order by a unique full key (this lineitem has duplicate line
    // numbers per order): ntile / nth_value / last_value are
    // position-dependent, so an ambiguous ORDER BY is engine-dependent.
    // l_quantity is appended as an extra tie-breaker dimension and a spec
    // asserts the whole ORDER BY key is unique in the generated data —
    // the determinism contract is tested, not assumed.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .select(col("l_orderkey"), col("l_linenumber"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(3).over(w).as("tile"),
        nth_value(col("l_quantity"), 2).over(wFull).as("second_qty"),
        last(col("l_quantity")).over(wFull).as("last_qty"),
        col("l_partkey"), col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
  }

  /** Event funnel with conversion deadlines: per user, the deepest stage
    * reached in the view → click → purchase sequence where each stage
    * must land within `windowMinutes` of the previous stage's first
    * qualifying event (the product-analytics funnel semantic — an
    * unbounded funnel saturates on any active user), then users per
    * stage. Three conditional-aggregate rounds, each keyed on user_id —
    * the event scan is hash-partitioned on user_id ONCE up front, so
    * every stage's aggregate and join finds its required distribution
    * already satisfied, and the four consumers of the identical
    * repartitioned subtree collapse to one physical shuffle via
    * ReusedExchange (PlanSpec asserts it): the data crosses the wire
    * once, not per stage. */
  def windowFunnel(spark: SparkSession, dir: String,
      windowMinutes: Int = 30): DataFrame = {
    val deadline = expr(s"INTERVAL $windowMinutes MINUTES")
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .repartition(col("user_id"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.join(t1, Seq("user_id"))
      .filter(col("event_type") === "click" &&
        col("ts") > col("t1") && col("ts") <= col("t1") + deadline)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.join(t2, Seq("user_id"))
      .filter(col("event_type") === "purchase" &&
        col("ts") > col("t2") && col("ts") <= col("t2") + deadline)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.select(col("user_id")).distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1)
          .otherwise(0).as("funnel_stage"))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_stage"))
  }

  /** Forward-fill via IGNORE NULLS window: carry the last "good" reading
    * (value > 50) forward along each user's event sequence — the
    * sensor-gap-fill idiom, one window pass, no self-join. */
  def windowFillForward(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.schema.Schemas.events(spark, dir)
      .withColumn("good", when(col("value") > 50, col("value")))
      .select(col("event_id"), col("user_id"), col("good"),
        last(col("good"), ignoreNulls = true).over(w).as("filled"))
      .orderBy(col("event_id"))
  }

  /** Fuzzy string matching: edit-distance near-matches of part names via
    * multi-pass blocked record linkage. Block key = (brand, size, length
    * band): composing the attribute key with a name-length band keeps
    * block sizes bounded as the corpus grows (the round-3 key's blocks
    * grew O(n) — the classic blocking failure). The left side probes BOTH
    * its own band and the next (standard sorted-neighborhood multi-pass),
    * so near-matches straddling a band boundary still pair — as an
    * equi-join (the probe list is exploded, never an OR-join that would
    * degrade to a nested loop). Candidates flow as ids only; names rejoin
    * by id for the levenshtein verify. A spec asserts the block-size
    * bound on the generated data. */
  def fuzzyNameMatch(spark: SparkSession, dir: String,
      maxDist: Int = 18, bandWidth: Int = 8): DataFrame = {
    val p = table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"),
        floor(length(col("p_name")) / bandWidth).as("band"))
    val l = p.withColumn("probe",
      explode(array(col("band"), col("band") + 1)))
      .select(col("p_brand"), col("p_size"), col("probe"),
        col("p_partkey").as("lk"))
    val r = p.select(col("p_brand"), col("p_size"),
      col("band").as("probe"), col("p_partkey").as("rk"))
    val cand = l.join(r, Seq("p_brand", "p_size", "probe"))
      .filter(col("lk") =!= col("rk"))
      .select(least(col("lk"), col("rk")).as("part_a"),
        greatest(col("lk"), col("rk")).as("part_b"))
      .distinct()
    val names = p.select(col("p_partkey"), col("p_name"))
    cand
      .join(names.select(col("p_partkey").as("part_a"),
        col("p_name").as("name_a")), Seq("part_a"))
      .join(names.select(col("p_partkey").as("part_b"),
        col("p_name").as("name_b")), Seq("part_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("part_a"), col("part_b"), col("dist"))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Cumulative distinct count — `COUNT(DISTINCT) OVER`, which no Spark
    * window supports natively: running number of distinct users seen per
    * event_type in (ts, event_id) order. The canonical rewrite marks each
    * (type, user)'s FIRST event (a min-struct aggregate, one shuffle) and
    * running-sums the flags.
    *
    * Scale shape: the running sum itself is a [[TwoLevel]] prefix per
    * event_type over (ts, event_id), bucketed by floor(ts /
    * bucketSeconds) — monotone in ts — so no per-type window ever
    * streams n/|types| rows through one task. Output bounded to
    * event_id < maxId AFTER the global compute. */
  def windowCumulativeDistinct(spark: SparkSession, dir: String,
      bucketSeconds: Long = 3600L, maxId: Long = 3000L): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val firsts = ev.groupBy(col("event_type"), col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("f.event_id").as("event_id"), lit(1L).as("first_flag"))
    val marked = ev
      .join(firsts, Seq("event_id"), "left")
      .withColumn("ff", coalesce(col("first_flag"), lit(0L)))
    TwoLevel.prefix(marked,
        floor(unix_micros(col("ts")) / (bucketSeconds * 1000000L)),
        Seq(col("ts"), col("event_id")), keys = Seq("event_type"),
        sums = Seq("ff" -> "cum_distinct_users"))
      .filter(col("event_id") < maxId)
      .select(col("event_id"), col("event_type"), col("cum_distinct_users"))
      .orderBy(col("event_id"))
  }
}

/** Typed row for [[Relational.typedPipeline]] — top-level so Catalyst's
  * generated (de)serializers can access it. */
case class TypedEv(event_id: Long, user_id: Long, event_type: String,
    value: Double)
