package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.{IndexCache, Storage}
import graft.schema.Schemas.table

/** Round-3 relational operators: storage-layout co-located joins
  * (bucketing), MERGE-style upsert, additional window functions,
  * stratified sampling, dedup-cluster statistics, and fuzzy string
  * matching. Every operator is DuckDB-oracle exact.
  */
object Relational3 {

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

  /** MERGE-style SCD1 upsert, emulated relationally (no transactional
    * table format in scope): target = orders snapshot missing every 7th
    * key; source = re-priced updates for keys divisible by 3. Full outer
    * join on the key, source wins per column, and each row is tagged
    * with its merge action. The full-outer-join shuffle is the exact
    * cost MERGE INTO pays in Delta/Iceberg before file rewrite. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val target = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("t_key"),
        col("o_totalprice").as("t_price"),
        col("o_orderstatus").as("t_status"))
    val source = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("s_key"),
        (col("o_totalprice").cast("double") * 1.1).as("s_price"),
        lit("U").as("s_status"))
    target.join(source, col("t_key") === col("s_key"), "full_outer")
      .select(
        coalesce(col("s_key"), col("t_key")).as("o_orderkey"),
        coalesce(col("s_price"), col("t_price").cast("double"))
          .cast("float").as("o_totalprice"),
        coalesce(col("s_status"), col("t_status")).as("o_orderstatus"),
        when(col("s_key").isNotNull && col("t_key").isNotNull, lit("updated"))
          .when(col("s_key").isNotNull, lit("inserted"))
          .otherwise(lit("kept")).as("merge_action"))
      .orderBy(col("o_orderkey"))
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

  /** Stratified deterministic sampling: a different hash-sample rate per
    * stratum (event_type) — the training-data idiom for rebalancing
    * source mixes (keep 1/8 of clicks, 1/4 of views, every purchase).
    * Hash-deterministic (md5 of the key), so the sample is reproducible
    * across engines, runs, and partitionings — never rand(). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val h = Dedup.hash60(col("event_id").cast("string"))
    graft.schema.Schemas.events(spark, dir)
      .filter(
        when(col("event_type") === "click", h % 8 === 0)
          .when(col("event_type") === "view", h % 4 === 0)
          .otherwise(lit(true)))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Cluster-size histogram over the near-dup groups: how many duplicate
    * groups exist at each size — the dedup QA report (a spike at large
    * sizes means boilerplate/template contamination in the corpus). */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupGroups(spark, dir)
      .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))

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

  /** Feature hashing (the "hashing trick"): tokens bucketed into a fixed
    * 256-dim index space by the oracle-replayable md5 hash — the
    * vocabulary-free featurizer for training pipelines (no dictionary
    * build, no OOV, map-side only until the final count). */
  def textFeatureHashing(spark: SparkSession, dir: String,
      dim: Int = 256): DataFrame =
    table(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (Dedup.hash60(col("tok")) % dim).as("feature_idx"))
      .groupBy(col("doc_id"), col("feature_idx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("feature_idx"))

  /** SCD2 dimension build: compress each user's event-type stream into
    * slowly-changing-dimension type-2 version rows — consecutive equal
    * attribute values collapse, each change opens a version with
    * [valid_from, valid_to) effectivity and the open version flagged
    * current. The warehouse dimension-maintenance idiom as two window
    * passes per entity partition; at 100 TB both windows partition on the
    * entity key (one shuffle, bounded per-entity groups), nothing global.
    * user_id < 20 bounds the declared output; the operator itself takes
    * any entity/attribute pair. */
  def scd2Versions(spark: SparkSession, dir: String,
      maxUser: Long = 20L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("user_id") < maxUser)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .select(col("user_id"),
        row_number().over(w).as("version_n"),
        col("event_type").as("attr"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version_n"))
  }

  /** Temporal (as-of) dimension lookup: join each event to the SCD2
    * version effective at its timestamp — the point-in-time enrichment
    * every feature pipeline needs (training labels must see the dimension
    * AS OF the event, never the current row). Equi-join on the entity key
    * with the effectivity range as an in-join predicate: per-entity
    * version chains are short, so the range check multiplies bounded
    * work — never a cartesian. */
  def scd2AsofLookup(spark: SparkSession, dir: String,
      maxUser: Long = 20L): DataFrame = {
    val v = scd2Versions(spark, dir, maxUser)
      .select(col("user_id").as("v_user"), col("version_n"), col("attr"),
        col("valid_from"), col("valid_to"))
    graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .filter(col("user_id") < maxUser)
      .join(v, col("user_id") === col("v_user") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("version_n"), col("attr"))
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

  /** Neyman-optimal stratified sample allocation: per stratum
    * (event_type), the allocation n_h of a fixed sample budget
    * proportional to N_h·σ_h — the design that minimizes the variance
    * of the stratified mean estimator — computed from ×10³-scaled
    * INTEGER moments (N·Σv² − (Σv)² exact in BIGINT; envelope ~10⁶
    * rows/stratum at |v| ≤ 10², DECIMAL(38) beyond) with
    * largest-remainder rounding so the integer allocations sum to the
    * budget EXACTLY (floor everything, hand the leftover to the
    * largest fractional remainders, ties by stratum name).
    *
    * Scale shape: one map-side-combined moment aggregate per stratum
    * (≤ 5 rows), a 1-row total broadcast, and a window over the ≤ 5
    * allocation rows — nothing downstream of the first aggregate
    * scales with the corpus. sd is one IEEE sqrt; shares are fixed-
    * order double divisions; the rounding is integer-exact. */
  def sampleNeymanAllocation(spark: SparkSession, dir: String,
      budget: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * lit(1e3)).cast("long").as("v3"))
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_h"), sum(col("v3")).as("s1"),
        sum(col("v3") * col("v3")).as("s2"))
      .select(col("event_type"), col("n_h"),
        // population sd on the ×10³ scale: √((N·Σv² − (Σv)²)/N²)/10³;
        // the N·Σv² cross-term squares the stratum size in and crossed
        // 2⁶³ at the x10 corpus — the moment combination rides
        // DECIMAL(38,0)/HUGEINT while the shuffled sums stay BIGINT
        (sqrt((col("n_h").cast(dec38) * col("s2")
          - col("s1").cast(dec38) * col("s1"))
          .cast("double")) / col("n_h").cast("double") / lit(1e3))
          .as("sd"))
      .withColumn("mass", col("n_h").cast("double") * col("sd"))
    // tmass folds the ≤5 stratum masses in SORTED (event_type) order —
    // an unordered double sum() would be engine-order-dependent in the
    // last ulp, and a flipped ulp here could flip an integer allocation
    // at a floor/remainder boundary
    val tot = m.agg(expr(
      """aggregate(transform(array_sort(collect_list(
        |  struct(event_type, mass))), s -> s.mass), 0D, (a, x) -> a + x)"""
        .stripMargin).as("tmass"))
    val ideal = m.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_h"), col("sd"),
        (lit(budget.toDouble) * (col("mass") / col("tmass"))).as("ideal"))
      .withColumn("n_floor", floor(col("ideal")).cast("long"))
      .withColumn("rem", col("ideal") - col("n_floor").cast("double"))
    val leftover = ideal.agg((lit(budget) - sum(col("n_floor"))).as("lo"))
    val w = Window.orderBy(col("rem").desc, col("event_type"))
    ideal.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(w))
      .select(col("event_type"), col("n_h"), col("sd").cast("float").as("sd"),
        col("ideal").cast("float").as("ideal"),
        (col("n_floor") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
          .as("n_alloc"))
      .orderBy(col("event_type"))
  }
}
