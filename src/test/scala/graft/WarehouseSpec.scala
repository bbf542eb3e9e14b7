package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.query.{Dedup, Graph, TextAnalysis, Warehouse}
import graft.query.stats.Quality
import graft.schema.Schemas.table

/** Round-6 suites: warehouse (TPC-H-derived) queries cross-checked
  * against independent brute-force formulations, and the corpus-shaping
  * operators checked against single-window recomputations (fine at test
  * SF; the operators themselves avoid those shapes).
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("sql_order_priority: semi-join counts equal distinct-join brute force") {
    val got = Warehouse.sqlOrderPriority(spark, sf)
      .as[(String, Long)].collect().toMap
    val o = table(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-07-01").cast("timestamp"))
    val r = table(spark, sf, "lineitem")
      .filter($"l_returnflag" === "R").select($"l_orderkey").distinct()
    val brute = o.join(r, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("sql_local_supplier_volume: region restricted, exact scaled longs, co-nation holds") {
    val out = Warehouse.sqlLocalSupplierVolume(spark, sf).cache()
    val asiaNations = table(spark, sf, "nation")
      .join(table(spark, sf, "region").filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_name").as[String].collect().toSet
    val names = out.select($"n_name").as[String].collect().toSet
    assert(names.subsetOf(asiaNations), s"$names not in $asiaNations")
    assert(out.filter($"revenue_s4" < 0).count() == 0)
    // the scaled-long sum equals the exact decimal sum × 10 000
    val dec = table(spark, sf, "lineitem")
      .join(table(spark, sf, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1998-01-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .join(table(spark, sf, "customer"), $"o_custkey" === $"c_custkey")
      .join(table(spark, sf, "supplier"),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(table(spark, sf, "nation"), $"s_nationkey" === $"n_nationkey")
      .join(table(spark, sf, "region").filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(18,4)")).as("rev_dec"))
      .as[(String, java.math.BigDecimal)].collect().toMap
    Warehouse.sqlLocalSupplierVolume(spark, sf)
      .as[(String, Long)].collect().foreach { case (n, s4) =>
        val want = dec(n).multiply(new java.math.BigDecimal(10000))
        assert(want.compareTo(new java.math.BigDecimal(s4)) == 0,
          s"$n scaled=$s4 dec=${dec(n)}")
      }
  }

  test("sql_forecast_revenue: matches direct filtered sum") {
    val row = Warehouse.sqlForecastRevenue(spark, sf).collect()(0)
    val li = table(spark, sf, "lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
        $"l_quantity" < 24.0)
    val n = li.count()
    assert(row.getAs[Long]("n_items") == n)
    val s = li.select(sum(($"l_extendedprice" * $"l_discount")
      .cast("decimal(18,4)")).cast("decimal(28,4)")).collect()(0).getDecimal(0)
    assert(row.getAs[java.math.BigDecimal]("revenue") == s)
  }

  test("sql_cust_order_dist: distribution masses add up to customers and orders") {
    val out = Warehouse.sqlCustOrderDist(spark, sf)
      .as[(Long, Long)].collect()
    val nCust = table(spark, sf, "customer").count()
    assert(out.map(_._2).sum == nCust)
    val nOrd = table(spark, sf, "orders")
      .filter($"o_orderpriority" =!= "5-LOW")
      .join(table(spark, sf, "customer"),
        $"o_custkey" === $"c_custkey", "left_semi").count()
    assert(out.map { case (k, d) => k * d }.sum == nOrd)
  }

  test("plan: sql_cust_order_dist aggregates orders BELOW the customer join") {
    val p = Warehouse.sqlCustOrderDist(spark, sf)
      .queryExecution.executedPlan.toString
    // the per-custkey count happens on the orders side BEFORE the left
    // outer join: a HashAggregate keyed on o_custkey exists only in the
    // aggregate-then-join shape (the join-before-aggregate plan groups
    // on c_custkey after the join)
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("o_custkey")), p)
  }

  test("sql_promo_revenue: ratio recomputes from the exact decimal parts") {
    val row = Warehouse.sqlPromoRevenue(spark, sf).collect()(0)
    val promo = row.getAs[java.math.BigDecimal]("promo_revenue")
    val total = row.getAs[java.math.BigDecimal]("total_revenue")
    val pct = row.getAs[Double]("promo_pct")
    assert(promo.compareTo(total) <= 0 && promo.signum >= 0)
    assert(pct == promo.doubleValue * 100.0 / total.doubleValue)
  }

  test("sql_top_supplier: returned revenue is the per-supplier max; argmax set exact") {
    val out = Warehouse.sqlTopSupplier(spark, sf).cache()
    val rev = table(spark, sf, "lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(18,4)")).cast("decimal(28,4)").as("r"))
      .as[(Long, java.math.BigDecimal)].collect()
    val mx = rev.map(_._2).max
    assert(out.select($"total_revenue")
      .as[java.math.BigDecimal].collect().forall(_ == mx))
    assert(out.select($"s_suppkey").as[Long].collect().toSet ==
      rev.filter(_._2 == mx).map(_._1).toSet)
  }

  test("sql_small_qty_revenue: matches window-avg brute force") {
    val row = Warehouse.sqlSmallQtyRevenue(spark, sf).collect()(0)
    val li = table(spark, sf, "lineitem")
      .join(table(spark, sf, "part").filter($"p_brand" === "Brand#1")
        .select($"p_partkey"), $"l_partkey" === $"p_partkey")
    val w = Window.partitionBy($"l_partkey")
    val brute = li
      .withColumn("avg_qty", sum($"l_quantity").over(w) / count(lit(1)).over(w))
      .filter($"l_quantity" < lit(0.2) * $"avg_qty")
    assert(row.getAs[Long]("n_items") == brute.count())
  }

  test("sql_sole_fault_supplier: every reported order-set satisfies exists/not-exists") {
    val li = table(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_returnflag").cache()
    // brute force via correlated formulation: returned items with at
    // least one other supplier in the order and no other returning one
    val l1 = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
    val other = li.select($"l_orderkey".as("ok2"), $"l_suppkey".as("sk2"))
      .distinct()
    val withOther = l1.join(other, $"ok" === $"ok2" && $"sk" =!= $"sk2",
        "left_semi")
    val otherR = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("ok3"), $"l_suppkey".as("sk3")).distinct()
    val sole = withOther.join(otherR,
      $"ok" === $"ok3" && $"sk" =!= $"sk3", "left_anti")
    val brute = sole.groupBy($"sk").agg(countDistinct($"ok").as("nw"))
      .join(table(spark, sf, "supplier"), $"sk" === $"s_suppkey")
      // Q21's output grain is s_name (names may collide across keys on
      // synthetic corpora; the query and oracle both aggregate the name)
      .groupBy($"s_name").agg(sum($"nw").as("numwait"))
      .orderBy($"numwait".desc, $"s_name").limit(20)
      .as[(String, Long)].collect().toSeq
    val got = Warehouse.sqlSoleFaultSupplier(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("chunk_sliding: chunk counts, sizes, and overlap structure are exact") {
    val out = TextAnalysis.chunkSliding(spark, sf).cache()
    val docs = table(spark, sf, "documents")
      .select($"doc_id", graft.query.TokenHash.tokens($"text").as("toks"))
      .select($"doc_id", size($"toks").as("n"))
      .as[(Long, Int)].collect().toMap
    val perDoc = out.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    docs.foreach { case (id, n) =>
      val expect = math.ceil(math.max(n, 1) / 16.0).toLong
      assert(perDoc(id) == expect, s"doc $id n=$n got=${perDoc(id)}")
    }
    // every chunk holds 1..32 tokens; full chunks are exactly 32
    assert(out.filter($"n_tok" < 1 || $"n_tok" > 32).count() == 0)
    // all but the trailing ≤2 chunks of a doc are full
    val partial = out.filter($"n_tok" < 32).groupBy($"doc_id").count()
      .as[(Long, Long)].collect()
    assert(partial.forall(_._2 <= 2), partial.filter(_._2 > 2).mkString(","))
  }

  test("curriculum_phases: two-level schedule equals the single-window schedule") {
    val got = TextAnalysis.curriculumPhases(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val w = Window.orderBy($"n_tok".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val brute = table(spark, sf, "documents")
      .select($"doc_id",
        size(graft.query.TokenHash.tokens($"text")).cast("long").as("n_tok"))
      .select($"doc_id", $"n_tok",
        floor((sum($"n_tok").over(w) - $"n_tok") / lit(2000.0)).as("phase"))
      .groupBy($"phase")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"),
        min($"n_tok").as("min_tok"), max($"n_tok").as("max_tok"))
      .orderBy($"phase")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("dedup_incremental: statuses partition the delta and match set logic") {
    val out = Dedup.dedupIncremental(spark, sf).cache()
    val fps = table(spark, sf, "documents")
      .select($"doc_id", md5(graft.query.TokenHash.normText($"text")).as("fp"))
      .as[(Long, String)].collect()
    val corpus = fps.filter(_._1 % 5 != 0).map(_._2).toSet
    val delta = fps.filter(_._1 % 5 == 0).sortBy(_._1)
    val firstIn = delta.groupBy(_._2).map { case (fp, xs) =>
      fp -> xs.map(_._1).min }
    val expect = delta.map { case (id, fp) =>
      val status =
        if (corpus(fp)) "dup_of_corpus"
        else if (id > firstIn(fp)) "dup_in_batch"
        else "new"
      (id, status)
    }.toMap
    val got = out.select($"doc_id", $"status")
      .as[(Long, String)].collect().toMap
    assert(got == expect)
  }

  test("path_transitions: per-prev probabilities sum to 1; pair mass = events - active users") {
    val out = Graph.pathTransitions(spark, sf).cache()
    val sums = out.groupBy($"prev_type").agg(sum($"p").as("s"))
      .as[(String, Double)].collect()
    sums.foreach { case (k, s) => assert(math.abs(s - 1.0) < 1e-9, s"$k $s") }
    val ev = graft.schema.Schemas.events(spark, sf)
    val expectPairs = ev.count() - ev.select($"user_id").distinct().count()
    assert(out.agg(sum($"n")).as[Long].collect()(0) == expectPairs)
  }

  test("winsorized_stats: thresholds are the exact k-th order statistics") {
    val got = Quality.winsorizedStats(spark, sf)
      .as[(String, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val byFlag = table(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_extendedprice")
      .as[(String, Double)].collect().groupBy(_._1)
    byFlag.foreach { case (f, rows) =>
      val ps = rows.map(_._2).sorted
      val n = ps.length
      val klo = math.max(1, math.ceil(0.05 * n).toInt)
      val khi = math.ceil(0.95 * n).toInt
      val lo = ps(klo - 1); val hi = ps(khi - 1)
      val clipped = ps.map(p => math.min(math.max(p, lo), hi))
      val wsumC = clipped.map(p => math.round(p * 100)).sum
      val (_, gw, gLo, gHi, gn) = got(f)
      assert(gn == n)
      assert(gLo == ps.count(_ < lo), s"$f lo")
      assert(gHi == ps.count(_ > hi), s"$f hi")
      assert(gw == wsumC, s"$f wsum_c $gw vs $wsumC")
    }
  }

  test("histogram_equiwidth: bins cover all orders, ids in range, recompute matches") {
    val out = Quality.histogramEquiWidth(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._2).sum == table(spark, sf, "orders").count())
    assert(out.forall(r => r._1 >= 0 && r._1 <= 19))
    val brute = table(spark, sf, "orders")
      .select($"o_totalprice").as[Double].collect()
      .groupBy(p => math.min(math.max(math.floor(p / 25000.0), 0), 19).toLong)
      .view.mapValues(_.length.toLong).toMap
    assert(out.map(r => r._1 -> r._2).toMap == brute)
  }

  test("plan: sql_forecast_revenue pushes all predicates and prunes the scan") {
    val p = plan(Warehouse.sqlForecastRevenue(spark, sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("plan: sql_local_supplier_volume broadcasts all dimensions (one big shuffle)") {
    val p = plan(Warehouse.sqlLocalSupplierVolume(spark, sf))
    assert(p.sliding("BroadcastHashJoin".length).count(
      _ == "BroadcastHashJoin") >= 3, p)
  }

  test("plan: winsorized_stats windows only over candidate buckets, thresholds broadcast") {
    val p = plan(Quality.winsorizedStats(spark, sf))
    // the clip join and the candidate join are broadcasts, not shuffles
    assert(p.sliding("BroadcastHashJoin".length).count(
      _ == "BroadcastHashJoin") >= 2, p)
  }

  test("graph_reachability: frontier-delta BFS equals the naive min-over-rounds closure") {
    val got = graft.query.Graph.graphReachability(spark, sf)
      .as[(Long, Int)].collect().toMap
    // naive reference: iterate FULL relaxation (allow revisits, take min)
    val li = table(spark, sf, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e0 = li.as("a").join(li.as("b"), Seq("ok"))
      .filter($"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
    val edges = e0.unionAll(e0.select($"v".as("u"), $"u".as("v"))).cache()
    var dist = edges.select($"u").distinct().filter($"u" <= 3)
      .select($"u", lit(0).as("d"))
    for (h <- 1 to 3) {
      dist = dist.unionAll(
        edges.join(dist.filter($"d" === h - 1), Seq("u"))
          .select($"v".as("u"), lit(h).as("d")))
        .groupBy($"u").agg(min($"d").as("d"))
    }
    val brute = dist.as[(Long, Int)].collect().toMap
    assert(got == brute, s"sizes got=${got.size} brute=${brute.size}")
  }

  test("ann_radius_search: codegen dot equals the HOF fold; radius filter exact") {
    val got = graft.query.Similarity.annRadiusSearch(spark, sf)
      .as[(Long, Double)].collect().toMap
    val emb = table(spark, sf, "embeddings")
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .head().getSeq[Float](0).toArray
    val q = array(qv.toIndexedSeq.map(lit): _*)
    val brute = emb.filter($"vec_id" =!= 0L)
      .select($"vec_id",
        graft.query.Similarity.dot($"embedding", q).as("cosine"))
      .filter($"cosine" >= 0.15)
      .as[(Long, Double)].collect().toMap
    assert(got == brute, s"sizes got=${got.size} brute=${brute.size}")
    assert(got.nonEmpty)
  }

  test("plan: chunk_sliding is map-only (only the final orderBy exchanges)") {
    // stride 17 ≠ the cached default plan, so the audit sees the raw scan
    val p = plan(TextAnalysis.chunkSliding(spark, sf, size = 32, stride = 17))
    // exactly the one (range) Exchange required by the final global orderBy
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, p)
  }
}
