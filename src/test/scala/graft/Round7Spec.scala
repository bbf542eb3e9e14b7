package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, TokenHash, Warehouse}
import graft.schema.Schemas.table

/** Round-7 additions: delta-vs-corpus near-dup over the shared MinHash
  * band index, and the widened warehouse suite (Q7/Q12/Q18/Q19/Q22
  * shapes) cross-checked against independent brute-force
  * formulations. */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  test("dedup_incremental_minhash: statuses derive from the full verified pair list") {
    // ground truth: the oracle-verified full-corpus near-pair list
    // (doc_a < doc_b, jaccard >= 0.5) restricted to delta involvement
    val pairs = Dedup.dedupMinhashLsh(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val links = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val expectNc = links.filter { case (d, m) => d % 5 == 0 && m % 5 != 0 }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expectNb = links.filter { case (d, m) =>
      d % 5 == 0 && m % 5 == 0 && m < d }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val out = Dedup.dedupIncrementalMinhash(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    // output covers exactly the delta docs (including planted ids % 5 = 0)
    val deltaIds = TokenHash.withPlantedNearDups(
        graft.schema.Schemas.table(spark, sf, "documents"))
      .filter($"doc_id" % 5 === 0).select($"doc_id")
      .as[Long].collect().toSet
    assert(out.map(_._1).toSet == deltaIds)
    out.foreach { case (id, status, nc, nb) =>
      assert(nc == expectNc.getOrElse(id, 0L), s"doc $id nc")
      assert(nb == expectNb.getOrElse(id, 0L), s"doc $id nb")
      val want =
        if (nc > 0) "near_dup_of_corpus"
        else if (nb > 0) "near_dup_in_batch"
        else "new"
      assert(status == want, s"doc $id status=$status want=$want")
    }
    // the planted-dup construction guarantees non-degenerate output:
    // planted copies with id % 5 = 0 match their original in the batch
    assert(out.exists(_._2 != "new"), "no near-dup found in delta")
  }

  test("dedup_incremental_minhash: probe reuses the persisted signature index (no rebuild)") {
    // warm the shared index via the full-corpus query, then check the
    // incremental probe's plan reads an InMemoryTableScan (the persisted
    // signature index), not a fresh minhash projection over documents
    Dedup.dedupMinhashLsh(spark, sf).count()
    val p = Dedup.dedupIncrementalMinhash(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p.take(4000))
  }

  test("sql_nation_volume_shipping: pair-restricted, both directions, never same nation") {
    val out = Warehouse.sqlNationVolumeShipping(spark, sf)
      .as[(String, String, Int, Long)].collect()
    assert(out.forall(r => r._1 != r._2))
    assert(out.forall(r =>
      Set("NATION_1", "NATION_2").contains(r._1) &&
      Set("NATION_1", "NATION_2").contains(r._2)))
    assert(out.forall(_._4 >= 0))
    // total matches an independent unrestricted recomputation
    val brute = table(spark, sf, "lineitem")
      .join(table(spark, sf, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(table(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(table(spark, sf, "customer"), $"o_custkey" === $"c_custkey")
      .filter($"s_nationkey".isin(1, 2) && $"c_nationkey".isin(1, 2) &&
        $"s_nationkey" =!= $"c_nationkey")
      .select((round($"l_extendedprice" * 100).cast("long") *
        (lit(100L) - round($"l_discount" * 100).cast("long"))).as("s4"))
      .agg(coalesce(sum($"s4"), lit(0L))).as[Long].collect()(0)
    assert(out.map(_._4).sum == brute)
  }

  test("sql_priority_linestatus: high+low = all year lines per status") {
    val out = Warehouse.sqlPriorityLinestatus(spark, sf)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val byStatus = table(spark, sf, "lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .groupBy($"l_linestatus").count()
      .as[(String, Long)].collect().toMap
    byStatus.foreach { case (st, n) =>
      val (_, hi, lo) = out(st)
      assert(hi + lo == n, s"$st hi=$hi lo=$lo n=$n")
    }
  }

  test("sql_large_volume_customer: every row's order total exceeds threshold; set complete") {
    val out = Warehouse.sqlLargeVolumeCustomer(spark, sf)
      .as[(String, Long, Long, java.sql.Timestamp, Long)].collect()
    assert(out.forall(_._5 > 300L))
    val want = table(spark, sf, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum(round($"l_quantity").cast("long")).as("tq"))
      .filter($"tq" > 300L).count()
    assert(out.length == math.min(want, 100L), s"got ${out.length} want $want")
  }

  test("sql_disjunctive_revenue: equals the sum of the three bands computed separately") {
    val row = Warehouse.sqlDisjunctiveRevenue(spark, sf).collect()(0)
    val li = table(spark, sf, "lineitem")
      .join(table(spark, sf, "part"), $"l_partkey" === $"p_partkey")
      .select($"p_brand", round($"l_quantity").cast("long").as("q"),
        (round($"l_extendedprice" * 100).cast("long") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("s4"))
    val bands = Seq(("Brand#1", 1L, 11L), ("Brand#2", 10L, 20L),
      ("Brand#3", 20L, 30L))
    val parts = bands.map { case (b, lo, hi) =>
      li.filter($"p_brand" === b && $"q".between(lo, hi))
        .agg(coalesce(sum($"s4"), lit(0L)), count(lit(1)))
        .as[(Long, Long)].collect()(0)
    }
    assert(row.getAs[Long]("revenue_s4") == parts.map(_._1).sum)
    assert(row.getAs[Long]("n_items") == parts.map(_._2).sum)
  }

  test("ann_pq_adc_topk: matches a from-scratch Scala ADC model (codebook, LUT, ranking)") {
    import graft.query.Similarity
    // independent model: md5-derived codebook, HALF_UP int8 quantization,
    // integer L1 code assignment, LUT-summed asymmetric distances
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def cw(m: Int, k: Int, d: Int): Int =
      (h60(s"pq:$m:$k:$d") % 256L - 128L).toInt
    def quant(emb: Seq[Float]): Option[Array[Int]] = {
      val amax = emb.map(x => math.abs(x.toDouble)).max
      if (amax <= 0) None
      else Some(emb.map(x => BigDecimal(x.toDouble * (127.0 / amax))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt).toArray)
    }
    val embs = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val qv = quant(embs.find(_._1 == 0L).get._2).get
    val lut = Array.tabulate(8, 16) { (m, k) =>
      (0 until 8).map(d => math.abs(qv(m * 8 + d) - cw(m, k, d)).toLong).sum
    }
    val expected = embs.flatMap { case (id, emb) =>
      quant(emb).map { v =>
        val dist = (0 until 8).map { m =>
          val best = (0 until 16).map { k =>
            ((0 until 8).map(d =>
              math.abs(v(m * 8 + d) - cw(m, k, d)).toLong).sum, k)
          }.min // (dist, k) — smallest dist, then smallest codeword
          lut(m)(best._2)
        }.sum
        (id, dist)
      }
    }.sortBy { case (id, d) => (d, id) }.take(10).toSeq
    val got = Similarity.annPqAdcTopk(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("multimodal_embed_knn: top-k matches Scala brute force over stub features") {
    import graft.query.Multimodal
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def feat(text: String, seed: Int): Double =
      (java.lang.Long.parseLong(
        md5hex(s"$text:$seed").substring(0, 15), 16) % 1000000L) / 1000000.0
    val docs = table(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val q = docs.find(_._1 == 0L).map(d =>
      Array.tabulate(4)(feat(d._2, _))).get
    val expected = docs.filter(_._1 != 0L).map { case (id, text) =>
      val f = Array.tabulate(4)(feat(text, _))
      (id, f(0) * q(0) + f(1) * q(1) + f(2) * q(2) + f(3) * q(3))
    }.sortBy { case (id, sim) => (-sim, id) }.take(10).toSeq
    val got = Multimodal.multimodalEmbedKnn(spark, sf)
      .as[(Long, Double)].collect().toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("source formats: ORC and JSONL copies agree with the parquet originals") {
    import graft.ingest.Formats
    val orc = Formats.orcSourceAgg(spark, sf).as[(String, Long, Long)].collect()
    val orcWant = table(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)), sum(round($"o_totalprice" * 100).cast("long")))
      .orderBy($"o_orderpriority")
      .as[(String, Long, Long)].collect()
    assert(orc.toSeq == orcWant.toSeq)
    val jl = Formats.jsonlSourceAgg(spark, sf).as[(String, Long, Long)].collect()
    val jlWant = table(spark, sf, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)), sum(round($"c_acctbal" * 100).cast("long")))
      .orderBy($"c_mktsegment")
      .as[(String, Long, Long)].collect()
    assert(jl.toSeq == jlWant.toSeq)
    // the date predicate reaches the ORC reader
    val p = Formats.orcSourceAgg(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("sql_market_share: share recomputes from the exact parts; parts bound each other") {
    val out = Warehouse.sqlMarketShare(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nat = r.getAs[Long]("nation_s4")
      val tot = r.getAs[Long]("total_s4")
      val share = r.getAs[Double]("mkt_share")
      assert(nat >= 0 && nat <= tot)
      assert(share == nat.toDouble / tot.toDouble)
    }
  }

  test("sql_returned_top_customers: equals brute-force argmax over returned revenue") {
    val out = Warehouse.sqlReturnedTopCustomers(spark, sf)
      .as[(Long, String, String, Long)].collect()
    assert(out.length <= 20)
    val brute = table(spark, sf, "lineitem")
      .filter($"l_returnflag" === "R")
      .join(table(spark, sf, "orders")
          .filter($"o_orderdate" >= lit("1997-07-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-10-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum(round($"l_extendedprice" * 100).cast("long") *
        (lit(100L) - round($"l_discount" * 100).cast("long"))).as("r"))
      .as[(Long, Long)].collect()
      .sortBy { case (ck, r) => (-r, ck) }.take(20)
    assert(out.map(r => (r._1, r._4)).toSeq == brute.toSeq)
  }

  test("plan: new warehouse queries broadcast dimensions and push filters") {
    val disj = Warehouse.sqlDisjunctiveRevenue(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the common quantity envelope reaches the scan; part broadcasts
    assert(disj.contains("BroadcastHashJoin"), disj)
    val ret = Warehouse.sqlReturnedTopCustomers(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ret.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || ret.contains("EqualTo(l_returnflag,R)"), ret)
    assert(ret.contains("TakeOrderedAndProject"), ret)
    val opp = Warehouse.sqlSalesOpportunity(spark, sf)
      .queryExecution.executedPlan.toString
    // anti-join on ids only, date filter pushed to the orders scan
    assert(opp.contains("LeftAnti"), opp.take(4000))
    val lvc = Warehouse.sqlLargeVolumeCustomer(spark, sf)
      .queryExecution.executedPlan.toString
    // aggregate-then-join: the orderkey aggregate sits below the joins
    assert(lvc.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("l_orderkey")), lvc.take(4000))
  }

  test("sql_sales_opportunity: members are order-less and above the positive-balance mean") {
    val out = Warehouse.sqlSalesOpportunity(spark, sf)
      .as[(Long, Long, Long)].collect()
    val cust = table(spark, sf, "customer")
      .select($"c_custkey", $"c_nationkey",
        round($"c_acctbal" * 100).cast("long").as("bal"))
      .as[(Long, Long, Long)].collect()
    val pos = cust.map(_._3).filter(_ > 0L)
    val (sumC, nPos) = (pos.sum, pos.length.toLong)
    val ordered = table(spark, sf, "orders")
      .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      .select($"o_custkey").distinct().as[Long].collect().toSet
    val expect = cust
      .filter { case (ck, _, bal) => bal * nPos > sumC && !ordered(ck) }
      .groupBy(_._2).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._3).sum)).toMap
    assert(out.length == expect.size)
    out.foreach { case (nk, n, tot) =>
      assert(expect(nk) == ((n, tot)), s"nation $nk")
    }
  }
}
