package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.query.{Dedup, Multimodal, Relational, Similarity, Warehouse}
import graft.query.stats.Sampling

class Relational3Spec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("join_bucketed: co-located SMJ — no exchange and no sort on either join input") {
    val df = Relational.joinBucketed(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
    // exchanges ABOVE the join (groupBy, final sort) are expected; the
    // join INPUTS (the tree below the SortMergeJoin node) must read the
    // bucketed files directly — no shuffle on either side
    val tree = p.indexOf("\n\n") match {
      case -1 => p
      case i => p.substring(0, i)
    }
    val belowJoin = tree.substring(tree.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"), p)
    // correctness vs the plain (unbucketed) join
    val expect = graft.schema.Schemas.table(spark, sf, "orders")
      .join(graft.schema.Schemas.table(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("float").as("sum_price"))
      .orderBy(col("c_mktsegment"))
      .collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  test("merge_upsert: action counts match key arithmetic; source wins on update") {
    val out = Warehouse.mergeUpsert(spark, sf)
      .groupBy("merge_action").count().as[(String, Long)].collect().toMap
    val keys = graft.schema.Schemas.table(spark, sf, "orders")
      .select($"o_orderkey").as[Long].collect()
    val inserted = keys.count(k => k % 3 == 0 && k % 7 == 0)
    val updated = keys.count(k => k % 3 == 0 && k % 7 != 0)
    val kept = keys.count(k => k % 7 != 0 && k % 3 != 0)
    assert(out.getOrElse("inserted", 0L) == inserted)
    assert(out.getOrElse("updated", 0L) == updated)
    assert(out.getOrElse("kept", 0L) == kept)
    // every updated/inserted row carries the source status
    val statuses = Warehouse.mergeUpsert(spark, sf)
      .filter($"merge_action" =!= "kept")
      .select($"o_orderstatus").distinct().as[String].collect().toSeq
    assert(statuses == Seq("U"))
  }

  test("window_distribution: pr/cd bounded, tile in 1..3, full-frame values constant per partition") {
    val rows = Relational.windowDistribution(spark, sf)
    val bad = rows.filter(
      $"pr" < 0 || $"pr" > 1 || $"cd" <= 0 || $"cd" > 1 ||
        $"tile" < 1 || $"tile" > 3).count()
    assert(bad == 0)
    // last_qty is a per-partition constant (full frame)
    val varying = rows.groupBy($"l_orderkey")
      .agg(countDistinct($"last_qty").as("n")).filter($"n" > 1).count()
    assert(varying == 0)
  }

  test("sample_stratified: purchases all kept, clicks subsampled below views") {
    val events = graft.schema.Schemas.events(spark, sf)
    val base = events.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val got = Sampling.sampleStratified(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(got("purchase") == base("purchase")) // rate 1
    assert(got("click") < got.getOrElse("view", Long.MaxValue))
    assert(got("click") >= base("click") / 16 && got("click") <= base("click") / 4)
    assert(got("view") >= base("view") / 8 && got("view") <= base("view") / 2)
  }

  test("dedup_cluster_stats: histogram mass equals labeled doc count") {
    val stats = Dedup.dedupClusterStats(spark, sf)
      .as[(Long, Long)].collect()
    val labeled = Dedup.dedupGroups(spark, sf).count()
    assert(stats.map { case (sz, n) => sz * n }.sum == labeled)
    assert(stats.forall(_._1 >= 2)) // a group needs at least one pair
  }

  test("f_fuzzy_match: blocked pairs only, distance bounded and symmetric base") {
    val p = graft.schema.Schemas.table(spark, sf, "part")
      .select($"p_partkey", $"p_brand", $"p_size").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val out = Relational.fuzzyNameMatch(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(a < b && d >= 0 && d <= 18)
      assert(p(a) == p(b), s"pair ($a,$b) crosses blocks")
    }
  }

  test("scd2_versions: contiguous versions, chaining effectivity, one current per user") {
    val rows = Warehouse.scd2Versions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (uid, vs) =>
      val sorted = vs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to vs.length), s"user $uid")
      // consecutive versions always change the attribute
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(2) != b.getString(2), s"user $uid no-op version")
          // valid_to of one version == valid_from of the next (no gaps)
          assert(a.getTimestamp(4) == b.getTimestamp(3), s"user $uid gap")
        case _ =>
      }
      assert(sorted.count(_.getBoolean(5)) == 1, s"user $uid current count")
      assert(sorted.last.getBoolean(5) && sorted.last.isNullAt(4))
    }
  }

  test("scd2_asof_lookup: every event resolves to exactly one version with its own type") {
    val ev = graft.schema.Schemas.events(spark, sf)
      .filter($"user_id" < 20)
      .select($"event_id", $"event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val looked = Warehouse.scd2AsofLookup(spark, sf).collect()
    assert(looked.length == ev.size, "an event missed or matched >1 version")
    looked.foreach { r =>
      // the version effective at an event's timestamp carries the event's
      // own attribute value (the last change at or before it is itself or
      // an earlier equal value)
      assert(r.getString(3) == ev(r.getLong(0)), s"event ${r.getLong(0)}")
    }
  }

  test("window_distribution: ORDER BY key is unique per partition (determinism contract)") {
    // position-dependent window functions (ntile / nth_value / last_value)
    // are engine-dependent under ORDER BY ties — assert the generated data
    // honors the uniqueness the query's determinism relies on
    val li = graft.schema.Schemas.table(spark, sf, "lineitem")
    val dups = li.groupBy($"l_orderkey", $"l_linenumber", $"l_partkey",
        $"l_suppkey", $"l_quantity")
      .agg(count(lit(1)).as("n")).filter($"n" > 1).count()
    assert(dups == 0, s"$dups duplicate ORDER BY keys in lineitem")
  }

  test("f_fuzzy_match: (brand, size, length-band) block sizes stay bounded") {
    // the scale contract: blocks bound the levenshtein candidate set, so
    // block size must be O(1) in corpus size. Assert the bound on the
    // generated data (and that banding didn't merely alias the old key).
    val blocks = graft.schema.Schemas.table(spark, sf, "part")
      .groupBy($"p_brand", $"p_size",
        floor(length($"p_name") / 8).as("band"))
      .agg(count(lit(1)).as("n"))
    val maxBlock = blocks.agg(max($"n")).head().getLong(0)
    assert(maxBlock <= 8, s"max block size $maxBlock exceeds bound")
    // multi-band: the band dimension genuinely splits the name space
    val nBands = blocks.select($"band").distinct().count()
    assert(nBands >= 2, s"only $nBands length band(s) — banding is a no-op")
  }

  test("ann_lsh_topk: k rows, no query id, descending cosine, subset of probed buckets") {
    val out = Similarity.lshTopK(spark, sf).collect()
    assert(out.length == 10)
    val cosines = out.map(_.getDouble(2)).toSeq
    assert(cosines == cosines.sorted.reverse)
    assert(!out.exists(_.getLong(0) == 0L))
    // multi-probe recall sanity: the LSH top-1 is within brute-force top-k
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(bf.contains(out.head.getLong(0)))
  }

  test("multimodal_batch_decode: deterministic and batch-size invariant") {
    val a = Multimodal.multimodalBatchDecode(spark, sf).collect().toSeq
    val b = Multimodal.multimodalBatchDecode(spark, sf).collect().toSeq
    assert(a == b)
    // batching is an execution detail: batch size must not change results
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
    val small = Multimodal.decodeBatched(docs, batchSize = 7)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val large = Multimodal.decodeBatched(docs, batchSize = 512)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(small == large)
  }
}
