package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, TokenHash}
import graft.schema.Schemas.table

/** Driver-round-16 pins: the shared substring-window census (r15
  * verdict #1 — exact/multiscale/maximal must trigger ONE tokenize
  * pass per (session, corpus, width set)) and its output parity with
  * the pre-index inline formulas. */
class DriverRound16Spec extends SparkSpec {

  test("substring family shares ONE window-census build: exact + " +
      "multiscale + maximal trigger exactly one tokenize pass " +
      "(the ModelStore `trains` discipline)") {
    graft.schema.IndexCache.clear()
    val b0 = Dedup.censusBuilds.get()
    Dedup.dedupExactSubstring(spark, sf).count()
    Dedup.dedupSubstringMultiscale(spark, sf).count()
    Dedup.dedupSubstringMaximal(spark, sf).count()
    assert(Dedup.censusBuilds.get() == b0 + 1,
      s"expected 1 census build, got ${Dedup.censusBuilds.get() - b0}")
    // warm repeats stay probes
    Dedup.dedupExactSubstring(spark, sf).count()
    Dedup.dedupSubstringMaximal(spark, sf).count()
    assert(Dedup.censusBuilds.get() == b0 + 1)
  }

  test("dedup_exact_substring from the shared census is row-identical " +
      "to the direct one-pass formula (the r15 shape)") {
    val direct = {
      val docs = TokenHash.withPlantedNearDups(table(spark, sf, "documents"))
        .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
      docs
        .select(col("doc_id"),
          explode(TokenHash.shinglesFromTokens(col("toks"), 8)).as("win"))
        .select(col("doc_id"), TokenHash.hash60(col("win")).as("h"))
        .groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("h"))
    }
    val got = Dedup.dedupExactSubstring(spark, sf)
    assert(got.columns.toSeq == direct.columns.toSeq)
    assert(got.collect().toSeq == direct.collect().toSeq)
    assert(got.count() > 0, "planted near-dups must surface repeated spans")
  }

  test("dedup_substring_maximal from the shared index is row-identical " +
      "to the direct posexplode formula (the r15 shape)") {
    import org.apache.spark.sql.expressions.Window
    val direct = {
      val docs = TokenHash.withPlantedNearDups(table(spark, sf, "documents"))
        .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 8)
      val wins = docs
        .select(col("doc_id"),
          posexplode(TokenHash.shinglesFromTokens(col("toks"), 8))
            .as(Seq("p", "win")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("i"),
          TokenHash.hash60(col("win")).as("h"))
      val repeated = wins.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("h"))
      val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      wins.join(repeated, Seq("h"), "left_semi")
        .withColumn("grp", col("i") - row_number().over(wdoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("i")).as("start_pos"), count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("start_pos"),
          (col("n_windows") + lit(7L)).as("span_len"))
        .orderBy(col("doc_id"), col("start_pos"))
    }
    val got = Dedup.dedupSubstringMaximal(spark, sf)
    assert(got.columns.toSeq == direct.columns.toSeq)
    assert(got.collect().toSeq == direct.collect().toSeq)
    assert(got.count() > 0)
  }

  test("ts_theil_sen exact regime (k <= exactHoursMax) matches the r15 " +
      "pairwise-join + global-rank formula bit for bit") {
    import org.apache.spark.sql.expressions.Window
    val hourly = graft.schema.Schemas.events(spark, sf)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
    val pairs = hourly.as("a").join(broadcast(hourly.as("b")),
        col("a.h") < col("b.h"))
      .select(col("a.h").as("hi"), col("b.h").as("hj"),
        ((col("b.v6") - col("a.v6")).cast("double")
          / ((col("b.h") - col("a.h")) * lit(1000000L)).cast("double"))
          .as("slope"))
    val tot = pairs.agg(count(lit(1)).as("n_pairs"))
    val direct = pairs
      .withColumn("rk", row_number().over(Window.orderBy(
        col("slope"), col("hi"), col("hj"))))
      .crossJoin(broadcast(tot))
      .filter(col("rk") === expr("(n_pairs + 1) DIV 2"))
      .crossJoin(broadcast(hourly.agg(count(lit(1)).as("n_points"))))
      .select(col("n_points"), col("n_pairs"),
        col("slope").cast("float").as("theil_sen_slope"))
      .collect()
    val got = graft.query.stats.TimeSeries.tsTheilSen(spark, sf).collect()
    assert(got.toSeq == direct.toSeq)
  }

  test("ts_theil_sen above the gate runs the deterministic sampled-pair " +
      "Sen in bounded time (100k hours would be 5e9 exact pairs)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("theilsen100k").toString
    val k = 100000
    // one event per hour, exactly linear value = 0.5 * hour_index:
    // every pairwise slope is 0.5, so any pair sample's median is 0.5
    spark.range(k.toLong)
      .select(col("id").as("event_id"),
        timestamp_micros(col("id") * lit(3600000000L)).as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"),
        (col("id").cast("double") * 0.5).as("value"),
        lit("{}").as("props"))
      .coalesce(4).write.mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    val t0 = System.nanoTime()
    val r1 = graft.query.stats.TimeSeries.tsTheilSen(spark, tmp).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r1.length == 1)
    assert(r1(0).getLong(0) == k.toLong, s"n_points ${r1(0).getLong(0)}")
    val nPairs = r1(0).getLong(1)
    assert(nPairs > 0 && nPairs <= 20000L,
      s"sampled regime must report the sampled-slope count, got $nPairs")
    assert(math.abs(r1(0).getFloat(2) - 0.5f) < 1e-6f)
    assert(secs < 120.0, s"sampled path took $secs s")
    // deterministic: same corpus, same sample, same bits
    val r2 = graft.query.stats.TimeSeries.tsTheilSen(spark, tmp).collect()
    assert(r1.toSeq == r2.toSeq)
  }

  test("stream_alert_debounce drain equals the batch debounce row for " +
      "row (the Kalman batch-equivalence contract on alerting)") {
    val batch = graft.query.stats.Anomaly.anomalyAlertDebounce(spark, sf)
      .collect()
    val stream = graft.streaming.StreamQueries
      .streamAlertDebounce(spark, sf).collect()
    assert(batch.nonEmpty, "batch debounce emitted no alerts at sf0.001")
    assert(stream.toSeq == batch.toSeq)
  }

  test("ModelStore.dirKey separates tok-colliding dataset dirs (eviction " +
      "can never sweep a sibling dataset's live model tree)") {
    val a = "/data/x/1"; val b = "/data/x_1"
    // the lossy token alone collides — the failure mode r15 advice #1
    // flagged: evictSuperseded would delete the other dataset's tree
    val lossy = (s: String) => s.replaceAll("[^A-Za-z0-9.@-]", "_")
    assert(lossy(a) == lossy(b))
    assert(graft.ml.ModelStore.dirKey(a) != graft.ml.ModelStore.dirKey(b))
    // determinism: the key is a pure function of the raw dir string
    assert(graft.ml.ModelStore.dirKey(a) == graft.ml.ModelStore.dirKey(a))
  }

  test("a non-family width falls back to its own cached pass (no " +
      "cross-width contamination of the shared index)") {
    graft.schema.IndexCache.clear()
    val b0 = Dedup.censusBuilds.get()
    val w9 = Dedup.dedupExactSubstring(spark, sf, windowTokens = 9)
    assert(w9.count() > 0)
    assert(Dedup.censusBuilds.get() == b0 + 1)
    // the family widths still build their own (second) index
    Dedup.dedupSubstringMultiscale(spark, sf).count()
    assert(Dedup.censusBuilds.get() == b0 + 2)
  }
}
