package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, StructField, StructType}
import graft.ingest.{FileJsonTransport, Replay}
import graft.ml.{ModelStore, Trainer}
import graft.schema.Schemas

/** Driver-round-15 pins: the S14 on-disk importances artifact (the
  * compose startup sentinel), the fingerprint-keyed model-store
  * eviction, and the SURVEY §1.2 schema-inference agreement test. */
class DriverRound15Spec extends SparkSpec {

  test("S14: training writes model_<v>_rf_feature_importances.json beside " +
      "the model dir — sorted desc, the 19 feature keys, sum ≈ 1 " +
      "(spark_trainer.py:87-99; docker-compose.yml:99 gates on it)") {
    graft.schema.IndexCache.clear()
    val modelPath = new java.io.File(ModelStore.persistedPath(sf, 1))
    val art = new java.io.File(ModelStore.importancesPath(sf, 1))
    // force a COLD store so THIS call performs the artifact write
    org.apache.commons.io.FileUtils.deleteQuietly(modelPath)
    org.apache.commons.io.FileUtils.deleteQuietly(art)
    val m = ModelStore.forDir(spark, sf, 1)
    assert(art.exists(), s"importances artifact missing at $art")
    assert(art.getName == "model_1_rf_feature_importances.json")
    // same directory as the model dir (the reference MODELS_DIR layout)
    assert(art.getParentFile.getCanonicalPath
      == modelPath.getParentFile.getCanonicalPath)
    val txt = Files.readString(art.toPath)
    val kv = """"([A-Za-z]+)"\s*:\s*([-+0-9.eE]+)""".r
      .findAllMatchIn(txt).map(g => g.group(1) -> g.group(2).toDouble).toSeq
    assert(kv.map(_._1).toSet == Schemas.featureCols.toSet,
      s"artifact keys ${kv.map(_._1)} != 19 feature cols")
    assert(kv.size == 19)
    val vals = kv.map(_._2)
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b },
      s"artifact values not sorted descending: $vals")
    assert(math.abs(vals.sum - 1.0) < 1e-6, s"importances sum ${vals.sum}")
    // content parity with the in-memory M5 map (the oracle the specs pin)
    val mem = Trainer.featureImportances(m).toMap
    kv.foreach { case (n, v) =>
      assert(math.abs(mem(n) - v) < 1e-12, s"$n: artifact $v vs model ${mem(n)}")
    }
    // warm-store restart (the compose sentinel's premise): artifact still
    // present, no retrain, no rewrite needed
    graft.schema.IndexCache.clear()
    val t0 = ModelStore.trains.get()
    ModelStore.forDir(spark, sf, 1)
    assert(ModelStore.trains.get() == t0 && art.exists())
  }

  test("ModelStore evicts superseded fingerprint generations of the same " +
      "dataset dir (regenerated corpora must not accumulate stale model " +
      "trees in tmpdir)") {
    graft.schema.IndexCache.clear()
    val current = new java.io.File(ModelStore.modelsDir(sf))
    // a fake model tree from a superseded generation of the SAME dir
    val stale = new java.io.File(current.getParentFile,
      current.getName.split("__")(0) + "__0@0")
    stale.mkdirs()
    Files.writeString(new java.io.File(stale, "junk").toPath, "x")
    // and one from a DIFFERENT dataset dir — must survive
    val other = new java.io.File(current.getParentFile, "otherdir__1@1")
    other.mkdirs()
    // force a cold store so the eviction path runs
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(ModelStore.persistedPath(sf, 1)))
    ModelStore.forDir(spark, sf, 1)
    assert(!stale.exists(), s"superseded generation $stale not evicted")
    assert(other.exists(), "eviction must not touch other datasets' models")
    org.apache.commons.io.FileUtils.deleteQuietly(other)
    (): Unit
  }

  test("dedup_substring_maximal: a planted 23-token cross-doc span is " +
      "reported at its EXACT length and start in both docs; intra-doc " +
      "repeats are excluded; no other spans appear") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("maxspan").toString
    val shared = (1 to 23).map(i => s"shared$i").mkString(" ")
    val block = (1 to 10).map(i => s"block$i").mkString(" ")
    Seq(
      (100L, s"pre100a pre100b pre100c $shared suf100a suf100b"),
      (101L, s"p101a p101b p101c p101d p101e $shared s101a s101b s101c s101d"),
      // intra-doc repeat only: 1 distinct doc — must NOT surface
      (102L, s"$block mid102a mid102b $block tail102"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.query.Dedup.dedupSubstringMaximal(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 100: shared occupies tokens 4..26 → covered windows 4..19
    // (16 of them) → span_len 16 + 7 = 23, start 4; doc 101: tokens
    // 6..28 → start 6, len 23. Exact lengths, not a [16, 32) class.
    assert(rows == Seq((100L, 4L, 23L), (101L, 6L, 23L)), rows.toString)
  }

  test("stream_eval_ece drains to the batch eval_ece row (shared epilogue, " +
      "exact per-bin sums)") {
    val s = graft.streaming.StreamQueries.streamEvalEce(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = graft.query.ml.Calibration.evalEce(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(s.nonEmpty && s == b, s"stream $s vs batch $b")
  }

  test("stream_drift_psi drains to the batch drift_psi_value panel row " +
      "for row (panel-derived totals equal the batch head's)") {
    val s = graft.streaming.StreamQueries.streamDriftPsi(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = graft.query.stats.Drift.driftPsiValue(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(s.nonEmpty && s == b, s"stream $s vs batch $b")
  }

  test("eval_icc: real item structure detected (msr > mse), rater bias " +
      "detected (msc > mse), and ICC(2,1) < ICC(2,k) both in (0,1)") {
    val r = graft.query.ml.Agreement.evalIcc(spark, sf).head()
    val (msr, msc, mse) = (r.getFloat(2), r.getFloat(3), r.getFloat(4))
    val (icc1, icck) = (r.getFloat(5), r.getFloat(6))
    assert(msr > mse, s"msr $msr must exceed mse $mse (latent item effect)")
    assert(msc > mse, s"msc $msc must exceed mse $mse (rater bias +j)")
    assert(icc1 > 0f && icc1 < 1f, s"icc2_1 $icc1")
    assert(icck > icc1 && icck < 1f,
      s"average-of-k reliability must exceed single-rater: $icck vs $icc1")
  }

  test("ts_theil_sen equals an independently re-derived median of all " +
      "pairwise hourly slopes") {
    val got = graft.query.stats.TimeSeries.tsTheilSen(spark, sf).head()
    val hourly = graft.schema.Schemas.events(spark, sf)
      .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
      .agg(sum(round(col("value") * lit(1e6)).cast("long")).as("v6"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val slopes = for {
      i <- hourly.indices; j <- (i + 1) until hourly.length
    } yield ((hourly(j)._2 - hourly(i)._2).toDouble
        / ((hourly(j)._1 - hourly(i)._1) * 1000000L).toDouble,
      hourly(i)._1, hourly(j)._1)
    val sorted = slopes.sortBy(s => (s._1, s._2, s._3))
    val pick = sorted(((sorted.length + 1) / 2) - 1)._1
    assert(got.getLong(0) == hourly.length.toLong)
    assert(got.getLong(1) == slopes.length.toLong)
    assert(got.getFloat(2) == pick.toFloat,
      s"slope ${got.getFloat(2)} vs re-derived $pick")
  }

  test("multimodal_image_resize: dims fit the 8-box (aspect preserved, " +
      "never upscaled), and the resized sums obey the watermark " +
      "containment law against an independent full-res decode") {
    import graft.query.Multimodal
    val rows = Multimodal.multimodalImageResize(spark, sf).collect()
    assert(rows.length > 100)
    rows.take(30).foreach { r =>
      val (id, w, h) = (r.getLong(0), r.getInt(1), r.getInt(2))
      val (ow, oh) = (r.getInt(3), r.getInt(4))
      assert(ow <= 8 && oh <= 8 && ow <= w && oh <= h, r.toString)
      // independent check: decode full-res, read base (1,1) + wm (0,0)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.synthesizePng(id)))
      val base = img.getRGB(1, 1); val wm = img.getRGB(0, 0)
      def ch(rgb: Int, s: Int) = (rgb >> s) & 0xff
      val n = ow.toLong * oh
      assert(r.getLong(5) == ch(base, 16) * (n - 1) + ch(wm, 16), s"r $id")
      assert(r.getLong(6) == ch(base, 8) * (n - 1) + ch(wm, 8), s"g $id")
      assert(r.getLong(7) == ch(base, 0) * (n - 1) + ch(wm, 0), s"b $id")
    }
  }

  test("stream_dq_benford drains to the batch dq_benford_law panel row " +
      "for row (shared chi-square epilogue)") {
    val s = graft.streaming.StreamQueries.streamDqBenford(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = graft.query.stats.Quality.dqBenfordLaw(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(s.nonEmpty && s == b, s"stream $s vs batch $b")
  }

  test("TwoLevel.ntileFromRank equals native ntile(5) for every rank at " +
      "many group sizes (the integral-division fill rule, exhaustively)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ns = Seq(1, 2, 3, 4, 5, 6, 7, 9, 10, 11, 23, 40, 101, 1003)
    val df = ns.flatMap(n => (1 to n).map(i => (n.toLong, i.toLong)))
      .toDF("n", "r")
    val w = Window.partitionBy(col("n")).orderBy(col("r"))
    val bad = df
      .withColumn("native", ntile(5).over(w))
      .withColumn("derived",
        graft.query.TwoLevel.ntileFromRank(col("r"), col("n"), 5))
      .filter(col("native") =!= col("derived"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString(", "))
  }

  test("freeCheckpoint releases localCheckpoint RDD blocks — plain " +
      "Dataset.unpersist is the documented no-op on them") {
    val sc = spark.sparkContext
    def live = sc.getPersistentRDDs.size
    val before = live
    val df = spark.range(1000).toDF("x").localCheckpoint(true)
    assert(live == before + 1, "localCheckpoint must register RDD blocks")
    df.unpersist(blocking = true)
    assert(live == before + 1,
      "Dataset.unpersist unexpectedly released checkpoint blocks — " +
        "freeCheckpoint may be removable")
    graft.query.TextAnalysis.freeCheckpoint(df)
    assert(live == before, "freeCheckpoint must release the blocks")
  }

  test("S8: schema inference over the replayed JSON stream agrees with the " +
      "declared trip StructType modulo the documented all-float coercion " +
      "(consumer.py:51-52 infers from the first message's keys)") {
    val tmp = Files.createTempDirectory("s8-infer").toString
    // a 25-numeric-column + 1 passthrough trip CSV, fully populated
    val cols = Schemas.numericCols :+ "Note"
    val sb = new StringBuilder(cols.mkString(",") + "\n")
    (0 until 50).foreach { i =>
      sb.append(Schemas.numericCols.indices
        .map(j => ((i * 7 + j) % 100).toString).mkString(","))
      sb.append(s",note$i\n")
    }
    Files.writeString(java.nio.file.Paths.get(tmp, "trips.csv"), sb.toString)
    val replayed = Replay.replay(spark, s"$tmp/trips.csv", cols,
      Schemas.numericCols, maxRows = 50)
    val transport = new FileJsonTransport(s"$tmp/topic")
    transport.publish(replayed)
    // the consumer-side inference: read the topic's JSON values with
    // schema inference (the first-record key-inspection analog)
    val inferred = spark.read.json(s"$tmp/topic").schema
    // (1) the inferred field NAME SET is exactly the declared one — no
    // column is lost or invented by the JSON round trip
    assert(inferred.fieldNames.toSet == cols.toSet,
      s"inferred ${inferred.fieldNames.toSeq.sorted} != declared $cols")
    // (2) every declared numeric column inferred as a NUMERIC type, and
    // the documented all-float coercion maps it to the declared field;
    // field ORDER is the declared schema's prerogative (JSON inference
    // sorts names; consumer.py takes first-message key order) — the
    // engine replaces order-inference with the explicit StructType
    val coerced = StructType(Schemas.numericCols.map { c =>
      val f = inferred(c)
      assert(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$c inferred as ${f.dataType}, not numeric")
      StructField(c, FloatType, nullable = true)
    })
    assert(coerced == Schemas.trip25,
      "coerced inferred schema != declared trip25")
    // (3) and the values agree: the declared-schema read equals the
    // inferred read after the coercion, row for row
    val declaredRead = transport.sourceBatch(spark)
      .select(from_json(col("value"), Schemas.trip25).as("r"))
      .select(Schemas.numericCols.map(c => col(s"r.$c")): _*)
      .orderBy(col(Schemas.label), col("Distance"), col("Temp"))
      .collect().map(_.toSeq)
    val inferredRead = spark.read.json(s"$tmp/topic")
      .select(Schemas.numericCols.map(c => col(c).cast("float").as(c)): _*)
      .orderBy(col(Schemas.label), col("Distance"), col("Temp"))
      .collect().map(_.toSeq)
    assert(declaredRead.toSeq == inferredRead.toSeq,
      "declared-schema read and coerced inferred read disagree")
  }
}
