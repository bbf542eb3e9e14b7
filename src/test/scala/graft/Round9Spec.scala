package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.query.{Multimodal, Similarity}

/** Round-9 hardening: the deterministic-cell IVF's contract and the
  * real (javax.imageio) multimodal decode path. */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.01"

  // ---- real image decode (javax.imageio) ---------------------------------

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("decodeImageStats: golden pixel sums for PNG and BMP fixtures") {
    // 3x2 fixture with known pixels: decode must reproduce the exact
    // per-channel sums through a genuine bytes->pixels round trip
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Seq( // (x, y, r, g, b)
      (0, 0, 255, 0, 0), (1, 0, 0, 255, 0), (2, 0, 0, 0, 255),
      (0, 1, 10, 20, 30), (1, 1, 40, 50, 60), (2, 1, 70, 80, 90))
    px.foreach { case (x, y, r, g, b) =>
      img.setRGB(x, y, (r << 16) | (g << 8) | b) }
    val wantR = px.map(_._3).sum.toLong
    val wantG = px.map(_._4).sum.toLong
    val wantB = px.map(_._5).sum.toLong
    for (fmt <- Seq("png", "bmp")) {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, baos)
      val st = Multimodal.decodeImageStats(baos.toByteArray)
        .getOrElse(fail(s"decode failed for $fmt"))
      assert((st.width, st.height) == (3, 2), fmt)
      assert((st.sum_r, st.sum_g, st.sum_b) == ((wantR, wantG, wantB)), fmt)
    }
  }

  test("decodeImageStats: corrupt and truncated payloads are row-level Nones") {
    assert(Multimodal.decodeImageStats("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageStats(Array.emptyByteArray).isEmpty)
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val truncated = pngBytes(img).take(20) // header only, body gone
    assert(Multimodal.decodeImageStats(truncated).isEmpty)
  }

  test("multimodal_image_decode: executor decode matches closed-form sums, batch-invariant") {
    val tiny = "/root/testdata/sf0.001"
    val got = Multimodal.multimodalImageDecode(spark, tiny)
      .as[(Long, Int, Int, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // closed form: base*(w*h-1) + watermark per channel
    got.foreach { case (id, w, h, sr, sg, sb) =>
      def hx(t: String) = graft.functions.SimHashImpl.hash60(
        s"$id:$t".getBytes("UTF-8"))
      assert(w == (4 + hx("iw") % 13).toInt && h == (4 + hx("ih") % 9).toInt)
      val n = w.toLong * h - 1
      assert(sr == (hx("r") % 256) * n + hx("wr") % 256, s"doc $id red")
      assert(sg == (hx("g") % 256) * n + hx("wg") % 256, s"doc $id green")
      assert(sb == (hx("b") % 256) * n + hx("wb") % 256, s"doc $id blue")
    }
    // batch size must not change results (the mapInPandas-shape contract)
    val b1 = Multimodal.multimodalImageDecode(spark, tiny, batchSize = 1)
      .as[(Long, Int, Int, Long, Long, Long)].collect().toSeq
    assert(b1 == got)
  }

  test("ann_ivf_det_topk: nProbe = nCells degenerates to exact brute-force top-k") {
    // probing every cell makes the coarse quantizer irrelevant — the
    // result must be the exact top-k, bit-for-bit
    val exact = Similarity.bruteForceTopK(spark, sf01, 3L, 10)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect().toSeq
    val full = Similarity.ivfDetTopK(spark, sf01, 3L, 10,
        nCells = 16, nProbe = 16)
      .select($"vec_id", $"cosine").as[(Long, Double)].collect().toSeq
    assert(full == exact)
  }

  test("ann_ivf_det_topk: partial probe returns only probed-cell members, recall floored") {
    // recall@10 vs brute force over an 8-query panel; deterministic
    // (hash-seeded cells), so the floor is a regression tripwire
    val qids = 0L until 8L
    val per = qids.map { qid =>
      val exact = Similarity.bruteForceTopK(spark, sf01, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val got = Similarity.ivfDetTopK(spark, sf01, qid)
        .select("vec_id").as[Long].collect().toSet
      assert(got.size == 10)
      exact.intersect(got).size / 10.0
    }
    val r = per.sum / per.size
    info(f"ivf-det recall@10 = $r%.3f")
    assert(r >= RecallFloor, f"ivf-det recall@10 regressed: $r%.3f")
  }

  // ---- superseded-generation cache eviction ------------------------------

  test("corpus regeneration unpersists the superseded signature index") {
    val dir = java.nio.file.Files.createTempDirectory("evict-sig").toString
    def write(n: Int): Unit = graft.schema.Schemas
      .table(spark, sf, "documents").limit(n)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(60)
    graft.query.Dedup.dedupMinhashLsh(spark, dir).count()
    val afterFirst = spark.sparkContext.getPersistentRDDs.size
    // regenerate twice more at the same path: each rebuild must retire
    // the previous generation's persisted blocks, so the persistent-RDD
    // census cannot grow run-over-run
    write(50)
    graft.query.Dedup.dedupMinhashLsh(spark, dir).count()
    write(40)
    graft.query.Dedup.dedupMinhashLsh(spark, dir).count()
    val afterThird = spark.sparkContext.getPersistentRDDs.size
    assert(afterThird <= afterFirst,
      s"persisted generations leaked: $afterFirst -> $afterThird")
  }

  test("corpus regeneration deletes the superseded Formats conversion") {
    val dir = java.nio.file.Files.createTempDirectory("evict-fmt").toString
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    def orcDirs(): Set[String] = {
      val walk = java.nio.file.Files.list(tmp)
      try walk.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("graft-orc-orders"))
        .toSet
      finally walk.close()
    }
    val before = orcDirs()
    def regen(n: Int): Unit = graft.schema.Schemas
      .table(spark, sf, "orders").limit(n)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    regen(100)
    graft.ingest.Formats.orcSourceAgg(spark, dir).count()
    val gen1 = orcDirs() -- before
    assert(gen1.size == 1, s"expected one conversion, got $gen1")
    regen(80)
    graft.ingest.Formats.orcSourceAgg(spark, dir).count()
    val gen2 = orcDirs() -- before
    assert(gen2.size == 1, s"superseded conversion not deleted: $gen2")
    assert(gen2 != gen1, "conversion was not rebuilt for the new corpus")
  }

  // ---- RF model-version drift golden -------------------------------------

  test("growing-window importances match the committed fingerprint (Spark-jar drift tripwire)") {
    // MlSpec proves seed-42 determinism WITHIN a build; this pins the
    // trained models ACROSS builds: a Spark/MLlib upgrade that changes
    // RF split selection would silently shift every q1/q2/q3_*_ml
    // output — this golden turns that into a test failure with a
    // re-pin instruction instead.
    val parts = (1 to graft.ml.Trainer.MaxVersions).map { v =>
      val m = graft.ml.ModelStore.forDir(spark, sf, v)
      graft.ml.Trainer.featureImportances(m)
        .map { case (name, imp) => s"$v:$name:${imp.toString}" }
        .mkString("\n")
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val goldenFile = java.nio.file.Paths.get(
      "src/test/resources/rf_importances_sf0001.md5")
    assert(java.nio.file.Files.exists(goldenFile),
      s"golden missing; computed fingerprint: $digest")
    val want = new String(java.nio.file.Files.readAllBytes(goldenFile),
      "UTF-8").trim
    assert(digest == want,
      s"RF importances drifted from the committed golden ($digest != " +
        s"$want). If the Spark jars were intentionally upgraded, re-pin " +
        "src/test/resources/rf_importances_sf0001.md5 and re-verify the " +
        "q1/q2/q3 ML goldens in ApiServerSpec/README.")
  }

  // ---- salted skew join --------------------------------------------------

  test("saltedEquiJoin: 90%-one-key fact spreads across post-shuffle partitions") {
    val salts = 8
    val n = 40000
    // 90% of fact rows carry key 1; dim has 50 keys
    val fact = spark.range(n).select($"id",
      when($"id" % 10 < 9, lit(1L)).otherwise($"id" % 50).as("k"))
    val dim = spark.range(50).select($"id".as("k"), ($"id" * 100).as("payload"))
    val salted = graft.query.Relational.saltedEquiJoin(
      fact, "k", col("id"), dim, "k", salts)
    // row-identical to the unsalted join
    assert(salted.count() == n)
    val unsaltedSum = fact.join(dim, Seq("k"))
      .agg(sum($"payload")).as[Long].head()
    assert(salted.agg(sum($"payload")).as[Long].head() == unsaltedSum)
    // distribution: the hot key's rows must occupy `salts` distinct
    // post-shuffle partitions, with no partition holding more than
    // ~1/salts of the hot key (+ slack) — measured on the join output
    // via spark_partition_id. AQE's small-shuffle coalescing would fold
    // these test-sized partitions back together (a tiny-data artifact —
    // at real scale hot partitions exceed the advisory target and stay
    // apart), so the measurement runs with AQE off.
    val hot = n * 9 / 10
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val perPart = salted.filter($"k" === 1L)
        .select(spark_partition_id().as("pid"))
        .groupBy($"pid").count().as[(Int, Long)].collect()
      // 8 (key, salt) groups hash into 32 partitions: allow for hash
      // collisions but require genuine spreading
      assert(perPart.length >= salts / 2,
        s"hot key landed on ${perPart.length} partitions")
      val maxPart = perPart.map(_._2).max
      assert(maxPart <= hot.toLong / salts * 2 + 100,
        s"straggler partition: $maxPart of $hot hot rows")
      // and the unsalted join concentrates them on ONE partition (the
      // hazard this operator exists for)
      val unsaltedMax = fact.join(dim.hint("shuffle_hash"), Seq("k"))
        .filter($"k" === 1L).select(spark_partition_id().as("pid"))
        .groupBy($"pid").count().as[(Int, Long)].collect()
      assert(unsaltedMax.length == 1 && unsaltedMax.head._2 == hot)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
  }

  // ---- adversarial LSH occupancy -----------------------------------------

  test("dedup_minhash_lsh: an all-duplicates corpus stays O(n), connectivity intact") {
    // 2000 byte-identical docs land in ONE bucket per band — uncapped
    // all-pairs would be ~2M candidate pairs; the occupancy cap emits
    // hub-spoke pairs instead: exactly n-1 results, all jaccard 1.0
    val dir = java.nio.file.Files.createTempDirectory("adv-dup").toString
    val n = 2000
    spark.range(n).select($"id".as("doc_id"),
        lit("the same exact duplicated document text repeated " +
          "across the entire corpus as a template attack").as("text"),
        lit("en").as("lang"), lit("adv").as("source"),
        lit(96L).as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val pairs = graft.query.Dedup.dedupMinhashLsh(spark, dir)
      .select($"doc_a", $"doc_b", $"jaccard").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"adversarial minhash pairs=${pairs.length} in $secs%.1f s")
    // planted near-dups add 10 docs (copies of doc_id<10): those join
    // the same duplicate component via their own buckets
    assert(pairs.length < 3 * n,
      s"candidate blowup: ${pairs.length} pairs for $n duplicates")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    // connectivity: every doc appears in at least one pair (single
    // component via the hub)
    val touched = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(touched.size >= n, s"lost members: ${touched.size} < $n")
  }

  test("dedup_embedding_cosine: identical vectors stay O(n) under the cap") {
    val dir = java.nio.file.Files.createTempDirectory("adv-vec").toString
    val n = 2000
    val v = Array.tabulate(64)(i => (if (i == 0) 1.0f else 0.0f))
    spark.range(n).select($"id".as("vec_id"),
        typedLit(v.toSeq).as("embedding"), lit(0).as("label"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val pairs = graft.query.Dedup.dedupEmbeddingCosine(spark, dir)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect()
    info(s"adversarial embedding pairs=${pairs.length}")
    assert(pairs.length == n - 1,
      s"expected hub-spoke n-1 pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L)) // hub = min vec_id in every bucket
    assert(pairs.map(_._2).toSet.size == n - 1)
  }

  // ---- semantic dedup (SemDeDup) -----------------------------------------

  test("dedup_semantic: kept verdicts match a brute-force within-cell check") {
    val out = graft.query.Dedup.dedupSemantic(spark, sf01)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out.length == 500)
    assert(out.count(!_._3) > 0, "no removals on the test corpus")
    val emb = graft.schema.Schemas.table(spark, sf01, "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // given the (oracle-checked) cell assignment, the verdict rule is
    // independently recomputable: removed <=> a lower-id same-cell
    // neighbor scores >= threshold
    out.foreach { case (id, cell, kept) =>
      val hasSmaller = out.exists { case (o, ocell, _) =>
        o < id && ocell == cell && cos(emb(o), emb(id)) >= 0.4 }
      assert(kept == !hasSmaller, s"vec $id cell $cell")
    }
  }

  test("dedup_semantic: identical-vector attack keeps exactly one representative") {
    // 2000 identical vectors: every dot ties, so all land in cell 0;
    // the occupancy cap hub-spokes the cell and the hub removes every
    // other member — O(n) candidates, one survivor
    val dir = java.nio.file.Files.createTempDirectory("adv-sem").toString
    val n = 2000
    val v = Array.tabulate(64)(i => (if (i == 0) 1.0f else 0.0f))
    spark.range(n).select($"id".as("vec_id"),
        typedLit(v.toSeq).as("embedding"), lit(0).as("label"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val out = graft.query.Dedup.dedupSemantic(spark, dir)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out.length == n)
    val kept = out.filter(_._3).map(_._1)
    assert(kept == Seq(0L), s"expected only vec 0 kept, got $kept")
  }

  // ---- schema evolution ------------------------------------------------

  test("source_schema_evolution: legacy files surface as <legacy> with exact value sums") {
    val byPrio = graft.schema.Schemas.table(spark, sf01, "orders")
      .groupBy(when($"o_orderkey" % 2 === 0, "<legacy>")
        .otherwise($"o_orderpriority").as("p"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    val got = graft.ingest.Formats.schemaEvolutionAgg(spark, sf01)
      .select($"priority", $"n_orders").as[(String, Long)].collect().toMap
    assert(got == byPrio)
    assert(got.contains("<legacy>") && got("<legacy>") > 0)
  }

  // ---- JL random projection --------------------------------------------

  test("jl_project: one-hot input recovers the exact md5-derived plane column") {
    // projection is linear, so e_i in → column i of the plane matrix
    // out, bit-exact (single product against 1.0f, no summation error)
    GraftExtensions.register(spark)
    val oneHot = Array.tabulate(64)(i => if (i == 5) 1.0f else 0.0f)
    val out = spark.range(1)
      .select(typedLit(oneHot.toSeq).as("e"))
      .select(expr("jl_project(e, 16)"))
      .as[Seq[Double]].head()
    val expected = (0 until 16).map { jj =>
      graft.functions.SimHashImpl.hash60(
        s"jl:$jj:5".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .toDouble / 576460752303423488.0 - 1.0
    }
    assert(out == expected)
    assert(out.forall(v => v >= -1.0 && v < 1.0))
  }

  test("emb_jl_recall: projection stays in whole-stage codegen; recall above floor") {
    val df = graft.query.Similarity.embJlRecall(spark, sf01)
    val rows = df.as[(Long, Long, Long)].collect().toSeq
    assert(rows.length == 20 && rows.forall(_._2 == 10L))
    // measured Σhits = 23 (mean recall@10 0.115 on the near-uniform
    // synthetic corpus — 5.7× the 10/499 ≈ 0.02 chance baseline, same
    // regime as the pinned sign-LSH 0.113); floor at ~70% of measured
    val totalHits = rows.map(_._3).sum
    assert(totalHits >= 16L, s"JL recall collapsed: $totalHits hits")
    val df2 = graft.query.Similarity.embJlRecall(spark, sf01)
    df2.collect() // finalize AQE so codegen spans (*) appear
    val executed = df2.queryExecution.executedPlan.toString
    assert(executed.contains("jl_project"), executed)
    val star = executed.linesIterator.exists(l => l.contains("jl_project") &&
      l.replaceAll("^[\\s:+-]*", "").startsWith("*("))
    assert(star, "jl_project fell out of whole-stage codegen:\n" + executed)
  }

  test("corpus_temperature_mix: smallest group passes whole; larger groups hit sqrt counts") {
    val rows = graft.query.TextAnalysis.corpusTemperatureMix(spark, sf01)
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.map(_._1).toSet == Set("en", "de", "es", "fr", "zh"))
    val nMin = rows.map(_._2).min
    rows.foreach { case (lang, n, kept) =>
      if (n == nMin) assert(kept == n, s"$lang: smallest group must pass whole")
      // binomial 4σ band around the α=0.5 effective count sqrt(n·n_min)
      val expected = math.sqrt(n.toDouble * nMin)
      val sigma = math.sqrt(expected * (1.0 - expected / n))
      assert(math.abs(kept - expected) <= 4 * sigma + 1,
        s"$lang: kept=$kept expected≈$expected σ=$sigma")
    }
    val (_, nMax, keptMax) = rows.maxBy(_._2)
    val (_, nSm, keptSm) = rows.minBy(_._2)
    assert(keptMax.toDouble / nMax < keptSm.toDouble / nSm,
      "largest group must downsample harder than the smallest")
  }

  test("ann_jl_topk: full-candidate probe IS brute force; default probe beats chance") {
    // candMult covering the corpus makes the exact re-rank see every
    // vector — the projected pre-rank can then drop nothing
    val full = graft.query.Similarity
      .annJlTopK(spark, sf01, 0L, 10, candMult = 50).collect().toSeq
    val bf = graft.query.Similarity
      .bruteForceTopK(spark, sf01, 0L, 10).collect().toSeq
    assert(full == bf)
    // measured Σhits = 37/100 over queries 0–9 (80/499 ≈ 0.16 chance
    // ⇒ chance Σ ≈ 16); floor at ~68% of measured
    val hits = (0L until 10L).map { q =>
      val ex = graft.query.Similarity.bruteForceTopK(spark, sf01, q, 10)
        .collect().map(_.getLong(0)).toSet
      val jl = graft.query.Similarity.annJlTopK(spark, sf01, q, 10)
        .collect().map(_.getLong(0)).toSet
      (ex & jl).size
    }.sum
    assert(hits >= 25, s"JL pre-rank recall collapsed: $hits/100")
  }

  // measured 0.475 on the near-uniform synthetic corpus (4/16 cells
  // probed ⇒ ~0.25 expected under uniformity; anchor-correlated cells
  // add signal); floor at ~70% of measured, 166× the 0.002
  // random-chance baseline
  private val RecallFloor = 0.33
}
