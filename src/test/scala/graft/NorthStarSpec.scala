package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Multimodal, Similarity, TextAnalysis, TokenHash}

class NorthStarSpec extends SparkSpec {
  import spark.implicits._

  test("dedup_exact: identical-after-normalization texts collapse to one keeper") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "totally different"),
      (4L, "HELLO   WORLD  "))
      .toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    val out = docs
      .withColumn("fp", md5(TokenHash.normText($"text")))
      .withColumn("keep", $"doc_id" === min($"doc_id").over(w))
      .orderBy("doc_id").collect()
    assert(out.map(_.getBoolean(3)).toSeq == Seq(true, false, true, false))
  }

  test("minhash LSH: all planted near-dups found; all reported pairs above threshold") {
    val pairs = Dedup.dedupMinhashLsh(spark, sf).collect()
    // each planted copy (doc_id+1000000, 4-word-prefix edit) must pair with
    // its source at high jaccard; the corpus also has NATURAL near-dups
    // (e.g. sf0.001 docs 8/120 at j=0.986), so planted is a subset
    val planted = pairs.filter(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(planted.length == 10, s"found ${planted.length} of 10 planted pairs")
    planted.foreach(r => assert(r.getDouble(2) > 0.7))
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5))
    assert(pairs.length >= 10)
  }

  test("dedup groups: valid connected components of the near-dup pair graph") {
    val pairs = Dedup.dedupMinhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val groups = Dedup.dedupGroups(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every edge endpoint labeled, both endpoints in the same group
    pairs.foreach { case (a, b) =>
      assert(groups(a) == groups(b), s"edge ($a,$b) split across groups")
    }
    // group id is the smallest member of its group
    groups.groupBy(_._2).foreach { case (gid, members) =>
      assert(members.keys.min == gid, s"group $gid min is ${members.keys.min}")
    }
    // exactly the docs that appear in some pair are labeled
    assert(groups.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("dedup groups: driver union-find path == distributed min-propagation path") {
    val viaUnionFind = Dedup.dedupGroups(spark, sf)
      .as[(Long, Long)].collect().toMap
    val viaIterativeJoins = Dedup.dedupGroups(spark, sf, driverUnionFindMax = -1L)
      .as[(Long, Long)].collect().toMap
    assert(viaUnionFind == viaIterativeJoins)
  }

  test("simhash: chunk-bucket candidate generation is lossless for hamming<=3") {
    GraftExtensions.register(spark)
    val docs = TokenHash.withPlantedNearDups(
      graft.schema.Schemas.table(spark, sf, "documents"))
      .select($"doc_id", TokenHash.tokens($"text").as("toks"))
      .withColumn("h", expr("simhash60(toks)"))
      .select("doc_id", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // ground truth by exhaustive pairing (510 docs — test-only)
    val expected = (for {
      (a, ha) <- docs; (b, hb) <- docs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    val got = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    assert(expected.nonEmpty) // planted edits keep some pairs within 3 bits
  }

  test("simhash expression: deterministic, order-insensitive-ish, distinct for distinct docs") {
    GraftExtensions.register(spark)
    val df = Seq(
      ("a b c d e f g h i j k l m n o p"),
      ("a b c d e f g h i j k l m n o p"),
      ("a b c d e f g h i j k l m n o q"),
      ("completely unrelated words entirely other document content here"))
      .toDF("text")
      .select(expr("simhash60(split(text, ' '))").as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1))                                // deterministic
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) <= 16)  // near-dup close
    assert(java.lang.Long.bitCount(hs(0) ^ hs(3)) > 16)   // unrelated far
  }

  test("Spark-ML MinHashLSH cross-validates the custom LSH on planted pairs") {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val docs = TokenHash.withPlantedNearDups(
      graft.schema.Schemas.table(spark, sf, "documents"))
      .select($"doc_id", TokenHash.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(docs)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42)
    val model = lsh.fit(feat)
    val pairs = model.approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
      .filter($"datasetA.doc_id" < $"datasetB.doc_id")
      .select($"datasetA.doc_id".as("a"), $"datasetB.doc_id".as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both implementations must surface the 10 planted near-dup pairs
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, i + 1000000L)), s"ml-LSH missed planted pair $i")
    }
    val custom = Dedup.dedupMinhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { i =>
      assert(custom.contains((i, i + 1000000L)), s"custom LSH missed planted pair $i")
    }
  }

  test("approx_count_distinct within 5% of exact on events") {
    val r = graft.schema.Schemas.events(spark, sf)
      .agg(countDistinct($"event_id").as("exact"),
        approx_count_distinct($"event_id").as("approx"))
      .head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("embedding cosine near-dup: pairs respect threshold; LSH finds top pair") {
    val pairs = Dedup.dedupEmbeddingCosine(spark, sf, threshold = 0.35).collect()
    pairs.foreach(r => assert(r.getDouble(2) >= 0.35))
    pairs.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("embedding cosine LSH: recall vs brute force ≥ 0.9; precision exact") {
    // brute-force ground truth at the declared threshold
    GraftExtensions.register(spark)
    val emb = graft.schema.Schemas.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val truth = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        expr("float_dot(a.embedding, b.embedding)").as("c"))
      .filter($"c" >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.dedupEmbeddingCosine(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair is genuine (the exact verify guarantees it)
    assert(found.subsetOf(truth), s"false positives: ${found -- truth}")
    // banded multi-table recall: measured 58/59 on the generated corpus;
    // assert a margin below so unrelated regen noise doesn't flake
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${found.size}/${truth.size})")
  }

  test("ann brute force: k rows, descending, exact cosine") {
    val top = Similarity.bruteForceTopK(spark, sf, queryId = 0L, k = 10).collect()
    assert(top.length == 10)
    val cos = top.map(_.getDouble(1))
    assert(cos.sameElements(cos.sortBy(-(_: Double))))
    assert(!top.map(_.getLong(0)).contains(0L))
  }

  test("ann IVF: probing all cells recovers the exact top-k; partial probe trades recall") {
    val exact = Similarity.bruteForceTopK(spark, sf, 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    // nProbe = nCells ⇒ IVF degenerates to exact search: same ids, same order
    val full = Similarity.ivfTopK(spark, sf, 0L, 10, nCells = 16, nProbe = 16)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact)
    // partial probe is a valid approximation: nonzero recall, only ids from
    // probed cells (near-uniform synthetic vectors cluster poorly — recall
    // here is a data property, not an implementation one)
    val part = Similarity.ivfTopK(spark, sf, 0L, 10, nCells = 16, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact.toSet & part).size.toDouble / exact.size
    assert(recall > 0.0, s"IVF recall $recall")
  }

  test("text quality: ratios in range, composite bounded") {
    val rows = TextAnalysis.textQuality(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // alpha_ratio
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0) // quality_score
      assert(r.getDouble(2) >= 1.0)                          // n_tokens
    }
  }

  test("token count: bpe-ish >= whitespace tokens") {
    val rows = TextAnalysis.textTokenCount(spark, sf).collect()
    rows.foreach(r => assert(r.getInt(2) >= r.getInt(1)))
  }

  test("fingerprints: stable across runs, winnow robust to mid-doc edit") {
    val a = TextAnalysis.textFingerprint(spark, sf).collect()
    val b = TextAnalysis.textFingerprint(spark, sf).collect()
    assert(a.map(_.getString(1)).sameElements(b.map(_.getString(1))))
    assert(a.map(_.getLong(2)).sameElements(b.map(_.getLong(2))))
  }

  test("langid: detects distinct languages on hand-made texts") {
    GraftExtensions.register(spark)
    // run the same scoring logic on crafted inputs by swapping the table:
    // easiest through a temp view + the same column expressions
    val crafted = Seq(
      (1L, "the cat sat and it is that good for a while", "?"),
      (2L, "el perro y la casa de que un dia es por favor", "?"),
      (3L, "der hund und die katze ist von ein haus zu mit", "?"),
      (4L, "xyzzy qwerty plugh", "?"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("langid").toString
    crafted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.textLangId(spark, tmp).collect()
    val detected = out.sortBy(_.getLong(0)).map(_.getString(2)).toSeq
    assert(detected == Seq("en", "es", "de", "und"))
  }

  test("multimodal: payload bytes match text length, stub features deterministic in [0,1)") {
    val rows = Multimodal.multimodalSummary(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getInt(2) >= 256 && r.getInt(3) >= 256)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
    }
    val again = Multimodal.multimodalSummary(spark, sf).collect()
    assert(rows.map(_.getDouble(4)).sameElements(again.map(_.getDouble(4))))
  }

  test("multimodal batched decode: mapPartitions batches preserve every row, deterministic") {
    val docs = graft.schema.Schemas.table(spark, sf, "documents")
    val out = Multimodal.decodeBatched(docs, batchSize = 7)
      .orderBy("doc_id").collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getSeq[Float](2).length == 4)
    }
    val again = Multimodal.decodeBatched(docs, batchSize = 64)
      .orderBy("doc_id").collect()
    // batch size must not change results (pure per-element decode)
    assert(out.map(_.getSeq[Float](2)).toSeq == again.map(_.getSeq[Float](2)).toSeq)
  }
}
