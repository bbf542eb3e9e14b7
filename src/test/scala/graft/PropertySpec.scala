package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ingest.{Batcher, Replay}

/** Property tests promised in SURVEY §5.2: F1 coercion totality and
  * round-trip; S9 batching size law. Deterministic seeded sampling from
  * ScalaCheck generators (the scalatest-scalacheck bridge artifact is not
  * in the offline cache, so sampling is explicit); one Spark job per
  * sample-set, not per sample.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("minhash_sig == independent builtin-composition path on arbitrary docs") {
    // cross-implementation check: the custom single-pass expression must
    // agree with explode → hash60 builtins → per-index min for every
    // random token array (the two paths share only the md5 primitive)
    GraftExtensions.register(spark)
    val tokGen = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumStr.map(_.take(8)), Gen.oneOf("a", "b", "cc", "")))
    val docs = samples(tokGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .filter(_._2.size >= 3)
    val df = docs.toDF("doc_id", "toks")
    val viaExpr = df
      .select($"doc_id", expr("minhash_sig(toks, 3, 8)").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // independent path: shingle strings via HOF, salted-free double hash
    val gramDf = df.select($"doc_id",
      explode(graft.query.Dedup.shinglesFromTokens($"toks", 3)).as("g"))
      .select($"doc_id",
        graft.query.Dedup.hash60($"g").as("h1"),
        graft.query.Dedup.hash60lo($"g").as("h2"))
    val mask = (1L << 60) - 1
    val viaBuiltins = gramDf.groupBy($"doc_id")
      .agg(array((0 until 8).map(i =>
        min(($"h1" + lit(i.toLong) * shiftright($"h2", 5))
          .bitwiseAND(lit(mask)))): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr.keySet == viaBuiltins.keySet)
    viaExpr.foreach { case (id, sig) =>
      assert(sig == viaBuiltins(id), s"doc $id: $sig vs ${viaBuiltins(id)}")
    }
  }

  test("assignBatches two-level rank == brute-force rank on arbitrary sparse keys") {
    // the scale-safe bucket/offset plan must produce exactly the batch ids
    // a global sort would, for any key distribution (gaps, clusters,
    // negative-free sparse ids) and any bucketWidth — including widths
    // that leave most buckets empty or cram everything into one
    val keyGen = Gen.chooseNum(0L, 100000L)
    for (width <- Seq(1L, 7L, 4096L, 1000000L)) {
      val keys = samples(keyGen, 400).distinct
      val df = keys.toDF("k").repartition(7) // scramble physical order
      val got = Batcher.assignBatches(df, "k", batchSize = 50,
          maxBatches = Int.MaxValue, bucketWidth = width)
        .select($"k", $"batch_id").as[(Long, Int)].collect().toMap
      val expected = keys.sorted.zipWithIndex
        .map { case (k, i) => k -> i / 50 }.toMap
      assert(got == expected, s"width=$width")
    }
    // the general TwoLevel.prefix shapes against a single-window reference:
    // tied keys (broken by a unique id), descending order, inclusive and
    // exclusive running sums, with and without a partition key
    import org.apache.spark.sql.expressions.Window
    val rows = samples(for {
      g <- Gen.chooseNum(0L, 2L); k <- Gen.chooseNum(-200L, 200L)
      v <- Gen.chooseNum(-50L, 1000L)
    } yield (g, k, v), 300).zipWithIndex
      .map { case ((g, k, v), id) => (id.toLong, g, k, v) }
    val rdf = rows.toDF("id", "g", "k", "v").repartition(5)
    for (width <- Seq(1L, 7L, 1000000L); desc <- Seq(false, true);
         inclusive <- Seq(true, false); keys <- Seq(Nil, Seq("g"))) {
      val order = Seq(if (desc) $"k".desc else $"k".asc, $"id")
      val got = graft.query.TwoLevel.prefix(rdf, floor($"k" / width), order,
          bucketDesc = desc, keys = keys, rowNumber = Some("rn"),
          sums = Seq("v" -> "cv"), inclusive = inclusive)
        .select($"id", $"rn", $"cv").as[(Long, Long, Long)].collect().toSet
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      val cv = sum($"v").over(w.rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1L))
      val want = rdf.select($"id", row_number().over(w).cast("long"),
          if (inclusive) cv else coalesce(cv, lit(0L)))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want,
        s"width=$width desc=$desc inclusive=$inclusive keys=$keys")
    }
  }

  test("F1 totality: to_float_or_zero never throws and never nulls on arbitrary strings") {
    val raw = samples(Gen.oneOf(
      Gen.alphaNumStr, Gen.numStr, Gen.asciiPrintableStr,
      Gen.const(""), Gen.const(null: String),
      Gen.chooseNum(Float.MinValue, Float.MaxValue).map(_.toString)), 300)
    val out = raw.toDF("raw")
      .select(Replay.toFloatOrZero($"raw").as("v"))
      .collect()
    assert(out.length == raw.length)
    out.foreach(r => assert(!r.isNullAt(0)))
  }

  test("F1 round-trip: parseable floats survive coercion exactly") {
    val xs = samples(Gen.chooseNum(-1e30f, 1e30f), 200)
    val out = xs.map(_.toString).toDF("raw")
      .select(Replay.toFloatOrZero($"raw").as("v"))
      .as[Float].collect()
    assert(out.toSeq == xs.map(x => x.toString.toFloat))
  }

  test("scaled-cents law: any 2-decimal money double round-trips exactly through round(x*100)") {
    // the oracle-robustness discipline (Warehouse doc) rests on one claim:
    // for money stored as a double of an exact 2-decimal value, round(x*100)
    // recovers the integer cents EXACTLY on the JVM — for every such value,
    // not just the ones in the test data. Sample the full plausible money
    // domain (0 .. 2^39 cents ≈ $5.5B, far past o_totalprice) plus
    // adversarial .x5 boundaries, and require exact recovery through the
    // same Spark expression the queries use.
    val centGen = Gen.oneOf(
      Gen.chooseNum(0L, 1L << 39),
      Gen.chooseNum(0L, 10000000L).map(_ * 100 + 50),   // x.50 halves
      Gen.chooseNum(0L, 10000000L).map(_ * 10 + 5))     // x.x5 tenths
    val cents = samples(centGen, 4000).distinct
    val df = cents.toDF("c")
      .select($"c", ($"c".cast("double") / lit(100.0)).as("price"))
    val got = df.select($"c",
        round($"price" * lit(100)).cast("long").as("rt"),
        // and the netS4 shape: cents × (100 − disc%) for every discount
        round($"price" * lit(100)).cast("long") *
          (lit(100L) - lit(7L)).as("net"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (c, rt, net) =>
      assert(rt == c, s"cents $c -> double -> round(x*100) = $rt")
      assert(net == c * 93L, s"netS4 shape broke for $c")
    }
    // the discount side: every 2-decimal rate in [0, 1] recovers its
    // integer percent exactly
    val discs = (0 to 100).map(p => (p.toLong, p.toDouble / 100.0))
    val dGot = discs.toDF("p", "d")
      .select($"p", round($"d" * lit(100)).cast("long").as("rp"))
      .as[(Long, Long)].collect()
    dGot.foreach { case (p, rp) => assert(rp == p, s"discount $p% -> $rp") }
  }

  test("S9 size law: min(m, ceil(n/b)) batches, all full but the last, exact remainder") {
    val cases = samples(for {
      n <- Gen.chooseNum(1, 500)
      b <- Gen.chooseNum(1, 100)
      m <- Gen.chooseNum(1, 6)
    } yield (n, b, m), 25)
    cases.foreach { case (n, b, m) =>
      val df = spark.range(n.toLong).toDF("id")
      val res = Batcher.assignBatchesArrivalOrder(df, b, m)
      val expectBatches = math.min(m.toLong, (n.toLong + b - 1) / b).toInt
      assert(res.nBatches == expectBatches, s"case ($n,$b,$m)")
      assert(res.remainderRows ==
        math.max(0L, n.toLong - math.min(n.toLong, b.toLong * m)), s"case ($n,$b,$m)")
      val sizes = res.batches.groupBy("batch_id").count()
        .orderBy("batch_id").collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(sizes.map(_._1).toSeq == (0 until expectBatches), s"case ($n,$b,$m)")
      sizes.dropRight(1).foreach { case (_, c) => assert(c == b.toLong, s"case ($n,$b,$m)") }
      if (sizes.nonEmpty) assert(sizes.last._2 <= b.toLong, s"case ($n,$b,$m)")
      assert(res.batches.count() == math.min(n.toLong, b.toLong * m), s"case ($n,$b,$m)")
    }
  }

  test("jl_project: linear under power-of-two scaling, bit-exact, dimension-stable") {
    // projection is a fixed linear map: scaling the input by 2^k scales
    // every output coordinate by exactly 2^k (power-of-two products and
    // sums are IEEE-exact), and repeated evaluation is bit-stable
    GraftExtensions.register(spark)
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-4.0f, 4.0f))
    samples(vecGen, 20).foreach { v =>
      val df = Seq((v, v.map(_ * 2.0f), v.map(_ * 0.25f)))
        .toDF("x", "x2", "xq")
      val row = df.select(
        expr("jl_project(x, 16)"), expr("jl_project(x2, 16)"),
        expr("jl_project(xq, 16)")).head()
      val Array(p, p2, pq) =
        (0 until 3).map(row.getSeq[Double](_).toList).toArray
      assert(p.length == 16)
      assert(p2 == p.map(_ * 2.0), "×2 scaling must be exact")
      assert(pq == p.map(_ * 0.25), "×1/4 scaling must be exact")
      val again = df.select(expr("jl_project(x, 16)"))
        .head().getSeq[Double](0).toList
      assert(again == p, "re-evaluation must be bit-stable")
    }
  }
}
