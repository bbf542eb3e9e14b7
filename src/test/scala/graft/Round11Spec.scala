package graft

import org.apache.spark.sql.functions._
import graft.query.{Similarity, TextAnalysis, TokenHash}
import graft.schema.Schemas

/** Round-11 operators: BPE pair induction and RRF hybrid retrieval. */
class Round11Spec extends SparkSpec {

  test("text_bpe_pairs: counts conserve mass and match a hand fold") {
    val out = TextAnalysis.textBpePairs(spark, sf, k = 100000).collect()
    // hand fold over the same tokenization
    val toks = Schemas.table(spark, sf, "documents")
      .select(explode(TokenHash.tokens(col("text"))).as("tok"))
      .collect().map(_.getString(0))
    val expected = toks.filter(_.length >= 2)
      .flatMap(t => t.sliding(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out.length == expected.size,
      s"distinct pairs: ${out.length} vs hand ${expected.size}")
    out.foreach { r =>
      assert(r.getLong(1) == expected(r.getString(0)),
        s"count mismatch for pair '${r.getString(0)}'")
    }
    // mass conservation: every token of length L contributes L-1 pairs
    val mass = toks.filter(_.length >= 2).map(_.length - 1L).sum
    assert(out.map(_.getLong(1)).sum == mass)
    // ordering contract: non-increasing counts, pair-name tiebreak
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) > b.getLong(1) ||
          (a.getLong(1) == b.getLong(1) &&
            a.getString(0) < b.getString(0)))
      case _ => ()
    }
  }

  test("drift_ks_value: exact integer KS equals a hand fold; bounds hold") {
    val r = graft.query.stats.Drift.driftKsValue(spark, sf).head()
    val (na, nb, ksNum, ksD) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    // hand fold: global sort of (value, cohort) pairs
    val rows = Schemas.events(spark, sf)
      .select(col("value"), (col("event_id") % 2 === 0).as("isA"))
      .collect().map(x => (x.getDouble(0), x.getBoolean(1)))
    val hNa = rows.count(_._2).toLong
    val hNb = rows.length - hNa
    var cumA = 0L; var cumB = 0L; var best = 0L
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, g) =>
      cumA += g.count(_._2); cumB += g.count(!_._2)
      best = math.max(best, math.abs(cumA * hNb - cumB * hNa))
    }
    assert(na == hNa && nb == hNb)
    assert(ksNum == best, s"ks_num $ksNum vs hand $best")
    assert(ksD == best.toDouble / (hNa * hNb).toDouble)
    assert(ksD >= 0.0 && ksD <= 1.0)
    // identical cohorts ⇒ D is small for a same-distribution split;
    // the statistic still must be > 0 on continuous data (finite n)
    assert(ksNum > 0L)
    // the bucketed execution equals the definition at a degenerate
    // bucket count too (every value in one bucket)
    val one = graft.query.stats.Drift.driftKsValue(spark, sf, buckets = 1).head()
    assert(one.getLong(2) == best && one.getLong(0) == na)
  }

  test("drift monitors degrade to empty on a one-sided cohort split") {
    // a dir whose events all fall in cohort A (even event_id): the
    // statistic is undefined and must come back EMPTY, not NaN/crash
    val dir = java.nio.file.Files.createTempDirectory("drift-onesided")
    dir.toFile.deleteOnExit()
    Schemas.events(spark, sf).filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    assert(graft.query.stats.Drift.driftKsValue(spark, dir.toString)
      .collect().isEmpty)
    assert(graft.query.stats.Drift.driftPsiValue(spark, dir.toString)
      .collect().isEmpty)
  }

  test("drift_psi_value: per-bin terms match a hand fold; counts conserve") {
    val out = graft.query.stats.Drift.driftPsiValue(spark, sf).collect()
    val rows = Schemas.events(spark, sf)
      .select(col("value"), (col("event_id") % 2 === 0).as("isA"))
      .collect().map(x => (x.getDouble(0), x.getBoolean(1)))
    val na = rows.count(_._2).toLong
    val nb = rows.length - na
    assert(out.map(_.getLong(1)).sum == na, "cohort-A mass not conserved")
    assert(out.map(_.getLong(2)).sum == nb, "cohort-B mass not conserved")
    val vmin = rows.map(_._1).min
    val vmax = rows.map(_._1).max
    val w = (vmax - vmin) / 10
    out.foreach { r =>
      val (bin, ca, cb) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(bin >= 0 && bin <= 9)
      val hand = rows.filter { case (v, _) =>
        math.min(math.floor((v - vmin) / w), 9.0).toLong == bin
      }
      assert(hand.count(_._2) == ca && hand.count(!_._2) == cb,
        s"bin $bin count mismatch")
      val pa = math.max(ca.toDouble / na, 1e-4)
      val pb = math.max(cb.toDouble / nb, 1e-4)
      assert(r.getFloat(3) == ((pa - pb) * math.log(pa / pb)).toFloat,
        s"bin $bin psi term mismatch")
    }
  }

  test("retrieval_rrf_hybrid: fusion arithmetic, pool membership, determinism") {
    val out = Similarity.retrievalRrfHybrid(spark, sf).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val tr = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val vr = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(tr.nonEmpty || vr.nonEmpty, "a fused doc must come from a pool")
      tr.foreach(x => assert(x >= 1 && x <= 20))
      vr.foreach(x => assert(x >= 1 && x <= 20))
      val want = tr.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vr.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getFloat(3) == want.toFloat,
        s"rrf mismatch for doc ${r.getLong(0)}")
    }
    // a doc retrieved by BOTH arms outranks any doc retrieved by one arm
    // at equal-or-worse ranks: 1/(60+a)+1/(60+b) > 1/(60+c) for c >= 1
    val both = out.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val single = out.filter(r => r.isNullAt(1) ^ r.isNullAt(2))
    if (both.nonEmpty && single.nonEmpty)
      assert(both.map(_.getFloat(3)).min > single.map(_.getFloat(3)).max / 2,
        "two-arm fused scores collapsed below one-arm scores")
    // determinism: a second run is byte-identical
    val again = Similarity.retrievalRrfHybrid(spark, sf).collect()
    assert(out.toSeq == again.toSeq)
  }
}
