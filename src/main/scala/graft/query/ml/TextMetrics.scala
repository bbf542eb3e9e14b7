package graft.query
package ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The ML family's generated-text metrics: ROUGE-N, BLEU and chrF. */
object TextMetrics {

  /** Clipped n-gram overlap grain shared by [[evalRougeN]] and
    * [[evalBleu]]: adjacent documents form (candidate = even doc_id,
    * reference = odd doc_id = candidate + 1) pairs, and for each pair
    * and each n in 1..maxN the CLIPPED overlap is
    * Σ_g min(count_cand(g), count_ref(g)) — the multiset-intersection
    * statistic BLEU's modified precision (Papineni et al. 2002) and
    * ROUGE-N (Lin 2004) both reduce to; clipping is what stops a
    * candidate from farming credit by repeating one reference gram.
    *
    * Scale shape: ONE corpus scan — per-doc gram explosion (fanout
    * bounded by doc length × maxN, a data constant, no joins), one
    * shuffle on the (pair, n, gram) key with map-side combine (the
    * per-gram min collapses to two partial sums), then a tiny second
    * aggregate on (pair, n). Pairing by key instead of self-joining
    * texts means the two sides are never materialized together — at
    * 100 TB of (generation, reference) rows this is the only shape
    * that works: eval sets shuffle gram-grain rows, never documents.
    * All-integer counts until the caller's final float casts. */
  private def pairNgramOverlap(spark: SparkSession, dir: String,
      maxN: Int, pairs: Int): DataFrame =
    pairGramOverlap(spark, dir, maxN, pairs, TokenHash.tokens(col("text")))(
      n => TokenHash.shinglesFromTokens(col("s"), n))

  /** [[pairNgramOverlap]] over any gram grain: each doc's text becomes
    * `s` = `text`, its order-n grams `grams(n)` (an array over `s`). */
  private def pairGramOverlap(spark: SparkSession, dir: String, maxN: Int,
      pairs: Int, text: Column)(grams: Int => Column): DataFrame =
    TokenHash.spreadDocs(spark, dir, "text")
      .filter(col("doc_id") < lit(2L * pairs))
      .select(expr("doc_id DIV 2").as("pair_id"),
        (col("doc_id") % 2 === 0).as("is_cand"), text.as("s"))
      .select(col("pair_id"), col("is_cand"),
        explode(array((1 to maxN).map(n =>
          struct(lit(n).as("n"), grams(n).as("gs"))): _*)).as("x"))
      .select(col("pair_id"), col("is_cand"), col("x.n").as("n"),
        explode(col("x.gs")).as("gram"))
      .groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(sum(when(col("is_cand"), 1L).otherwise(0L)).as("c"),
        sum(when(col("is_cand"), 0L).otherwise(1L)).as("r"))
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("c"), col("r"))).as("overlap"),
        sum(col("c")).as("cand_ngrams"),
        sum(col("r")).as("ref_ngrams"))

  /** ROUGE-N over adjacent-document (candidate, reference) pairs: per
    * (pair, n ∈ 1..maxN) the clipped-overlap precision, recall, and F1.
    * ROUGE-1 F1 doubles as the SQuAD-style token-overlap F1. Ratios are
    * computed in fixed-parenthesization double arithmetic off the exact
    * integer grain and cast to float once at the end (the bm25
    * discipline — the single narrowing cast absorbs any cross-engine
    * ulp). A side with zero grams at some n yields 0.0 scores, not a
    * division error; a pair where BOTH sides lack grams at n emits no
    * row at that n (nothing was measured — the oracle's grain degrades
    * identically). */
  def evalRougeN(spark: SparkSession, dir: String, maxN: Int = 2,
      pairs: Int = 200): DataFrame = {
    val p = when(col("cand_ngrams") > 0,
      col("overlap").cast("double") / col("cand_ngrams").cast("double"))
      .otherwise(lit(0.0))
    val r = when(col("ref_ngrams") > 0,
      col("overlap").cast("double") / col("ref_ngrams").cast("double"))
      .otherwise(lit(0.0))
    pairNgramOverlap(spark, dir, maxN, pairs)
      .select(col("pair_id"), col("n"), col("overlap"),
        col("cand_ngrams"), col("ref_ngrams"),
        p.cast("float").as("prec"), r.cast("float").as("rec"),
        when(p + r > 0, lit(2.0) * p * r / (p + r))
          .otherwise(lit(0.0)).cast("float").as("f1"))
      .orderBy(col("pair_id"), col("n"))
  }

  /** BLEU-2 over the same adjacent-document pairs: modified (clipped)
    * unigram and bigram precisions, the brevity penalty
    * bp = min(1, e^(1 − ref_len/cand_len)), and
    * bleu = bp · exp((ln p₁ + ln p₂)/2). Any zero clipped count sends
    * the geometric mean — and BLEU — to exactly 0.0 (the standard
    * uncomfortable smoothing-free definition), guarded so neither
    * engine ever evaluates ln(0). The integer evidence columns
    * (lengths, clips) ride along so the float scores are auditable;
    * transcendentals are confined to the final float-cast columns. */
  def evalBleu(spark: SparkSession, dir: String,
      pairs: Int = 200): DataFrame = {
    val o = pairNgramOverlap(spark, dir, 2, pairs)
      .groupBy(col("pair_id"))
      .agg(
        coalesce(sum(when(col("n") === 1, col("overlap"))), lit(0L))
          .as("clip1"),
        coalesce(sum(when(col("n") === 1, col("cand_ngrams"))), lit(0L))
          .as("cand_len"),
        coalesce(sum(when(col("n") === 1, col("ref_ngrams"))), lit(0L))
          .as("ref_len"),
        coalesce(sum(when(col("n") === 2, col("overlap"))), lit(0L))
          .as("clip2"),
        coalesce(sum(when(col("n") === 2, col("cand_ngrams"))), lit(0L))
          .as("cand_bigrams"))
    val bp = when(col("cand_len") === 0, lit(0.0))
      .when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("ref_len").cast("double") / col("cand_len").cast("double")))
    val bleu = when(col("clip1") > 0 && col("clip2") > 0,
      bp * exp((
        log(col("clip1").cast("double") / col("cand_len").cast("double")) +
        log(col("clip2").cast("double") / col("cand_bigrams").cast("double"))
      ) / lit(2.0)))
      .otherwise(lit(0.0))
    o.select(col("pair_id"), col("cand_len"), col("ref_len"),
        col("clip1"), col("clip2"), col("cand_bigrams"),
        bp.cast("float").as("bp"), bleu.cast("float").as("bleu"))
      .orderBy(col("pair_id"))
  }

  /** chrF2 (Popović 2015) over the same adjacent-document pairs: the
    * CHARACTER n-gram F-score, n = 1..3 on whitespace-stripped
    * normalized text — the eval surface that stays meaningful where
    * word-level BLEU/ROUGE break down (morphology-rich languages, CJK
    * text with no whitespace segmentation, near-miss spellings).
    * chrP/chrR are the arithmetic means of the per-order clipped
    * precisions/recalls (an order with no candidate — resp. reference —
    * grams contributes 0, sacreBLEU's convention), and
    * chrF2 = 5·P·R / (4·P + R) (β = 2: recall weighted double).
    *
    * Scale shape: identical to [[pairNgramOverlap]] but on the char
    * grain — per-doc fanout is 3 × chars (a data constant), one
    * map-side-combined shuffle on (pair, n, gram), a tiny per-pair
    * pivot after. The 9 integer evidence columns ride beside the three
    * float scores, so every score replays from its own row. */
  def evalChrf(spark: SparkSession, dir: String,
      pairs: Int = 200): DataFrame = {
    val maxN = 3
    val byN = pairGramOverlap(spark, dir, maxN, pairs,
        call_function("replace", TokenHash.normText(col("text")),
          lit(" "), lit(""))) { n =>
      when(length(col("s")) >= n,
        expr(s"transform(sequence(1, length(s) - ${n - 1}), " +
          s"i -> substring(s, i, $n))"))
        .otherwise(array().cast("array<string>"))
    }
    def cell(n: Int, c: Column): Column =
      coalesce(sum(when(col("n") === n, c)), lit(0L))
    val piv = byN.groupBy(col("pair_id"))
      .agg(cell(1, col("overlap")).as("clip1"),
        cell(1, col("cand_ngrams")).as("cand1"),
        cell(1, col("ref_ngrams")).as("ref1"),
        cell(2, col("overlap")).as("clip2"),
        cell(2, col("cand_ngrams")).as("cand2"),
        cell(2, col("ref_ngrams")).as("ref2"),
        cell(3, col("overlap")).as("clip3"),
        cell(3, col("cand_ngrams")).as("cand3"),
        cell(3, col("ref_ngrams")).as("ref3"))
    def ratio(num: String, den: String): Column =
      when(col(den) > 0,
        col(num).cast("double") / col(den).cast("double"))
        .otherwise(lit(0.0))
    val p = (ratio("clip1", "cand1") + ratio("clip2", "cand2") +
      ratio("clip3", "cand3")) / lit(3.0)
    val r = (ratio("clip1", "ref1") + ratio("clip2", "ref2") +
      ratio("clip3", "ref3")) / lit(3.0)
    piv.select(col("pair_id"),
        col("clip1"), col("cand1"), col("ref1"),
        col("clip2"), col("cand2"), col("ref2"),
        col("clip3"), col("cand3"), col("ref3"),
        p.cast("float").as("chr_p"), r.cast("float").as("chr_r"),
        when(lit(4.0) * p + r > 0,
          lit(5.0) * p * r / (lit(4.0) * p + r))
          .otherwise(lit(0.0)).cast("float").as("chrf2"))
      .orderBy(col("pair_id"))
  }
}
