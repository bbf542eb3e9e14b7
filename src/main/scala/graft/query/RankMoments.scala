package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Exact moment kernels shared by the stats, ML and relational families:
  * the inversion count behind Kendall-type statistics and the Welch
  * two-sample moments behind the t-test, Cohen's d, MDE and TOST. */
object RankMoments {

  /** Merge-sort inversion count: #pairs i < j with a(j) < a(i),
    * strict — ties contribute nothing (they're the Mann–Kendall tie
    * term, counted separately). Destroys `a`; O(k log k), O(k) scratch. */
  private[query] def countInversions(a: Array[Long]): Long = {
    val buf = new Array[Long](a.length)
    def merge(lo: Int, mid: Int, hi: Int): Long = {
      var inv = 0L
      var i = lo; var j = mid; var o = lo
      while (i < mid && j < hi) {
        if (a(j) < a(i)) { inv += mid - i; buf(o) = a(j); j += 1 }
        else { buf(o) = a(i); i += 1 }
        o += 1
      }
      while (i < mid) { buf(o) = a(i); i += 1; o += 1 }
      while (j < hi) { buf(o) = a(j); j += 1; o += 1 }
      System.arraycopy(buf, lo, a, lo, hi - lo)
      inv
    }
    def sort(lo: Int, hi: Int): Long =
      if (hi - lo < 2) 0L
      else {
        val mid = lo + (hi - lo) / 2
        sort(lo, mid) + sort(mid, hi) + merge(lo, mid, hi)
      }
    sort(0, a.length)
  }

  /** The click (group 1) vs purchase (group 2) moments every Welch-family
    * test reads ([[Relational.aggTtestWelch]],
    * [[graft.query.ml.Significance.evalCohensD]],
    * [[graft.query.ml.Significance.evalMdePower]],
    * [[graft.query.ml.Significance.evalTostEquivalence]]): `g` is ONE
    * map-side-combined conditional aggregate row of per-group n, Σx, Σx² over
    * ×1000-scaled BIGINT `value`s (n1, s1a, s2a, n2, s1b, s2b); the columns are
    * the shared double epilogue terms on those exact integers — means, sums of
    * squares (n−1)·s² = Σx² − Σx·mean, and variances. */
  private[query] final class WelchMoments(spark: SparkSession, dir: String) {
    private val x3 = round(col("value") * lit(1000.0)).cast("long")
    private val isA = col("event_type") === "click"
    private val isB = col("event_type") === "purchase"
    val g: DataFrame = graft.schema.Schemas.events(spark, dir)
      .filter(isA || isB)
      .agg(
        count(when(isA, lit(1))).as("n1"),
        sum(when(isA, x3)).as("s1a"),
        sum(when(isA, x3 * x3)).as("s2a"),
        count(when(isB, lit(1))).as("n2"),
        sum(when(isB, x3)).as("s1b"),
        sum(when(isB, x3 * x3)).as("s2b"))
    val m1: Column = g("s1a").cast("double") / g("n1").cast("double")
    val m2: Column = g("s1b").cast("double") / g("n2").cast("double")
    val ss1: Column = g("s2a").cast("double") - g("s1a").cast("double") * m1
    val ss2: Column = g("s2b").cast("double") - g("s1b").cast("double") * m2
    val v1: Column = ss1 / (g("n1") - lit(1)).cast("double")
    val v2: Column = ss2 / (g("n2") - lit(1)).cast("double")
  }
}
