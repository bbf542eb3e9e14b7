package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level (bucketed) global rank and running sum — the one home of
  * the pattern behind every global row number or cumulative sum over an
  * unbounded relation: s9_batch_assign, pack_sequences,
  * window_cumulative_distinct, curriculum_phases, drift_ks_value,
  * eval_auc_roc, eval_auc_delong, eval_pr_auc, eval_decile_lift,
  * eval_ks_test, eval_mann_whitney_u, eval_cliffs_delta,
  * agg_pareto_concentration, agg_gini_cents, sample_pps_systematic,
  * sql_abc_analysis and sql_customer_rfm (sql_cte_ranking spells it in
  * SQL; winsorized_stats ranks only its candidate buckets). Such a
  * window must never run unpartitioned (Spark moves the whole input to
  * a single partition). Instead rows bucket by a value-range
  * key that is MONOTONE in the sort order, a per-bucket histogram
  * (row count and/or column sums) prefix-sums into offsets (the only
  * unpartitioned window runs over the histogram — bounded by the value
  * range / bucket width, not the row count), offsets broadcast back,
  * and the within-bucket windows run in parallel.
  *
  * Requirements: `bucket` must be a deterministic function of the FIRST
  * sort key such that sorting by (`bucket` in `bucketDesc` direction,
  * then `order`) equals sorting by `order` alone — i.e. rows that
  * compare adjacent across a bucket boundary must land in order-adjacent
  * buckets, and ties of the first key must share a bucket (same value ⇒
  * same bucket makes this automatic for `floor(key / width)`). Rows whose
  * bucket (or partition key) is NULL drop out. The
  * [[graft.WindowGateSpec]] plan gate fails any query that reintroduces
  * an unpartitioned window over unreduced input, and any two-level query
  * whose global window does not order by this helper's bucket column.
  */
object TwoLevel {

  /** Append prefix columns over `order` (restarting per `keys`, like a
    * PARTITION BY): `rowNumber` = the 1-based row_number; and for each
    * `(in, out)` of `sums`, `out` = the running BIGINT sum of `in`,
    * including the current row when `inclusive`, else over the rows
    * strictly before it (0 for the first). `bucket`: the value-range
    * bucket expression (e.g. `floor(col("key") / lit(4096L))`);
    * `bucketDesc`: true when `order` leads with a descending key, so
    * buckets prefix-sum in descending bucket order. Internal columns are
    * dropped before returning; `keys` move to the front. */
  def prefix(df: DataFrame, bucket: Column, order: Seq[Column],
      bucketDesc: Boolean = false, keys: Seq[String] = Nil,
      rowNumber: Option[String] = None, sums: Seq[(String, String)] = Nil,
      inclusive: Boolean = true): DataFrame = {
    require(rowNumber.nonEmpty || sums.nonEmpty, "nothing to compute")
    val bk = keys :+ "__tl_bkt"
    val b = df.withColumn("__tl_bkt", bucket)
    val bOrd = if (bucketDesc) col("__tl_bkt").desc else col("__tl_bkt").asc
    // (histogram column, offset column, histogram aggregate)
    val hist = rowNumber.map(_ =>
        ("__tl_bn", "__tl_off", count(lit(1)))).toSeq ++
      sums.zipWithIndex.map { case ((in, _), i) =>
        (s"__tl_bs$i", s"__tl_off$i", sum(col(in))) }
    val before = Window.partitionBy(keys.map(col): _*).orderBy(bOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = hist.map { case (h, _, agg) => agg.as(h) }
    val offs = b.groupBy(bk.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(bk.map(col) ++ hist.map { case (h, o, _) =>
        coalesce(sum(col(h)).over(before), lit(0L)).as(o) }: _*)
    val local = Window.partitionBy(bk.map(col): _*).orderBy(order: _*)
    val frame = local.rowsBetween(Window.unboundedPreceding,
      if (inclusive) Window.currentRow else -1L)
    val outs = rowNumber.map(o =>
        o -> (col("__tl_off") + row_number().over(local))).toSeq ++
      sums.zipWithIndex.map { case ((in, out), i) =>
        val s = sum(col(in)).over(frame)
        out -> (col(s"__tl_off$i")
          + (if (inclusive) s else coalesce(s, lit(0L))))
      }
    b.join(broadcast(offs), bk)
      .withColumns(scala.collection.immutable.ListMap(outs: _*))
      .drop("__tl_bkt" +: hist.map(_._2): _*)
  }

  /** Append column `out` = 1-based global row_number over `order` — the
    * [[prefix]] case with no sums. */
  def rowNumber(df: DataFrame, bucket: Column, order: Seq[Column],
      bucketDesc: Boolean, out: String): DataFrame =
    prefix(df, bucket, order, bucketDesc, rowNumber = Some(out))

  /** `ntile(buckets)` bucket id from a 1-based global rank `r` over `n`
    * total rows — the exact Spark/DuckDB NTILE fill rule (the first
    * n mod b buckets take one extra row), as PURE INTEGER arithmetic
    * (`div`, never `/` — Column `/` promotes to double division, whose
    * correctly-rounded quotient can land exactly ON the next integer
    * when the true quotient is within an ulp below it, flipping a
    * bucket boundary past ~2²⁶ rows per bucket) so an ntile window over
    * an unbounded relation can ride [[rowNumber]] instead. Emits INT
    * like the native ntile. */
  def ntileFromRank(r: Column, n: Column, buckets: Int): Column = {
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val bk = lit(buckets.toLong)
    val size = idiv(n, bk)
    val rem = n % bk
    val cut = (size + lit(1L)) * rem
    when(r <= cut, idiv(r - 1, size + lit(1L)) + lit(1L))
      .otherwise(rem + idiv(r - cut - 1, size) + lit(1L))
      .cast("int")
  }
}
