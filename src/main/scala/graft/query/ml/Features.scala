package graft.query
package ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas.table

/** The ML family's feature and split queries: train/test split, class
  * weights, binning, target encoding, WoE/IV and mutual information. */
object Features {

  /** Deterministic train/val/test split (80/10/10) by md5 of the doc id —
    * reproducible across engines, runs, and partitionings (never rand()),
    * the split every downstream training job re-derives instead of
    * storing. Emits per-split size/token stats. Map-only until the final
    * 3-row aggregate. */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val m = TokenHash.hash60(concat(col("doc_id").cast("string"), lit(":split"))) % 10
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(TokenHash.tokens(col("text"))).cast("long").as("tok"),
        when(m < 8, "train").when(m === 8, "val").otherwise("test")
          .as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        (sum(col("tok")).cast("double") / count(lit(1)))
          .cast("float").as("avg_tokens"))
      .orderBy(col("split"))
  }

  /** Class rebalancing weights: inverse-frequency weight per event_type
    * (total / (n_classes · class_count)) attached to each row — the
    * loss-reweighting input for skewed label mixes. The per-class count
    * table and the scalar totals are broadcast (5 rows + 1 row); the fact
    * scan is never shuffled. */
  def classWeights(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"))
    val classCounts = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_class"))
    val totals = ev.agg(count(lit(1)).as("n_total"),
      countDistinct(col("event_type")).as("n_classes"))
    ev.filter(col("event_id") < 100)
      .join(broadcast(classCounts), Seq("event_type"))
      .crossJoin(broadcast(totals))
      .select(col("event_id"), col("event_type"),
        (col("n_total").cast("double")
          / (col("n_classes") * col("n_class"))).as("weight"))
      .orderBy(col("event_id"))
  }

  /** Equal-frequency (decile) discretization: bin a numeric feature by
    * exact global decile boundaries — the feature-engineering binning
    * step. Scale shape: the boundaries are ONE 9-element row (a single
    * percentile aggregate) broadcast to the fact scan; the per-row bin is
    * a 9-comparison fold — never a global ntile sort, which would be a
    * single-partition window over the data. event_id < 2000 bounds the
    * declared output; the binning itself is corpus-wide. */
  def featureBinning(spark: SparkSession, dir: String,
      maxId: Long = 2000L): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("value"))
    val bounds = ev.agg(expr(
      "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("b"))
    ev.filter(col("event_id") < maxId)
      .crossJoin(broadcast(bounds))
      .select(col("event_id"), col("value"),
        (size(filter(col("b"), x => col("value") > x)) + 1)
          .cast("int").as("bin"))
      .orderBy(col("event_id"))
  }

  /** Leave-one-out target encoding with additive smoothing: replace the
    * categorical `event_type` by the mean of `value` over the OTHER
    * rows of its category, shrunk toward the global mean by a prior
    * weight `m` — the classic high-cardinality categorical encoder,
    * leave-one-out so a row never leaks its own target into its own
    * feature.
    *
    * Exactness: values ride ×1e6 LONG; the encoding
    * ((Σg − v)·N + m·Σ) / ((ng − 1 + m)·N) is assembled as ONE exact
    * integer numerator and denominator (the deferred-division
    * discipline), so the single double division is bit-identical on
    * every engine.
    *
    * Scale shape: one map-side-combined aggregate per category (k rows)
    * plus a 1-row global aggregate, both broadcast back onto the fact
    * scan — no fact shuffle at all; the window-free LOO form is what
    * keeps this encoder one-pass on huge fact tables. BOTH sides of the
    * division ride DECIMAL(38,0)/HUGEINT: the numerator cross-products
    * (Σ·N crosses 2⁶³ just past ~10⁵ rows/category at this ×10⁶ value
    * scale — the x10 sweep caught the BIGINT form overflowing) AND the
    * denominator (ng−1+m)·N, which is the same square-the-row-count
    * shape (~N²/k, crossing 2⁶³ near 10⁹–10¹⁰ rows). */
  def featureTargetEncode(spark: SparkSession, dir: String,
      m: Long = 10L, maxId: Long = 2000L): DataFrame = {
    val dec38 =
      org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(1e6)).cast("long").as("v6"))
    val grp = ev.groupBy(col("event_type"))
      .agg(sum(col("v6")).as("sg"), count(lit(1)).as("ng"))
    val glob = ev.agg(sum(col("v6")).as("s"), count(lit(1)).as("n"))
    ev.filter(col("event_id") < maxId)
      .join(broadcast(grp), Seq("event_type"))
      .crossJoin(broadcast(glob))
      .select(col("event_id"), col("event_type"),
        (((col("sg") - col("v6")).cast(dec38) * col("n")
          + lit(m) * col("s").cast(dec38))
          .cast("double") /
          ((col("ng") - 1 + lit(m)).cast(dec38) * col("n"))
            .cast("double") / lit(1e6))
          .as("loo_te"))
      .orderBy(col("event_id"))
  }

  /** Weight-of-evidence / information-value profile of a categorical
    * feature against a binary outcome (here: `event_type` vs
    * value > `tau`) — the credit-scoring-standard encoder and
    * feature-screening statistic. WOE_i = ln(((g_i+0.5)/G)/((b_i+0.5)/B))
    * with half-count smoothing; IV_i = ((g_i+0.5)/G − (b_i+0.5)/B)·WOE_i.
    *
    * Exactness: counts are integers, so each WOE is ln of ONE exact
    * integer rational ((2g_i+1)·B / ((2b_i+1)·G)) and the IV factor is
    * one exact integer numerator over one exact denominator — a single
    * double division each; the ln outputs ride the REAL cast that
    * absorbs last-ulp libm differences.
    *
    * Scale shape: one map-side-combined aggregate to ≤|categories| rows
    * plus a broadcast 1-row global — the fact table never shuffles.
    * This is why WOE encoding is viable as a single pass at 100 TB. */
  def featureWoeIv(spark: SparkSession, dir: String,
      tau: Double = 50.0): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type"),
        when(col("value") > tau, lit(1L)).otherwise(lit(0L)).as("y"))
    val byCat = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("good"))
      .withColumn("bad", col("n") - col("good"))
    val glob = byCat.agg(sum(col("good")).as("gt"), sum(col("bad")).as("bt"))
    byCat.crossJoin(broadcast(glob))
      .select(col("event_type"), col("n"), col("good"), col("bad"),
        log(((lit(2) * col("good") + 1) * col("bt")).cast("double") /
          ((lit(2) * col("bad") + 1) * col("gt")).cast("double"))
          .cast("float").as("woe"),
        (((lit(2) * col("good") + 1) * col("bt")
          - (lit(2) * col("bad") + 1) * col("gt")).cast("double") /
          (lit(2) * col("gt") * col("bt")).cast("double") *
          log(((lit(2) * col("good") + 1) * col("bt")).cast("double") /
            ((lit(2) * col("bad") + 1) * col("gt")).cast("double")))
          .cast("float").as("iv_term"))
      .orderBy(col("event_type"))
  }

  /** Mutual-information terms between a categorical feature
    * (event_type) and a banded target (floor(value/25)): per (x, y)
    * cell, the exact joint/marginal counts and the MI contribution
    * (n_xy/n)·ln(n_xy·n / (n_x·n_y)) — the feature-selection signal a
    * training pipeline ranks features by (alongside [[featureWoeIv]]).
    * Terms are emitted PER CELL, never pre-summed: a grouped sum of
    * ln-terms would be engine-order-dependent in the last ulp (the
    * drift_psi_value discipline); the consumer sums the ≤ 25 rows.
    *
    * Scale shape: one map-side-combined (x, y) aggregate (≤ 25 cells at
    * any corpus size); marginals broadcast back onto the cells. All
    * counts exact integers; ln runs once per cell and the REAL cast
    * absorbs libm's last ulp. */
  def featureMutualInfoTerms(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.schema.Schemas.events(spark, dir)
      .select(col("event_type").as("x"),
        floor(col("value") / lit(25.0)).cast("int").as("y"))
    val joint = ev.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = ev.groupBy(col("x")).agg(count(lit(1)).as("n_x"))
    val my = ev.groupBy(col("y")).agg(count(lit(1)).as("n_y"))
    val tot = ev.agg(count(lit(1)).as("n"))
    joint
      .join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("n"),
        ((col("n_xy").cast("double") / col("n").cast("double")) *
          log((col("n_xy") * col("n")).cast("double") /
            (col("n_x") * col("n_y")).cast("double")))
          .cast("float").as("mi_term"))
      .orderBy(col("x"), col("y"))
  }
}
