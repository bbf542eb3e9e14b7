package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{IndexCache, Storage}

/** Storage-format coverage beyond parquet: the same tables served
  * through Spark's ORC and JSON-lines sources — a lakehouse engine
  * reads whatever the upstream wrote. Each source is materialized ONCE
  * per (corpus dir, table, format) into a temp location (deleted at JVM
  * exit) and every query scans that copy, so the queries measure the
  * SOURCE path (reader, pushdown, pruning), not the conversion.
  *
  * Correctness: content is byte-identical to the parquet tables —
  * doubles survive both ORC (binary) and JSON (shortest-repr text,
  * which round-trips IEEE doubles exactly) — so the DuckDB oracles run
  * the same SQL over the original parquet and must hash-match.
  *
  * Scale: at 100 TB the materialization step disappears (the data
  * already lives in the lake in its native format); both ORC and JSON
  * sources split by file/stripe and prune columns, and ORC additionally
  * takes predicate pushdown (asserted by the plan spec).
  */
object Formats {

  // Content-fingerprinted: a regenerated corpus at the SAME path gets a
  // fresh conversion, so the converted copy can never silently serve stale
  // data to source_orc_agg/source_jsonl_agg while the oracle reads the
  // fresh parquet. The SUPERSEDED conversion's dir is deleted on the
  // rebuild instead of lingering until JVM exit.
  private def materialized(spark: SparkSession, dir: String,
      table: String, fmt: String): String =
    IndexCache(spark, "formats.copy", (dir, table, fmt),
        Seq(s"$dir/$table.parquet")) {
      val out = Storage.tempDir(s"graft-$fmt-$table")
      graft.schema.Schemas.table(spark, dir, table)
        .write.mode("overwrite").format(fmt).save(out)
      out
    }(Storage.delete)

  /** ORC source: date-filtered priority rollup over orders served from
    * ORC. The date predicate pushes into the ORC reader (stripe-level
    * min/max skipping at scale); money sums as exact cents. */
  def orcSourceAgg(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(materialized(spark, dir, "orders", "orc"))
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("value_c"))
      .orderBy(col("o_orderpriority"))

  /** Schema-evolution source: one parquet directory whose files come
    * from TWO pipeline generations — legacy files (even order keys)
    * lack `o_orderpriority`, current files (odd keys) carry it — read
    * through `mergeSchema=true`, the lakehouse answer to columns added
    * mid-stream. Legacy rows surface as NULLs in the evolved column;
    * the rollup tags them `<legacy>` so the oracle can replay the
    * split arithmetically from the original table. At 100 TB merged
    * reads cost one footer per file (schema union on the driver);
    * per-file column absence is free (the reader fills nulls), so
    * evolution never forces a rewrite of old data. */
  def schemaEvolutionAgg(spark: SparkSession, dir: String): DataFrame = {
    val evoDir = IndexCache(spark, "formats.copy", (dir, "orders", "pqevo"),
        Seq(s"$dir/orders.parquet")) {
      val out = Storage.tempDir("graft-pqevo-orders")
      val orders = graft.schema.Schemas.table(spark, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(out)
      orders.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("append").parquet(out)
      out
    }(Storage.delete)
    spark.read.option("mergeSchema", "true").parquet(evoDir)
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>"))
        .as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("value_c"))
      .orderBy(col("priority"))
  }

  /** JSON-lines source: segment rollup over customer served from JSONL
    * with an EXPLICIT schema (no inference pass — at 100 TB schema
    * inference is a full extra scan). Account balances as exact cents
    * (JSON shortest-repr text round-trips the doubles bit-exactly). */
  def jsonlSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.schema.Schemas.table(spark, dir, "customer").schema
    spark.read.schema(schema)
      .json(materialized(spark, dir, "customer", "json"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(round(col("c_acctbal") * lit(100)).cast("long"))
          .as("acctbal_c"))
      .orderBy(col("c_mktsegment"))
  }
}
