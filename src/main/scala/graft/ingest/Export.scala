package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.TokenHash
import graft.schema.Schemas.table

/** Training-data export: the curated corpus leaves the engine as hash-
  * sharded JSONL — the interchange format tokenizer/training jobs read.
  *
  * Shards are assigned by the deterministic md5-derived [[TokenHash.hash60]]
  * of the doc id (never `rand()`, never round-robin): the same corpus
  * exports to the same shards on any cluster, any partitioning, any
  * retry — which is what makes a 100 TB export resumable and its
  * downstream consumers cache-stable. Hash sharding also balances shard
  * sizes regardless of doc_id density (a range-sharded export inherits
  * whatever skew the id space has).
  */
object Export {

  /** Deterministic shard id for each document. */
  private def shardCol(nShards: Int) =
    pmod(TokenHash.hash60(concat(col("doc_id").cast("string"), lit(":shard"))),
      lit(nShards.toLong))

  /** Write the documents table as `nShards` JSONL shard directories
    * under `outDir` (`shard=<i>/part-*.json`, one JSON object per
    * line). One shuffle on the shard key; each shard writes in
    * parallel. Returns the written count per shard (read back from the
    * files — the export is its own witness). */
  def exportJsonlSharded(spark: SparkSession, dir: String, outDir: String,
      nShards: Int = 8): DataFrame = {
    table(spark, dir, "documents")
      .withColumn("shard", shardCol(nShards))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").json(outDir)
    spark.read.json(outDir)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard"))
  }

  /** The export manifest as a pure query (no filesystem writes): per
    * shard, the doc count and total text characters — the size
    * accounting an export job publishes next to its shards. Map-only
    * shard assignment + one map-side-combined aggregation to `nShards`
    * rows. */
  def exportJsonlManifest(spark: SparkSession, dir: String,
      nShards: Int = 8): DataFrame =
    table(spark, dir, "documents")
      .withColumn("shard", shardCol(nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("text_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
}
