package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.{IndexCache, Storage}

/** Physical layout copies of the fact tables shared by the relational
  * and warehouse families: the hive-partitioned `events` copy that
  * partition-pruning and dynamic-partition-pruning queries read. */
object Layouts {

  // one partitioned copy of events per (session, sf dir, events
  // generation) — the "table layout"
  private[query] def partitionedEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = IndexCache(spark, "relational.partitionedEvents", dir,
        Seq(s"$dir/events.parquet")) {
      val tmp = Storage.tempDir("events_by_type")
      graft.schema.Schemas.events(spark, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      tmp
    }(Storage.delete)
    spark.read.parquet(out)
  }
}
