package graft

import org.apache.spark.sql.functions._
import graft.query.{Dedup, Warehouse}
import graft.query.stats.{Anomaly, Drift, TimeSeries}
import graft.schema.Schemas

/** Batch-side immunity to events.ts physical-type drift — the failure
  * mode that broke 12 queries in one driver round: the testdata
  * generator has shipped `ts` as TIMESTAMP(NANOS) (LongType under
  * nanosAsLong), TIMESTAMP(MICROS) NTZ, and UTC-adjusted
  * TIMESTAMP(MICROS) across regenerations, and a query that assumes one
  * shape silently compresses event time 1000× when another shows up
  * (windows collapse, interval joins go near-cartesian).
  *
  * [[Schemas.events]] normalizes all three; this spec PROVES it by
  * exporting the same events under each physical shape and requiring
  * byte-identical results from representative event-time batch
  * operators. The streaming twin is [[StreamTsTypeSpec]]. */
class BatchTsTypeSpec extends SparkSpec {

  /** Write sf events as `events.parquet` under a fresh dir in the given
    * physical shape: "nanos" = INT64 epoch-nanos (the LongType shape the
    * legacy flag surfaces), "ntz" = TIMESTAMP_NTZ micros, "utc" = plain
    * UTC-adjusted TimestampType micros. */
  private def exportEvents(shape: String): String = {
    val base = java.nio.file.Files.createTempDirectory(s"graft-btstype-$shape")
    base.toFile.deleteOnExit()
    val ev = Schemas.events(spark, sf)
    val out = shape match {
      case "nanos" => ev.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case "ntz"   => ev.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case "utc"   => ev
    }
    val stage = base.resolve("stage").toString
    out.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, base.resolve("events.parquet"))
    base.toString
  }

  private val probes: Seq[(String, String => Seq[String])] = Seq(
    "ts_interval_union" ->
      (d => TimeSeries.tsIntervalUnion(spark, d).collect().map(_.toString).toSeq),
    "dedup_time_window" ->
      (d => Dedup.dedupTimeWindow(spark, d).collect().map(_.toString).toSeq),
    "attribution_linear" ->
      (d => Warehouse.attributionLinear(spark, d).collect().map(_.toString).toSeq),
    "anomaly_rolling_z" ->
      (d => Anomaly.anomalyRollingZ(spark, d).collect().map(_.toString).toSeq),
    "drift_psi" ->
      (d => Drift.driftPsi(spark, d).collect().map(_.toString).toSeq),
    "normalized events scan" ->
      (d => Schemas.events(spark, d)
        .select(col("event_id"), col("ts"), col("value"))
        .orderBy(col("event_id")).collect().map(_.toString).toSeq))

  test("batch event-time operators are identical under all three stored ts shapes") {
    val dirs = Seq("nanos", "ntz", "utc").map(s => s -> exportEvents(s))
    // every dir must actually carry the intended physical shape —
    // otherwise this spec could silently test utc three times
    val tsTypes = dirs.map { case (shape, d) =>
      shape -> spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
    }.toMap
    assert(tsTypes("nanos") == org.apache.spark.sql.types.LongType)
    assert(tsTypes("ntz") == org.apache.spark.sql.types.TimestampNTZType)
    assert(tsTypes("utc") == org.apache.spark.sql.types.TimestampType)
    probes.foreach { case (name, run) =>
      val results = dirs.map { case (shape, d) => shape -> run(d) }
      val (refShape, ref) = results.head
      results.tail.foreach { case (shape, got) =>
        assert(got == ref,
          s"$name: $shape result diverges from $refShape " +
            s"(sizes ${got.length} vs ${ref.length})")
      }
      assert(ref.nonEmpty, s"$name: probe must produce rows")
    }
  }
}
