package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1–S5: the producer leg (reference producer/producer.py) as declarative
  * Spark: header-CSV scan, row cap, type-coercing projection with
  * 0.0-default (F1), JSON publish.
  *
  * Scale: the coercion is a single Project over the scan (pushed column
  * pruning, one plan node for all 25 casts — not the reference's 25
  * stacked withColumns); the cap is a `limit`, which Spark executes
  * incrementally (no full scan when the limit is small).
  */
object Replay {

  /** F1 `to_float_or_zero`: cast with 0.0 default (producer.py:53-58,
    * api/api.py:59-65). `try_cast` (not `cast`) because Spark 4 runs ANSI
    * mode where failed string casts throw; the reference's semantics are
    * empty/invalid → 0.0. */
  def toFloatOrZero(c: Column): Column =
    coalesce(c.cast(StringType).try_cast(FloatType), lit(0.0f))

  /** Flag column marking values that fell back to the default — the
    * engine's order-safe replacement for the reference's driver-side
    * warning list (producer.py:57, api/api.py:57-59). */
  def coercionFailed(c: Column): Column =
    c.isNotNull && c.cast(StringType).try_cast(FloatType).isNull

  /** S1: header-CSV scan with explicit all-string schema (no inferSchema
    * second pass — spark_trainer.py:46's choice, kept deliberately). */
  def csvScan(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(path)

  /** S3: type-coercing projection — the 25 declared numeric columns coerce
    * via [[toFloatOrZero]]; unknown columns pass through untouched
    * (producer.py:50-60). One select, not N withColumns. */
  def coerceNumeric(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    val projected = df.columns.map { c =>
      if (numericCols.contains(c)) toFloatOrZero(col(c)).as(c) else col(c)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** S1+S2+S3 composed: scan, cap (MAX_ROWS_TO_SEND, producer.py:14), coerce. */
  def replay(spark: SparkSession, path: String, columns: Seq[String],
      numericCols: Seq[String], maxRows: Int): DataFrame =
    coerceNumeric(csvScan(spark, path, columns).limit(maxRows), numericCols)

  /** S4: publish as JSON values through a transport (producer.py:19-21,62). */
  def publish(df: DataFrame, transport: StreamTransport): Unit =
    transport.publish(df)

  /** S5: throughput throttle (producer.py:69 — a per-message
    * `time.sleep` pacing the publish loop). The Spark-native form
    * bounds the replay rate DECLARATIVELY instead of sleeping on the
    * driver: the transport source admits at most one topic file per
    * micro-batch (`maxFilesPerTrigger`, the rate numerator) and
    * micro-batches fire no faster than `intervalMs`
    * (`Trigger.ProcessingTime`, the rate denominator), so downstream
    * sees ≤ rows-per-file rows per interval — backpressure by plan.
    * Each non-empty micro-batch is recorded as (batchId, rows,
    * wall-clock ms); the query stops once `expectRows` total rows
    * arrived (or `timeoutMs` elapsed) and the per-batch panel is
    * returned for rate inspection. At production scale the same two
    * knobs bound a Kafka replay (`maxOffsetsPerTrigger` swaps in as
    * the numerator); nothing here is file-layout-specific. */
  def pacedReplay(spark: SparkSession, transport: StreamTransport,
      intervalMs: Long, expectRows: Long,
      timeoutMs: Long = 120000L): Seq[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.Trigger
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = graft.schema.Storage.tempDir("graft-paced")
    val q = transport.source(spark).writeStream
      .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val n = df.count()
        if (n > 0) {
          batches.add((id, n, System.currentTimeMillis()))
          seen.addAndGet(n)
        }
        ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (seen.get() < expectRows &&
          System.currentTimeMillis() < deadline && q.isActive)
        Thread.sleep(25)
    } finally {
      try q.stop() catch { case _: Throwable => () }
      try q.awaitTermination(30000) catch { case _: Throwable => () }
      graft.schema.Storage.delete(ckpt)
    }
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.sortBy(_._1)
  }
}
