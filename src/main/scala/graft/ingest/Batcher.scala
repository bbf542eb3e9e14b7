package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import graft.query.TwoLevel

/** S6–S10: count-based tumbling batch windows (reference
  * consumer/consumer.py:37-94): buffer the stream, emit one batch per
  * BATCH_SIZE rows, cap at NUM_BATCHES_TO_WRITE, flush the remainder at
  * stream end.
  *
  * Structured Streaming has no count trigger, so three faithful forms:
  *
  *   1. [[assignBatches]] — batch emulation over a numeric ordering
  *      column, scale-safe: two-level rank (value-range bucket histogram
  *      + prefix-sum offsets + parallel within-bucket windows; the only
  *      single-partition window runs over the histogram, never the data).
  *   2. [[assignBatchesArrivalOrder]] — the 100 TB path: per-partition
  *      counts + prefix-sum offsets, then a zipWithIndex-style map. The
  *      driver holds ONE long per partition (not rows); no global sort, no
  *      shuffle — arrival order is partition-major, exactly the reference's
  *      "order the consumer happened to see".
  *   3. [[streamBatches]] — the streaming form: foreachBatch + a running
  *      row-count offset (the consumer's buffer counter), one staging
  *      write per micro-batch, AvailableNow trigger = the reference's
  *      drain-then-stop idle timeout.
  */
object Batcher {

  /** Result of a capped batching pass. `totalRows` is the pre-cap row
    * count (already computed by the counting pass — callers never need a
    * second `count()`); `cleanup` releases any storage the pass pinned
    * (call it once `batches` has been materialized/written). */
  final case class BatchingResult(
      batches: DataFrame,        // rows with batch_id assigned, within cap
      remainderRows: Long,       // rows past the cap (discarded or flushed)
      nBatches: Int,
      totalRows: Long = 0L,
      cleanup: () => Unit = () => ())

  /** (1) Oracle-able emulation: batch_id by row rank over `orderCol`
    * (must be numeric; ranks of tied values are order-arbitrary, so use a
    * unique column). Cap: ranks past `maxBatches * batchSize` drop
    * (consumer.py:60,80-82).
    *
    * Scale-safe global ranking without a single-partition sort: the
    * [[graft.query.TwoLevel]] rank, rows bucketed by the VALUE range of
    * `orderCol` (deterministic under any physical partitioning). */
  def assignBatches(df: DataFrame, orderCol: String, batchSize: Int,
      maxBatches: Int, bucketWidth: Long = 4096L): DataFrame =
    TwoLevel.rowNumber(df, floor(col(orderCol) / bucketWidth),
        Seq(col(orderCol)), bucketDesc = false, "rn")
      .withColumn("batch_id", floor((col("rn") - 1) / batchSize).cast("int"))
      .filter(col("batch_id") < maxBatches)
      .drop("rn")

  /** (2) Scale path: arrival-order (partition-major) batch assignment with
    * no global sort. Stage 1 counts rows per partition (driver receives
    * numPartitions longs); stage 2 maps each row to offset(partition) +
    * local index. Both stages are narrow — zero shuffle at any scale.
    *
    * The RDD is persisted (memory, spilling to disk) before the counting
    * pass so both passes observe IDENTICAL partition contents even when the
    * upstream lineage is nondeterministic under recomputation (task retry
    * after a shuffle, sampling, nondeterministic sources) — otherwise the
    * counts could diverge from the assignment pass and produce colliding
    * seq values. Call `result.cleanup()` once `batches` is materialized.
    */
  def assignBatchesArrivalOrder(df: DataFrame, batchSize: Int,
      maxBatches: Int): BatchingResult = {
    val spark = df.sparkSession
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts: Array[Long] = rdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets: Array[Long] = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val cap = batchSize.toLong * maxBatches
    val schema = df.schema
      .add("seq", "long").add("batch_id", "int")
    val assigned = spark.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        val base = offsets(i)
        it.zipWithIndex.map { case (r, j) =>
          val seq = base + j
          Row.fromSeq(r.toSeq :+ seq :+ (seq / batchSize).toInt)
        }
      }, schema)
    BatchingResult(
      batches = assigned.filter(col("batch_id") < maxBatches),
      remainderRows = math.max(0L, total - math.min(total, cap)),
      nBatches = math.min(maxBatches.toLong, (total + batchSize - 1) / batchSize).toInt,
      totalRows = total,
      cleanup = () => { rdd.unpersist(blocking = false); (): Unit })
  }

  /** (3) Streaming form. Consumes `transport`'s typed source with
    * AvailableNow (drain-then-stop ≈ consumer_timeout_ms), maintains the
    * running row count across micro-batches (the consumer's buffer
    * counter), and stages each micro-batch to `stagingDir/mb=<batchId>`
    * parquet with a global `seq`. After the drain, completed count-batches
    * are written as `batch_id=K` parquet partitions under `outDir`. With
    * `flushRemainder` (the reference default) a trailing partial batch is
    * written when the cap is not yet reached (consumer.py:85-94
    * end-of-stream flush); rows past the cap are always discarded
    * (consumer.py:60,80-82).
    *
    * Staging a micro-batch costs ONE Spark job: the staging write itself
    * assigns `seq` = per-partition base + partition-local arrival index
    * and counts its rows through an [[org.apache.spark.sql.Observation]].
    * A micro-batch with more than one input partition first runs a
    * per-partition count job to learn the bases; a one-partition
    * micro-batch (one topic file per trigger) needs no count. Nothing is
    * persisted: foreachBatch hands over a fixed RDD over a replayable
    * source, so the count and the write read the same partitions, and the
    * write's observed row count and per-partition ranges are checked
    * against the count. A source that reads differently a second time
    * fails the micro-batch (its staged dir is removed) instead of leaving
    * `seq` gaps or collisions.
    *
    * The sink is IDEMPOTENT per micro-batch: each batchId writes its own
    * subdirectory with overwrite semantics, so a checkpoint replay after a
    * crash between the staging write and the offset commit re-writes the
    * same subdir (or skips it when its `_SUCCESS` marker already exists)
    * instead of appending duplicates. The seq base for batchId b is the
    * committed row count of batchIds < b — fully derivable from the staged
    * `_SUCCESS`-marked subdirs on restart, so replays reproduce identical
    * seq values. Rows never collect to the driver.
    */
  def streamBatches(spark: SparkSession, transport: StreamTransport,
      schema: StructType, stagingDir: String, outDir: String,
      batchSize: Int, maxBatches: Int, checkpointDir: String,
      flushRemainder: Boolean = true): BatchingResult = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val stagingPath = new Path(stagingDir)
    // explicit schemas: no schema-inference job on any read below
    val stagedSchema = schema.add("seq", LongType)
    def readStaged(paths: Seq[String]): DataFrame =
      spark.read.schema(stagedSchema).parquet(paths: _*)
    // committed (= _SUCCESS-marked) staged micro-batches, by batchId
    def committed(): Seq[(Long, Path)] = {
      val fs = stagingPath.getFileSystem(hconf)
      if (!fs.exists(stagingPath)) Seq.empty
      else fs.listStatus(stagingPath).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("mb=") &&
            fs.exists(new Path(st.getPath, "_SUCCESS")) =>
          (st.getPath.getName.stripPrefix("mb=").toLong, st.getPath)
      }.sortBy(_._1)
    }
    // per-batchId committed row counts; recovered lazily on the first
    // micro-batch after a restart (checkpoint replays only uncommitted
    // offsets, so earlier batchIds are always _SUCCESS-complete)
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    var recovered = false
    val query: StreamingQuery = transport.typedSource(spark, schema)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (mb: DataFrame, bid: Long) =>
        val fs = stagingPath.getFileSystem(hconf)
        if (!recovered) {
          committed().filter(_._1 < bid).foreach { case (id, p) =>
            counts(id) = readStaged(Seq(p.toString)).count()
          }
          recovered = true
        }
        val dir = new Path(stagingPath, s"mb=$bid")
        counts(bid) =
          if (fs.exists(new Path(dir, "_SUCCESS")))
            // replayed batch already fully staged: no-op (keep its count)
            readStaged(Seq(dir.toString)).count()
          else
            // seq base = rows committed before this batchId; overwrite makes
            // a partial dir from a mid-write crash harmless on replay
            stageMicroBatch(mb, counts.view.filterKeys(_ < bid).values.sum, dir, fs)
        (): Unit
      }
      .start()
    graft.streaming.StreamQueries.awaitBounded(spark, query, "count_batcher")

    val stagedDirs = committed()
    // rows seen = the counts this drain staged or recovered, plus a count
    // of the committed dirs it never touched (a restart that drains zero
    // new micro-batches never fires foreachBatch)
    val untouched = stagedDirs.collect { case (id, p) if !counts.contains(id) => p.toString }
    val rowsSeen = stagedDirs.flatMap { case (id, _) => counts.get(id) }.sum +
      (if (untouched.isEmpty) 0L else readStaged(untouched).count())
    val staged =
      (if (stagedDirs.isEmpty) spark.createDataFrame(
         java.util.List.of[Row](), stagedSchema)
       else readStaged(stagedDirs.map(_._2.toString)))
        .withColumn("batch_id", (col("seq") / batchSize).cast("int"))
    val capped = staged.filter(col("batch_id") < maxBatches)
    val fullOnly =
      if (flushRemainder) capped
      else capped.filter(col("batch_id") <
        least(lit(maxBatches), floor(lit(rowsSeen) / batchSize)).cast("int"))
    fullOnly.write.mode("overwrite").partitionBy("batch_id").parquet(outDir)
    val written = math.min(maxBatches.toLong,
      if (flushRemainder) (rowsSeen + batchSize - 1) / batchSize
      else rowsSeen / batchSize)
    BatchingResult(
      batches = spark.read.schema(stagedSchema.add("batch_id", IntegerType))
        .parquet(outDir),
      remainderRows = rowsSeen - math.min(rowsSeen, written * batchSize),
      nBatches = written.toInt,
      totalRows = rowsSeen)
  }

  /** Stages one micro-batch to `dir` in one write job and returns its row
    * count. `seq` = bounds(p) + the row's index within input partition p
    * (the low 33 bits of `monotonically_increasing_id`). The bounds enter
    * as one array literal indexed by `spark_partition_id()`, so the
    * generated code is the same for every micro-batch. */
  private def stageMicroBatch(mb: DataFrame, base: Long,
      dir: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Long = {
    val rdd = mb.queryExecution.toRdd
    val counted = rdd.getNumPartitions > 1
    // partition p owns seq range [bounds(p), bounds(p + 1))
    val bounds: Array[Long] =
      if (!counted) Array(base, Long.MaxValue)
      else rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
        .collect().sortBy(_._1).map(_._2).scanLeft(base)(_ + _)
    val (part, boundsLit) = (spark_partition_id(), typedLit(bounds))
    val obs = org.apache.spark.sql.Observation()
    mb.withColumn("seq", element_at(boundsLit, part + 1) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .observe(obs, count(lit(1)).as("rows"),
        count_if(col("seq") >= element_at(boundsLit, part + 2)).as("overflow"))
      .write.mode("overwrite").parquet(dir.toString)
    val observed = obs.get
    val rows = observed("rows").asInstanceOf[Long]
    val overflow = observed("overflow").asInstanceOf[Long]
    if (counted && (rows != bounds.last - base || overflow != 0L)) {
      fs.delete(dir, true)
      throw new IllegalStateException(s"micro-batch $dir read differently on " +
        s"its second pass: counted ${bounds.last - base} rows, wrote $rows " +
        s"($overflow outside their partition's seq range); the source is " +
        "not replayable")
    }
    rows
  }

  /** S10 CSV parity mode: materialize a batched frame (the
    * [[streamBatches]]/[[assignBatchesArrivalOrder]] output, carrying
    * `seq` + `batch_id`) as the reference's header-CSV batch files —
    * one `batch_<k>.csv` per batch, header row first, data columns in
    * stream-schema order, rows in seq order (consumer.py:61-66: a
    * DictWriter with headers from the first message's key order).
    *
    * Each batch coalesces to ONE writer task — faithful to the
    * reference's single-file-per-batch contract and safe at any corpus
    * size because a batch is ≤ batchSize rows BY DEFINITION (the cap is
    * upstream; this never sees unbounded data). The part file is
    * renamed to the reference's exact `batch_<k>.csv` name. Returns the
    * batch ids written. */
  def writeCsvBatches(spark: SparkSession, batches: DataFrame,
      outDir: String): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val dataCols = batches.columns.filterNot(Set("seq", "batch_id")).toSeq
    val ids = batches.select(col("batch_id")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(out)
    ids.foreach { b =>
      val tmp = new Path(out, s"_tmp_batch_$b")
      batches.filter(col("batch_id") === b)
        .select((dataCols :+ "seq").map(col): _*)
        .coalesce(1)
        .sortWithinPartitions(col("seq"))
        .drop("seq")
        .write.option("header", "true").mode("overwrite").csv(tmp.toString)
      val part = fs.listStatus(tmp)
        .find(_.getPath.getName.startsWith("part-"))
        .getOrElse(sys.error(s"csv writer produced no part file for batch $b"))
        .getPath
      val target = new Path(out, s"batch_$b.csv")
      fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(tmp, true)
    }
    ids
  }
}
