package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ingest.{Batcher, FileJsonTransport, Replay, StreamTransport}
import graft.schema.Schemas

/** Drops the first row it sees after being armed: a source that reads
  * differently the second time. */
object DropFirstRowOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val eventSchema =
    StructType.fromDDL("event_id LONG, user_id LONG, value DOUBLE")

  /** One topic file holding the 1000 events. */
  private def oneFileTopic(prefix: String): FileJsonTransport = {
    val t = new FileJsonTransport(tmp(prefix))
    t.publish(Schemas.events(spark, sf)
      .select($"event_id", $"user_id", $"value").coalesce(1))
    t
  }

  /** Runs `body` with a split size small enough that one topic file
    * becomes several input partitions; restores the settings after. */
  private def withSmallSplits[T](body: => T): T = {
    val settings = Seq("spark.sql.files.maxPartitionBytes" -> "8192",
      "spark.sql.files.openCostInBytes" -> "1")
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("F1 toFloatOrZero: numeric round-trip, invalid/empty/null -> 0.0") {
    val df = Seq("1.5", "-3", "abc", "", null, "  ", "2e2")
      .toDF("raw")
      .select(Replay.toFloatOrZero(col("raw")).as("v"),
        Replay.coercionFailed(col("raw")).as("failed"))
    val rows = df.collect().map(r => (r.getFloat(0), r.getBoolean(1)))
    assert(rows.toSeq == Seq(
      (1.5f, false), (-3.0f, false), (0.0f, true), (0.0f, true),
      (0.0f, false), (0.0f, true), (200.0f, false)))
  }

  test("S1+S3: CSV scan with header + coercing projection (trip-shaped)") {
    val dir = tmp("csv")
    Files.writeString(java.nio.file.Paths.get(dir, "trips.csv"),
      "Duration,Distance,Note\n12.5,1000,hello\n,bad,world\n7,2.5,x\n")
    val df = Replay.replay(spark, dir, Seq("Duration", "Distance", "Note"),
      Seq("Duration", "Distance"), maxRows = 10)
    val rows = df.orderBy("Note").collect()
    // coerced numerics, passthrough string; empty/invalid -> 0.0
    assert(df.schema("Duration").dataType.typeName == "float")
    assert(df.schema("Note").dataType.typeName == "string")
    assert(rows.map(_.getString(2)).toSeq == Seq("hello", "world", "x"))
    assert(rows.map(_.getFloat(0)).toSeq == Seq(12.5f, 0.0f, 7.0f))
    assert(rows.map(_.getFloat(1)).toSeq == Seq(1000.0f, 0.0f, 2.5f))
  }

  test("S2: row cap limits the replay") {
    val dir = tmp("csvcap")
    val body = (1 to 50).map(i => s"$i.0,2.0").mkString("\n")
    Files.writeString(java.nio.file.Paths.get(dir, "t.csv"),
      s"Duration,Distance\n$body\n")
    val df = Replay.replay(spark, dir, Seq("Duration", "Distance"),
      Seq("Duration", "Distance"), maxRows = 7)
    assert(df.count() == 7)
  }

  test("S9 (1): window emulation — sizes, cap, order") {
    val ev = Schemas.events(spark, sf) // 1000 rows
    val out = Batcher.assignBatches(ev, "event_id", batchSize = 300, maxBatches = 3)
    val sizes = out.groupBy("batch_id").count().orderBy("batch_id")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(sizes.toSeq == Seq((0, 300L), (1, 300L), (2, 300L)))
    // batch 0 holds the 300 smallest event_ids
    val max0 = out.filter($"batch_id" === 0).agg(max("event_id")).head().getLong(0)
    val min1 = out.filter($"batch_id" === 1).agg(min("event_id")).head().getLong(0)
    assert(max0 < min1)
  }

  test("S9 (2): arrival-order assigner — sizes, remainder, no shuffle of rows") {
    val ev = Schemas.events(spark, sf).repartition(7) // force multi-partition
    val res = Batcher.assignBatchesArrivalOrder(ev, batchSize = 300, maxBatches = 3)
    val sizes = res.batches.groupBy("batch_id").count().orderBy("batch_id")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(sizes.toSeq == Seq((0, 300L), (1, 300L), (2, 300L)))
    assert(res.remainderRows == 100L)
    assert(res.nBatches == 3)
    // seq is a permutation of 0..999 restricted to the cap
    val seqs = res.batches.select("seq").as[Long].collect().sorted
    assert(seqs.toSeq == (0L until 900L))
  }

  test("S4+S6+S7: transport round-trip with malformed drop") {
    val topic = tmp("topic")
    val t = new FileJsonTransport(topic)
    t.publish(Seq((1L, 10.5), (2L, 20.0)).toDF("id", "v"))
    // inject a malformed line (non-JSON) directly into the topic
    Files.writeString(java.nio.file.Paths.get(topic, "garbage.txt"),
      "not-json-at-all\n")
    val typed = spark.read.schema("value STRING").text(topic)
      .select(from_json($"value", org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, v DOUBLE")).as("parsed"))
      .filter($"parsed".isNotNull && $"parsed.id".isNotNull)
      .select("parsed.*")
    val rows = typed.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 10.5), (2L, 20.0)))
  }

  test("S5: Trigger.ProcessingTime-paced replay bounds the per-trigger " +
      "row count (producer.py:69's sleep throttle, declaratively)") {
    val topic = tmp("paced-topic")
    val t = new FileJsonTransport(topic)
    // 5 single-file publishes of 8 rows each: with the transport's
    // 1-file-per-trigger source, each micro-batch may admit AT MOST 8
    // rows regardless of how much data is queued in the topic
    (0 until 5).foreach { i =>
      t.publish(spark.range(i * 8L, i * 8L + 8L).toDF("id").coalesce(1))
    }
    val intervalMs = 300L
    val t0 = System.currentTimeMillis()
    val panel = Replay.pacedReplay(spark, t, intervalMs, expectRows = 40L)
    assert(panel.map(_._2).sum == 40L,
      s"drained ${panel.map(_._2).sum} of 40 rows: $panel")
    // the throttle contract: no trigger ever exceeded one file's rows
    assert(panel.forall(_._2 <= 8L),
      s"a micro-batch exceeded the per-trigger cap: $panel")
    assert(panel.size == 5, s"expected 5 one-file batches, got $panel")
    // rate floor: 5 batches at >= intervalMs apart span >= 4 intervals;
    // assert half that to stay robust on a contended host (a driver-
    // side sleep-free replay CAN'T go faster than the trigger clock,
    // but wall-clock asserts need slack, not exactness)
    val span = panel.last._3 - panel.head._3
    assert(span >= (panel.size - 1) * intervalMs / 2,
      s"5 paced batches completed in ${span}ms — pacing not applied")
    assert(System.currentTimeMillis() - t0 >= 2 * intervalMs)
  }

  test("S9 (3): streaming count-batcher — growing files, cap + remainder flush") {
    val topic = tmp("stream-topic")
    val t = new FileJsonTransport(topic)
    // publish 1000 events as JSON through the transport (several files)
    val ev = Schemas.events(spark, sf)
      .select($"event_id", $"user_id", $"value")
    t.publish(ev.filter($"event_id" < 400))
    t.publish(ev.filter($"event_id" >= 400))
    val res = Batcher.streamBatches(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, user_id LONG, value DOUBLE"),
      stagingDir = tmp("staging"), outDir = tmp("batches"),
      batchSize = 300, maxBatches = 4, checkpointDir = tmp("ckpt"))
    val sizes = res.batches.groupBy("batch_id").count().orderBy("batch_id")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(sizes.toSeq == Seq((0, 300L), (1, 300L), (2, 300L), (3, 100L)))
    assert(res.nBatches == 4)
    assert(res.remainderRows == 0L)
    // every source row arrived exactly once
    assert(res.batches.count() == 1000L)
    assert(res.batches.select("event_id").distinct().count() == 1000L)
  }

  test("S9 idempotent staging: replay after a lost checkpoint commit is a no-op") {
    val topic = tmp("replay-topic")
    val staging = tmp("replay-staging")
    val ckpt = tmp("replay-ckpt")
    val t = new FileJsonTransport(topic)
    val ev = Schemas.events(spark, sf).select($"event_id", $"value")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, value DOUBLE")

    t.publish(ev.filter($"event_id" < 300))
    Batcher.streamBatches(spark, t, schema, staging, tmp("rout1"),
      batchSize = 100, maxBatches = 100, checkpointDir = ckpt)
    assert(spark.read.parquet(staging).count() == 300L)

    // simulate the crash window the sink must tolerate: staging write
    // committed, checkpoint commit lost -> the next run REPLAYS the last
    // micro-batch. The batchId-keyed _SUCCESS-marked subdir makes the
    // replay a no-op instead of an append.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val last = commits.last
    // delete the checksum sidecar too — a stale .crc makes the commit-log
    // rewrite fail as a spurious "concurrent query" error
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(last.delete())

    t.publish(ev.filter($"event_id" >= 300 && $"event_id" < 400))
    Batcher.streamBatches(spark, t, schema, staging, tmp("rout2"),
      batchSize = 100, maxBatches = 100, checkpointDir = ckpt)
    val staged = spark.read.parquet(staging)
    assert(staged.count() == 400L,
      s"replayed micro-batch duplicated rows: ${staged.count()}")
    assert(staged.select("event_id").distinct().count() == 400L)
    // seq space is exactly 0..399 with no collisions from the replay
    assert(staged.select("seq").distinct().count() == 400L)
    assert(staged.agg(org.apache.spark.sql.functions.max($"seq"))
      .head().getLong(0) == 399L)
  }

  test("S6 checkpoint = consumer-group offsets: restart consumes only new data") {
    val topic = tmp("resume-topic")
    val staging = tmp("resume-staging")
    val ckpt = tmp("resume-ckpt")
    val t = new FileJsonTransport(topic)
    val ev = Schemas.events(spark, sf).select($"event_id", $"value")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, value DOUBLE")

    t.publish(ev.filter($"event_id" < 300))
    Batcher.streamBatches(spark, t, schema, staging, tmp("out1"),
      batchSize = 100, maxBatches = 100, checkpointDir = ckpt)
    val afterFirst = spark.read.parquet(staging).count()
    assert(afterFirst == 300L)

    // second drain with the SAME checkpoint: only the new file is read
    t.publish(ev.filter($"event_id" >= 300 && $"event_id" < 500))
    Batcher.streamBatches(spark, t, schema, staging, tmp("out2"),
      batchSize = 100, maxBatches = 100, checkpointDir = ckpt)
    val afterSecond = spark.read.parquet(staging).count()
    assert(afterSecond == 500L, s"expected 500 staged rows, got $afterSecond " +
      "(re-reading already-committed offsets would give 800)")
  }

  test("S9 (3): a multi-partition micro-batch gets a dense seq in arrival order") {
    val t = oneFileTopic("split-topic")
    val staging = tmp("split-staging")
    val (res, expected) = withSmallSplits {
      val res = Batcher.streamBatches(spark, t, eventSchema, staging,
        tmp("split-out"), batchSize = 300, maxBatches = 100,
        checkpointDir = tmp("split-ckpt"))
      // the same file read as a batch, under the same split size
      val batch = t.sourceBatch(spark)
        .select(from_json($"value", eventSchema).as("p"))
        .filter($"p".isNotNull).select("p.*")
      val arrival = Batcher.assignBatchesArrivalOrder(batch,
        batchSize = Int.MaxValue, maxBatches = 1)
      val order = arrival.batches.orderBy("seq").select("event_id").as[Long]
        .collect().toSeq
      arrival.cleanup()
      (res, order)
    }
    val parts = new java.io.File(s"$staging/mb=0").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts >= 2, s"the micro-batch had $parts input partitions")
    assert(res.totalRows == 1000L && res.nBatches == 4)
    val rows = res.batches.orderBy("seq").select("seq", "event_id").as[(Long, Long)]
      .collect().toSeq
    assert(rows.map(_._1) == (0L until 1000L), "seq is not dense over 0..999")
    assert(rows.map(_._2).distinct.size == 1000)
    assert(rows.map(_._2) == expected,
      "seq order differs from assignBatchesArrivalOrder over the same file")
  }

  test("S9 (3): a restart with no new topic files returns the same batches") {
    val topic = tmp("rerun-topic")
    val staging = tmp("rerun-staging")
    val ckpt = tmp("rerun-ckpt")
    val t = new FileJsonTransport(topic)
    val ev = Schemas.events(spark, sf).select($"event_id", $"user_id", $"value")
    t.publish(ev.filter($"event_id" < 400))
    t.publish(ev.filter($"event_id" >= 400))
    def drain() = {
      val res = Batcher.streamBatches(spark, t, eventSchema, staging,
        tmp("rerun-out"), batchSize = 300, maxBatches = 3, checkpointDir = ckpt)
      (res.totalRows, res.nBatches, res.remainderRows,
        res.batches.orderBy("seq").collect().toSeq)
    }
    val first = drain()
    assert(first._1 == 1000L && first._2 == 3 && first._3 == 100L)
    assert(first._4.size == 900)
    val second = drain()
    assert(second == first)
  }

  test("S9 (3): a micro-batch that reads differently the second time fails closed") {
    val t = oneFileTopic("flaky-topic")
    val flaky = new StreamTransport {
      def source(spark: SparkSession): DataFrame = t.source(spark)
      def publish(df: DataFrame): Unit = t.publish(df)
      override def typedSource(spark: SparkSession, schema: StructType): DataFrame = {
        val keep = udf((_: Long) => !DropFirstRowOnce.armed.getAndSet(false))
          .asNondeterministic()
        super.typedSource(spark, schema).filter(keep($"event_id"))
      }
    }
    val staging = tmp("flaky-staging")
    DropFirstRowOnce.armed.set(true)
    val err = withSmallSplits {
      intercept[Exception](Batcher.streamBatches(spark, flaky, eventSchema,
        staging, tmp("flaky-out"), batchSize = 300, maxBatches = 100,
        checkpointDir = tmp("flaky-ckpt")))
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(e => String.valueOf(e.getMessage).contains("not replayable")),
      s"unexpected failure: $err")
    assert(!new java.io.File(s"$staging/mb=0").exists(),
      "the inconsistent micro-batch was left staged")
  }

  test("S5: pacedReplay removes its checkpoint dir") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def pacedDirs() = tmpRoot.listFiles().map(_.getName)
      .filter(_.startsWith("graft-paced")).toSet
    val before = pacedDirs()
    val t = new FileJsonTransport(tmp("paced-clean-topic"))
    t.publish(spark.range(0L, 8L).toDF("id").coalesce(1))
    val panel = Replay.pacedReplay(spark, t, intervalMs = 100L, expectRows = 8L)
    assert(panel.map(_._2).sum == 8L)
    assert((pacedDirs() -- before).isEmpty, "pacedReplay left its checkpoint behind")
  }
}
