package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ingest.{Batcher, FileJsonTransport, Replay}
import graft.ml.{ModelStore, Trainer}
import graft.query.Endpoints
import graft.schema.Schemas

/** The paper's lifecycle, cold: a fresh JVM, an empty topic and model dir.
  * Seeded trip CSV → replay → chunked publish → streaming count-batcher
  * (3 × 10 000 rows, 5 discarded) → growing-window fits v1 ⊊ v2 ⊊ v3 →
  * save, load v3, score the first prediction. No HTTP, no shared index. */
object PipelineCold {
  val BatchSize = Trainer.BatchSize
  val Versions = Trainer.MaxVersions

  def run(ctx: Ctx, res: Result): Unit = {
    import ctx.{spark, tracer => tr}
    val csv = ctx.work.resolve("input/trips.csv")
    Gen.tripCsv(ctx.seed, Gen.TripRows, csv)
    val chunks = Gen.chunks(ctx.seed, Gen.TripRows)
    Main.setupDone(ctx, res)

    val before = Main.snapshot(ctx)
    val fromMs = System.currentTimeMillis()
    val dir = ctx.work.resolve("pipeline")
    val transport = new FileJsonTransport(dir.resolve("topic").toString)
    val request = spark.createDataFrame(
      java.util.Collections.singletonList(
        Row.fromSeq(Schemas.featureCols.map(Endpoints.canonicalFeatures))),
      Schemas.feature19)

    val t0 = System.nanoTime()
    val (batched, models, first, tBatched) = tr.span("pipeline") {
      val replayed = tr.span("ingest.replay") {
        val df = Replay.replay(spark, csv.toString, Schemas.numericCols,
          Schemas.numericCols, Gen.TripRows)
          .withColumn("__row", monotonically_increasing_id()).persist()
        df.count()
        df
      }
      chunks.zipWithIndex.foreach { case ((a, b), i) =>
        tr.span("ingest.publish", s"chunk$i") {
          Replay.publish(replayed.filter(col("__row") >= a && col("__row") < b)
            .drop("__row").coalesce(1), transport)
        }
      }
      replayed.unpersist(false)
      val batched = tr.span("ingest.batcher") {
        Batcher.streamBatches(spark, transport, Schemas.trip25,
          stagingDir = dir.resolve("staging").toString,
          outDir = dir.resolve("batches").toString,
          batchSize = BatchSize, maxBatches = Versions,
          checkpointDir = dir.resolve("checkpoint").toString)
      }
      val tBatched = System.nanoTime()
      val models = (1 to Versions).map { v =>
        val m = tr.span("ml.fit", s"v$v") {
          Trainer.fitVersion(batched.batches, v, orderCol = "seq")
        }
        tr.span("ml.save", s"v$v") {
          ModelStore.save(m, dir.resolve(s"models/model_${v}_rf").toString)
        }
        m
      }
      val loaded = tr.span("ml.load", s"v$Versions") {
        ModelStore.load(dir.resolve(s"models/model_${Versions}_rf").toString)
      }
      val first = tr.span("query.score", s"v$Versions") {
        loaded.transform(request).select("prediction").head().getDouble(0)
      }
      (batched, models, first, tBatched)
    }
    val t1 = System.nanoTime()
    val toMs = System.currentTimeMillis()
    val after = Main.snapshot(ctx)

    val pipelineS = (t1 - t0) / 1e9
    val ingestS = (tBatched - t0) / 1e9
    val rowsOut = batched.nBatches.toLong * BatchSize
    ctx.probes.stream.awaitBatches(chunks.size)
    val mb = ctx.probes.stream.batches.asScala.toSeq.filter(_.rows > 0)
    val mbMs = mb.map(_.triggerMs.toDouble)
    res.endToEnd("wall_s") = (pipelineS, "s")
    res.endToEnd("p50_ms") = (Main.median(mbMs), "ms")
    res.endToEnd("throughput_per_s") = (rowsOut / ingestS, "1/s")
    res.detail("pipeline_s") = (pipelineS, "s", 1)
    res.detail("ingest_rows_per_s") = (rowsOut / ingestS, "rows/s", 1)
    res.detail("microbatch_p50_ms") = (Main.median(mbMs), "ms", mbMs.size)

    checks(ctx, res, batched, models, first, request)

    if (tr.enabled) {
      Main.sparkLayers(ctx, res, fromMs, toMs, before, after, mb.size)
      Main.traceLayers(ctx, res, "pipeline")
      val self = tr.selfNsByName
      def ms(n: String): Double = self.getOrElse(n, 0L) / 1e6
      def spanMs(n: String, op: String): Double =
        tr.all.filter(s => s.name == n && s.op == op).map(_.durNs).sum / 1e6
      val l = res.detail
      l("ingest.replay_ms") = (ms("ingest.replay"), "ms", 1)
      l("ingest.publish_ms") = (ms("ingest.publish"), "ms", chunks.size)
      l("ingest.batcher_ms") = (ms("ingest.batcher"), "ms", 1)
      (1 to Versions).foreach(v =>
        l(s"ml.fit_v${v}_ms") = (spanMs("ml.fit", s"v$v"), "ms", 1))
      l("ml.save_ms") = (ms("ml.save"), "ms", Versions)
      l("ml.load_ms") = (ms("ml.load"), "ms", 1)
      l("query.score_ms") = (ms("query.score"), "ms", 1)
      res.layers("ingest.microbatches") = (mb.size.toDouble, "count")
      res.layers("ingest.rows_out") = (rowsOut.toDouble, "count")
      Streaming.layers(ctx, res, mb)
    }
  }

  private def checks(ctx: Ctx, res: Result, batched: Batcher.BatchingResult,
      models: Seq[PipelineModel], first: Double,
      request: org.apache.spark.sql.DataFrame): Unit = {
    res.check("three batches") { batched.nBatches == Versions }
    res.check("five rows discarded") {
      batched.remainderRows == Gen.TripRows - Versions * BatchSize
    }
    res.check("batch sizes") {
      batched.batches.groupBy("batch_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq ==
        (0 until Versions).map(_ -> BatchSize.toLong)
    }
    res.check("one micro-batch per chunk") {
      ctx.probes.stream.batches.asScala.count(_.rows > 0) ==
        Gen.chunks(ctx.seed, Gen.TripRows).size
    }
    // seq is dense 0..n-1, so the seq-ordered windows are strict prefixes
    val seqs = batched.batches.agg(min("seq"), max("seq"),
      countDistinct("seq"), count(lit(1))).head()
    res.check("windows grow strictly, v1 ⊊ v2 ⊊ v3") {
      seqs.getLong(0) == 0L && seqs.getLong(1) == Versions * BatchSize - 1L &&
        seqs.getLong(2) == Versions * BatchSize && seqs.getLong(3) == seqs.getLong(2) &&
        (1 to Versions).map(v =>
          Trainer.versionWindow(batched.batches, v, "seq").count()) ==
          (1 to Versions).map(_ * BatchSize.toLong)
    }
    models.zipWithIndex.foreach { case (m, i) =>
      val imps = Trainer.featureImportances(m).map(_._2)
      res.check(s"v${i + 1} importances sum to 1") { math.abs(imps.sum - 1.0) <= 1e-6 }
      res.check(s"v${i + 1} importances descending") {
        imps.zip(imps.drop(1)).forall { case (a, b) => a >= b }
      }
    }
    val label = batched.batches.agg(min(Schemas.label), max(Schemas.label)).head()
    res.check("prediction finite and inside the label range") {
      !first.isNaN && !first.isInfinite &&
        first >= label.getFloat(0) && first <= label.getFloat(1)
    }
    res.check("loaded model predicts as the fitted one") {
      models.last.transform(request).select("prediction").head().getDouble(0) == first
    }
  }
}

/** Streaming-layer figures from the micro-batch progress events. */
object Streaming {
  def layers(ctx: Ctx, res: Result, mb: Seq[StreamProgress#Batch]): Unit = {
    val s = ctx.probes.stream
    val env = s.envelopes.asScala.toSeq.map(_._2).sum.toDouble
    val trig = mb.map(_.triggerMs).sum.toDouble
    res.layers("streaming.batches") = (mb.size.toDouble, "count")
    res.layers("streaming.drains") = (s.envelopes.size.toDouble, "count")
    res.layers("streaming.state_rows_peak") =
      ((0L +: mb.map(_.stateRows)).max.toDouble, "count")
    val d = res.detail
    d("streaming.trigger_ms") = (trig, "ms", mb.size)
    d("streaming.planning_ms") = (mb.map(_.planningMs).sum.toDouble, "ms", mb.size)
    d("streaming.add_batch_ms") = (mb.map(_.addBatchMs).sum.toDouble, "ms", mb.size)
    d("streaming.commit_ms") = (mb.map(_.commitMs).sum.toDouble, "ms", mb.size)
    d("streaming.envelope_ms") = (env - trig, "ms", s.envelopes.size)
  }
}
