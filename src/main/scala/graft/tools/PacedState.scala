package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bounded-state evidence for the watermark-windowed drains (r17
  * verdict #6): the one-shot AvailableNow drain never advances the
  * watermark until the final flush, so `stream_session_window` briefly
  * holds EVERY session in state (corpus-linear — the honest number
  * StreamX10 records). Production ingest is paced: events arrive in
  * event-time order across many triggers, the watermark advances
  * between micro-batches, and finalized sessions are EVICTED as the run
  * proceeds. This tool materializes the corpus as `nFiles` time-ranged
  * part files (mod-time ordered, so the file source replays them in
  * event-time order), drives the SAME session-window aggregation with
  * one file per trigger, records the per-batch state-row curve, and
  * asserts the paced output equals the one-shot drain row for row.
  *
  * Expected shape: the paced curve plateaus at the sessions alive
  * inside the watermark horizon (gap + delay ≈ 1.5 h of event time),
  * far below the one-shot peak which is bounded only by the corpus.
  *
  * Usage: runMain graft.tools.PacedState [sfDir] [nFiles]
  */
object PacedState {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale/x10")
    val nFiles = args.lift(1).map(_.toInt).getOrElse(24)
    val spark = DevSession("graft-paced-state")

    // per-batch state curve: (batchId, stateRows, stateBytes)
    object curve extends StreamingQueryListener {
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long)]()
      def reset(): Unit = rows.clear()
      def peak: (Long, Long) = {
        import scala.jdk.CollectionConverters._
        val r = rows.asScala.toSeq
        (r.map(_._2).maxOption.getOrElse(0L),
          r.map(_._3).maxOption.getOrElse(0L))
      }
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty)
          rows.add((e.progress.batchId,
            ops.map(_.numRowsTotal).sum,
            ops.map(_.memoryUsedBytes).sum))
      }
    }
    spark.streams.addListener(curve)

    // time-ranged part files written SEQUENTIALLY (mod-time order is the
    // file source's replay order): an ingest pipeline's event-time-ordered
    // arrival, reconstructed from the batch corpus
    val paced = graft.schema.Storage.tempDir("graft-paced-corpus")
    val ev = graft.schema.Schemas.events(spark, dir).cache()
    val bounds = ev.agg(min(col("ts")).cast("long").as("lo"),
      (max(col("ts")).cast("long") + 1).as("hi")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = math.max(1L, (hi - lo) / nFiles + 1)
    (0 until nFiles).foreach { i =>
      val (a, b) = (lo + i * step, lo + (i + 1) * step)
      ev.filter(col("ts").cast("long") >= a &&
          col("ts").cast("long") < b)
        .coalesce(1).write.mode("append")
        .parquet(s"$paced/events.parquet")
      Thread.sleep(1100) // distinct mtimes: replay order == event order
    }
    ev.unpersist()

    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

    import graft.streaming.StreamQueries
    import scala.jdk.CollectionConverters._
    var anyBad = false

    def measure(name: String)(oneShotQ: => DataFrameLike,
        pacedQ: => DataFrameLike): Unit = {
      curve.reset()
      val oneShot = canon(oneShotQ.collect())
      Thread.sleep(1500)
      val (oneRows, oneBytes) = curve.peak
      curve.reset()
      val pacedOut = canon(pacedQ.collect())
      Thread.sleep(1500)
      val (pRows, pBytes) = curve.peak
      val curvePts = curve.rows.asScala.toSeq.sortBy(_._1)
      println(s"[paced-state] $name corpus=$dir files=$nFiles " +
        s"outRows=${oneShot.length}")
      println(f"[paced-state] $name one-shot  peakStateRows=$oneRows%-9d " +
        f"peakStateBytes=$oneBytes%d")
      println(f"[paced-state] $name paced     peakStateRows=$pRows%-9d " +
        f"peakStateBytes=$pBytes%d  " +
        f"(${100.0 * pRows / math.max(1L, oneRows)}%.1f%% of one-shot)")
      println(s"[paced-state] $name state curve (batchId, stateRows): " +
        curvePts.map(p => s"${p._1}:${p._2}").mkString(" "))
      val ok = pacedOut == oneShot
      println(s"[paced-state] $name paced == one-shot: " +
        (if (ok) "OK" else "MISMATCH"))
      if (!ok) anyBad = true
    }

    measure("stream_session_window")(
      StreamQueries.streamSessionWindowNative(spark, paced),
      StreamQueries.streamSessionWindowPaced(spark, paced))
    measure("stream_stream_join")(
      StreamQueries.streamStreamJoin(spark, paced),
      StreamQueries.streamStreamJoin(spark, paced,
        filesPerTrigger = Some(1)))
    // r18 verdict #5: the remaining corpus-linear one-shot drains
    measure("stream_stream_left_join")(
      StreamQueries.streamStreamLeftJoin(spark, paced),
      StreamQueries.streamStreamLeftJoin(spark, paced,
        filesPerTrigger = Some(1)))
    measure("stream_two_level_agg")(
      StreamQueries.streamTwoLevelAgg(spark, paced),
      StreamQueries.streamTwoLevelAgg(spark, paced,
        filesPerTrigger = Some(1)))
    measure("stream_late_data")(
      StreamQueries.streamLateData(spark, paced),
      StreamQueries.streamLateData(spark, paced, bulkFiles = 16))
    // transformWithState MAP-state rollup: state is keyed by USER
    // (dimension-bounded, no watermark eviction), so the honest
    // expectation here is paced peak ≈ one-shot peak at the distinct-key
    // bound — recorded to show the BOUND, not a plateau drop
    measure("stream_user_type_counts")(
      StreamQueries.streamUserTypeCounts(spark, paced),
      StreamQueries.streamUserTypeCountsFrom(spark, paced,
        rawEvents = true, filesPerTrigger = Some(1)))

    spark.streams.removeListener(curve)
    spark.stop()
    if (anyBad) sys.exit(1)
  }

  private type DataFrameLike = org.apache.spark.sql.DataFrame
}
