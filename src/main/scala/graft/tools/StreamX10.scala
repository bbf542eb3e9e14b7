package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** x10 streaming-drain gate: runs the stateful streaming twins against
  * a big synthetic corpus, asserts drain == batch row for row (the same
  * contracts the specs pin at sf0.001), and records PEAK STATE SIZE per
  * query from StreamingQueryProgress — state-store growth is the one
  * scale axis a batch-oracle sweep cannot see. Results feed the
  * BASELINE.md state-size table.
  *
  * Usage: runMain graft.tools.StreamX10 [sfDir]
  */
object StreamX10 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale/x10")
    val spark = DevSession("graft-stream-x10")

    // peak state bytes/rows across every progress event between resets;
    // memoryUsedBytes covers the HDFS-backed store, the rocksdb custom
    // metric the transformWithState store
    object tracker extends StreamingQueryListener {
      @volatile var maxBytes = 0L
      @volatile var maxRows = 0L
      def reset(): Unit = { maxBytes = 0L; maxRows = 0L }
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        var b = 0L; var r = 0L
        ops.foreach { s =>
          b += s.memoryUsedBytes +
            Option(s.customMetrics.get("rocksdbTotalMemoryUsage"))
              .map(_.longValue()).getOrElse(0L)
          r += s.numRowsTotal
        }
        synchronized {
          if (b > maxBytes) maxBytes = b
          if (r > maxRows) maxRows = r
        }
      }
    }
    spark.streams.addListener(tracker)

    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

    var failures = 0
    def check(name: String)(stream: => DataFrame)
        (batch: => DataFrame): Unit = {
      tracker.reset()
      try {
        val s = canon(stream.collect())
        Thread.sleep(1500) // progress events are async
        val (mb, mr) = (tracker.maxBytes, tracker.maxRows)
        val b = canon(batch.collect())
        val ok = s == b
        if (!ok) {
          failures += 1
          s.diff(b).take(3).foreach(r => println(s"  only-stream: $r"))
          b.diff(s).take(3).foreach(r => println(s"  only-batch:  $r"))
        }
        println(f"[stream-x10] $name%-28s drain==batch: " +
          f"${if (ok) "OK" else "MISMATCH"}%-8s rows=${s.length}%-8d " +
          f"peakStateRows=$mr%-8d peakStateBytes=$mb%d")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[stream-x10] $name ERROR: ${e.getMessage}")
      }
    }

    import graft.streaming.StreamQueries
    check("stream_croston")(
      StreamQueries.streamCroston(spark, dir))(
      graft.query.stats.TimeSeries.tsCroston(spark, dir))
    check("stream_cusum_target")(
      StreamQueries.streamCusumTarget(spark, dir))(
      graft.query.stats.TimeSeries.tsCusumTarget(spark, dir))
    check("stream_kalman_filter")(
      StreamQueries.streamKalmanFilter(spark, dir))(
      graft.query.stats.TimeSeries.tsKalman1d(spark, dir))
    check("stream_alert_debounce")(
      StreamQueries.streamAlertDebounce(spark, dir))(
      graft.query.stats.Anomaly.anomalyAlertDebounce(spark, dir))
    check("stream_dedup_incremental")(
      StreamQueries.streamDedupIncremental(spark, dir))(
      graft.query.Dedup.dedupIncrementalMinhash(spark, dir))
    check("stream_transform_with_state")(
      StreamQueries.streamTransformWithState(spark, dir))(
      graft.schema.Schemas.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).cast("float").as("sum_value"),
          max(col("ts")).as("last_ts"))
        .orderBy(col("user_id")))
    // watermark-windowed stateful queries: correctness comes from the
    // x10 DuckDB oracle sweep; here we record their state growth only
    def sizeOnly(name: String)(stream: => DataFrame): Unit = {
      tracker.reset()
      try {
        val n = stream.collect().length
        Thread.sleep(1500)
        println(f"[stream-x10] $name%-28s (oracle-checked)   " +
          f"rows=$n%-8d peakStateRows=${tracker.maxRows}%-8d " +
          f"peakStateBytes=${tracker.maxBytes}%d")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[stream-x10] $name ERROR: ${e.getMessage}")
      }
    }
    sizeOnly("stream_session_window")(
      StreamQueries.streamSessionWindowNative(spark, dir))
    sizeOnly("stream_hopping_agg")(
      StreamQueries.streamHoppingAgg(spark, dir))
    sizeOnly("stream_stream_join")(
      StreamQueries.streamStreamJoin(spark, dir))
    println(s"[stream-x10] done, failures=$failures")
    spark.streams.removeListener(tracker)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
