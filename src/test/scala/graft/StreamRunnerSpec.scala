package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.schema.Schemas
import graft.streaming.StreamQueries

/** The stream runner in [[StreamQueries]]: every drain's state store,
  * state partitions and no-data setting are derived from its plan and
  * changed only under the session lock, the session's confs are restored
  * after every run (failed ones included), and no run leaves a query
  * behind. */
class StreamRunnerSpec extends SparkSpec {

  private val runnerConfs = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def confSnapshot(): Seq[Option[String]] =
    runnerConfs.map(spark.conf.getOption)

  /** (numShufflePartitions, store kind) of every stateful operator in
    * every micro-batch `body` runs, read from the progress events. The
    * listener bus delivers a query's progress events before its
    * termination event, so waiting for the termination events of the
    * queries seen gives the complete set. */
  private def stateSettings(body: => Unit): Set[(Long, String)] = {
    val seen = new ConcurrentLinkedQueue[(Long, String)]()
    val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.id)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { s =>
          val rocks = s.customMetrics.keySet.asScala
            .exists(_.startsWith("rocksdb"))
          seen.add(s.numShufflePartitions -> (if (rocks) "rocksdb" else "hdfs"))
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.id)
    }
    spark.streams.addListener(l)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((started.isEmpty || !ended.containsAll(started)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(!started.isEmpty && ended.containsAll(started),
        "the run's queries never reported termination")
    } finally spark.streams.removeListener(l)
    seen.asScala.toSet
  }

  /** `sf`'s events re-exported as canonical micros-TIMESTAMP part files. */
  private def reexport(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Schemas.events(spark, sf)
      .select(col("event_id"),
        expr("timestamp_micros(unix_micros(ts)) AS ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartition(2, col("event_id"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("stream runner: session confs change only under the session lock") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    // warm: every probe and cache the query builds before its run
    val serial = StreamQueries.streamUserTypeCounts(spark, sf).collect().toSeq
    val prior = spark.conf.getOption(provider)
    @volatile var result: Seq[Row] = Nil
    @volatile var failure: Throwable = null
    val t = new Thread(() =>
      try result = StreamQueries.streamUserTypeCounts(spark, sf).collect().toSeq
      catch { case e: Throwable => failure = e })
    def waitingInStreamQueries: Boolean =
      t.getState == Thread.State.BLOCKED && t.getStackTrace.exists(
        _.getClassName.startsWith("graft.streaming.StreamQueries"))
    spark.synchronized {
      t.start()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!waitingInStreamQueries && t.isAlive &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(waitingInStreamQueries,
        s"second run never blocked on the session lock: ${t.getState}")
      assert(spark.conf.getOption(provider) == prior,
        "a run waiting for the session lock already changed the " +
          "session's state-store provider")
    }
    t.join(300000L)
    assert(!t.isAlive, "second run never finished")
    assert(failure == null, s"second run failed: $failure")
    assert(result == serial)
    assert(spark.conf.getOption(provider) == prior)
  }

  test("stream runner: a rejected drain timeout starts no query") {
    val key = "graft.stream.drainTimeoutSec"
    spark.conf.set(key, "0")
    try {
      intercept[IllegalArgumentException](
        StreamQueries.streamWindowAgg(spark, sf))
      assert(spark.streams.active.isEmpty,
        "a drain that threw left its query running")
      intercept[IllegalArgumentException](
        StreamQueries.streamForeachbatchUpsert(spark, sf))
      assert(spark.streams.active.isEmpty,
        "the upsert drain that threw left its query running")
    } finally spark.conf.unset(key)
  }

  test("stream runner: state store and partitions derived from the plan, " +
      "session confs restored after every run") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // a session value neither derived count uses, so a missed restore shows
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try {
      val prior = confSnapshot()
      assert(stateSettings(
        StreamQueries.streamUserTypeCounts(spark, sf).collect()) ==
        Set(4L -> "rocksdb"))
      assert(confSnapshot() == prior)
      assert(stateSettings(
        StreamQueries.streamWindowAgg(spark, sf).collect()) ==
        Set(8L -> "hdfs"))
      assert(confSnapshot() == prior)
      val src = reexport("graft-runner-src")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-runner-ckpt")
      val out = java.nio.file.Files.createTempDirectory("graft-runner-out")
      assert(stateSettings(StreamQueries.streamTransformWithStateResumable(
        spark, src, ckpt.resolve("c").toString, out.resolve("o").toString)
        .collect()) == Set(4L -> "rocksdb"))
      assert(confSnapshot() == prior)
      // a drain that fails mid-run: user_id stored as STRING under the
      // declared LONG fails the scan inside the started query
      val bad = java.nio.file.Files.createTempDirectory("graft-runner-bad")
        .resolve("events").toString
      spark.range(3).select(col("id").as("event_id"),
          current_timestamp().as("ts"), col("id").cast("string").as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .write.parquet(bad)
      intercept[Exception](StreamQueries.streamUserTypeCountsFrom(
        spark, bad, rawEvents = false, None).collect())
      assert(confSnapshot() == prior)
      assert(spark.streams.active.isEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("stream runner: repeated drains leave no temp view and no upsert " +
      "store behind") {
    val s = spark.newSession()
    def views(): Set[String] = s.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    def upsertDirs(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .fold(Set.empty[String])(_.filter(_.startsWith("graft-upsert")).toSet)
    val (views0, dirs0) = (views(), upsertDirs())
    val first = (1 to 2).map { _ =>
      (StreamQueries.streamWindowAgg(s, sf).collect().toSeq,
        StreamQueries.streamForeachbatchUpsert(s, sf).collect().toSeq)
    }
    assert(first.distinct.size == 1, "a repeated drain changed its answer")
    assert(views() == views0, s"temp views left: ${views() -- views0}")
    assert((upsertDirs() -- dirs0).isEmpty,
      s"upsert stores left: ${upsertDirs() -- dirs0}")
  }
}
