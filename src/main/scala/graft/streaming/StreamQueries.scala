package graft.streaming

import java.util.UUID
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.schema.{IndexCache, Storage}

/** Structured-Streaming-native queries over the events stream. These run a
  * REAL streaming query (readStream → transform → memory sink) drained
  * synchronously with AvailableNow — the engine's answer to the
  * reference's hand-rolled kafka-python consumer loop, per the stated
  * north-star approach (Structured Streaming + Kafka-shaped source).
  *
  * On a cluster the same code runs unbounded with
  * `Trigger.ProcessingTime`; AvailableNow here gives deterministic
  * drain-then-stop (the consumer_timeout_ms analog), which also makes the
  * windowed aggregation oracle-able: a full drain must equal the batch
  * answer over the same data.
  */
object StreamQueries {

  /** Canonical events schema (`ts` as TIMESTAMP(MICROS) UTC): the probe
    * fallback for unreadable/empty paths, and the declared schema for
    * spec-written canonical dirs. */
  private val eventsSchemaMicros = StructType.fromDDL(
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")

  // The testdata generator has shipped events.ts as BOTH physical types
  // across regenerations (TIMESTAMP(NANOS) and TIMESTAMP(MICROS)) and
  // has also flipped file-vs-directory layout; nothing stops it from
  // drifting the OTHER columns next (props/event_type as un-annotated
  // BINARY, integer ids at a different width). A streaming source must
  // declare its schema up front, so probe the FULL footer once per dir
  // and events generation (a corpus regenerated at the same path with
  // another physical shape re-probes) with a batch read and declare
  // exactly what is stored — declaring a
  // hoped-for schema over drifted storage either errors or silently
  // corrupts (the round-10 ts incident: every window collapsed 1000×).
  // [[normalizeStreamEvents]] then casts the loaded columns to the
  // canonical logical types, mirroring Schemas.events/table on the
  // batch side.
  private def eventsStoredSchema(spark: SparkSession, dir: String): StructType =
    IndexCache(spark, "stream.eventsSchema", dir,
      Seq(s"$dir/events.parquet")) {
      // read the events path directly (works whether events.parquet is a
      // single file, as in the sf dirs, or a directory of part files, as
      // specs write). An unreadable/empty path — e.g. a 0-row write that
      // produced no part files — degrades to the micros schema: with no
      // rows to read, the declared type only has to parse.
      try spark.read.parquet(s"$dir/events.parquet").schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        eventsSchemaMicros }
    }(_ => ())

  /** Normalize a just-loaded events stream to the canonical logical
    * types, given the STORED schema it was declared with: epoch-nanos
    * long / NTZ micros → TimestampType (integer DIV — 2024-era
    * epoch-nanos exceed 2^53 and would corrupt under floating point),
    * then integer widths, value width, and string-vs-binary for the
    * remaining columns — the streaming twin of
    * `Schemas.normalizePhysicalTypes`. */
  private def normalizeStreamEvents(src: DataFrame,
      stored: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    val tsFixed = stored("ts").dataType match {
      case LongType => src.withColumn("ts",
        expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP)"))
      case TimestampNTZType =>
        src.withColumn("ts", col("ts").cast(TimestampType))
      case _ => src
    }
    Seq("event_id" -> LongType, "user_id" -> LongType,
      "value" -> DoubleType, "event_type" -> StringType,
      "props" -> StringType).foldLeft(tsFixed) { case (d, (c, t)) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType != t)
        // FLOAT-stored value is LOSSY drift vs the DOUBLE contract —
        // fail visibly (Schemas.normalizePhysicalTypes discipline),
        // never silently widen a column that already dropped mantissa
        // bits at write time.
        if (c == "value" && d.schema(c).dataType == FloatType)
          d.withColumn(c, raise_error(lit(
            s"drifted events.$c stored as FLOAT: lossy vs the DOUBLE " +
              "contract — regenerate the corpus")).cast(t))
        else d.withColumn(c, col(c).cast(t))
      else d
    }
  }

  /** The events stream. `rawEvents = true` reads the sf dir's events
    * file (probed stored types, normalized); `rawEvents = false` reads
    * `dir` itself as a re-export of canonical micros-TIMESTAMP files,
    * which specs split so a drain spans several micro-batches. */
  private def streamEvents(spark: SparkSession, dir: String,
      singleBatch: Boolean = false,
      filesPerTrigger: Option[Int] = None,
      rawEvents: Boolean = true): DataFrame = {
    val stored =
      if (rawEvents) eventsStoredSchema(spark, dir) else eventsSchemaMicros
    // singleBatch pins the whole drain into ONE micro-batch (AvailableNow
    // otherwise splits multi-file input by maxFilesPerTrigger, advancing
    // the watermark between batches) — required where a query's
    // batch-equivalence contract assumes empty initial state, e.g.
    // dropDuplicatesWithinWatermark == SELECT DISTINCT.
    val paced = if (singleBatch) Some(Int.MaxValue) else filesPerTrigger
    normalizeStreamEvents(streamTable(spark,
      if (rawEvents) s"$dir/events.parquet" else dir, stored, paced), stored)
    // Measured negative (r21 drain profile): spreading the single-file scan
    // with a post-source repartition — the batch Schemas.spread recipe —
    // SLOWED every probed drain 15-45% (ohlc 1.37→1.99 s, two_level
    // 1.98→2.31, left_join 2.59→2.91): a micro-batch's map side is far
    // cheaper than the extra per-batch exchange of the full input. The
    // single scan task is not the drain floor; state-store commits and
    // per-batch fixed costs are.
  }

  /** Stream the parquet at `path` under the declared `schema`, at most
    * `filesPerTrigger` files per micro-batch (all available when None),
    * in whichever LAYOUT is stored, probed like the stored types: the sf
    * testdata ships each table as one FILE, but a Spark-written corpus or
    * a spec's re-export has it as a DIRECTORY of part files. The
    * pathGlobFilter the file form needs matches leaf file names, so
    * pointing it at a directory layout silently streams ZERO rows — the
    * same silent-drift class as the ts-type regression, closed the same
    * way (probe, then pick). The probe goes through [[Storage]], so a
    * `file:`/`hdfs://` corpus is seen as the directory it is. */
  private def streamTable(spark: SparkSession, path: String,
      schema: StructType, filesPerTrigger: Option[Int]): DataFrame = {
    val reader = filesPerTrigger.foldLeft(spark.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n))
    if (Storage.isDirectory(path)) reader.parquet(path)
    else {
      // FileStreamSource wants a directory: stream the file's dir,
      // filtered to the file (a Kafka source swaps in here via
      // StreamTransport)
      val file = new org.apache.hadoop.fs.Path(path)
      reader.option("pathGlobFilter", file.getName)
        .parquet(file.getParent.toString)
    }
  }

  /** Drain `streamed` to completion (AvailableNow into a memory sink)
    * and return the final result as a batch DataFrame: a local relation
    * of the sink's rows, so the sink's temp view is dropped before
    * returning and a long-lived session keeps no view per drain.
    *
    * No caller picks the state settings: [[run]] derives them from the
    * plan — the RocksDB store with 4 state partitions when it holds a
    * transformWithState, the default HDFS-backed store with 8 otherwise.
    * transformWithState needs RocksDB, every other stateful shape here
    * (windowed aggs, joins, dedup, mapGroupsWithState) runs on the
    * default store, and both counts are sized to the keyspace. Derived in
    * one place, the choice is made under the session lock and cannot
    * drift between copies.
    *
    * `eagerOutput` declares an Append query whose operators emit on
    * arrival (stateless projections and joins, inner stream-stream joins,
    * dropDuplicates*), so its output is complete without the trailing
    * watermark flush batch. Finalize-on-watermark operators (windowed
    * aggs in Append, outer joins' NULL side, session windows) must NOT set
    * it: their rows only appear in that batch. */
  private def drain(spark: SparkSession, streamed: DataFrame,
      mode: OutputMode, eagerOutput: Boolean = false): DataFrame = {
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    run(spark, streamed, mode, name, eagerOutput)(
      _.format("memory").queryName(name))
    try localCopy(spark, spark.table(name))
    finally spark.catalog.dropTempView(name)
  }

  /** `df`'s rows as a local relation that no longer reads its source. */
  private def localCopy(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  /** The runner every drain and the resumable run go through (the
    * upsert, which must keep the session's shuffle partitions, starts
    * through [[startAndAwait]] alone): it starts `plan` AvailableNow into
    * `sink` (the writer comes with `mode` set) and waits for it, with
    * three session confs decided here from the plan, and nowhere else:
    *
    *  - state store: RocksDB iff the analyzed plan holds a
    *    transformWithState (the HDFS-backed store does not implement its
    *    column families), the default HDFS-backed store otherwise;
    *  - state partitions (`spark.sql.shuffle.partitions`, fixed at query
    *    start, one store per partition, each paying a commit every
    *    micro-batch): 4 for RocksDB plans, 8 otherwise — sized to the
    *    stream's KEYSPACE (~150 users / ~100 windows here), not the
    *    CPU-count batch default, because with tiny per-key state the
    *    partition count IS the dominant commit cost; at production
    *    keyspaces it scales up with throughput, not down;
    *  - the trailing no-data micro-batch, which exists to advance the
    *    watermark and flush finalized state into APPEND output: off for
    *    Complete and Update modes (they emit as state changes, so it is a
    *    pure planning+commit round trip, ~0.1-0.2 s of the measured drain
    *    floor) and for `eagerOutput` Append queries.
    *
    * The confs are session-global, so they are set, the query run and the
    * confs restored all under the session lock: two interleaved runs can
    * neither plan under each other's settings nor restore over them. An
    * unrelated BATCH query racing a run on the same session would still
    * plan under the override — callers wanting full isolation pass a
    * dedicated session.
    *
    * `checkpoint` is a durable, resumable checkpoint the caller owns;
    * when None the run makes a scratch one and deletes it afterwards.
    * The `graft.stream.statePartitions` test hook overrides the partition
    * count (PartitionInvarianceSpec proves the stateful queries
    * byte-identical across partitionings) only for scratch checkpoints:
    * a resumed query must keep its original count. */
  private def run(spark: SparkSession, plan: DataFrame, mode: OutputMode,
      what: String, eagerOutput: Boolean = false,
      checkpoint: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    spark.synchronized {
      val rocksDb = plan.queryExecution.analyzed
        .find(_.isInstanceOf[TransformWithState]).isDefined
      val hook = checkpoint.fold(
        spark.conf.getOption("graft.stream.statePartitions"))(_ => None)
      val confs = Seq(
        "spark.sql.shuffle.partitions" ->
          hook.getOrElse(if (rocksDb) "4" else "8"),
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            (if (rocksDb) "RocksDB" else "HDFSBacked") + "StateStoreProvider"),
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          (mode == OutputMode.Append() && !eagerOutput).toString)
      val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        startAndAwait(spark,
          sink(plan.writeStream.outputMode(mode)), what, checkpoint)
      } finally prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** The one place a streaming query starts: `w` AvailableNow on
    * `checkpoint`, or on a scratch checkpoint deleted afterwards, then
    * [[awaitBounded]]. The timeout is checked before the start, so a bad
    * `graft.stream.drainTimeoutSec` fails closed with nothing running.
    *
    * Scratch checkpoints go on tmpfs when available: a one-shot drain's
    * checkpoint (offset/commit logs + per-partition state-store deltas,
    * fsync'd each micro-batch) is pure scratch, and on a contended host
    * disk /tmp turns those small synchronous writes into the drain's noise
    * floor (r9 drain decomposition: ~50 ms min / ~170 ms median per drain
    * quiet; more under contention). A RESUMABLE production query must keep
    * its checkpoint on durable storage — the shortcut is only valid
    * because an AvailableNow run on a fresh checkpoint is single-use by
    * construction. Without a writable /dev/shm Spark picks its own temp
    * location (which it also deletes for memory-sink queries). */
  private def startAndAwait(spark: SparkSession, w: DataStreamWriter[Row],
      what: String, checkpoint: Option[String]): Unit = {
    drainTimeoutSec(spark)
    val shm = java.nio.file.Paths.get("/dev/shm")
    val scratch =
      if (checkpoint.isDefined || !java.nio.file.Files.isWritable(shm)) None
      else Some(shm.resolve(s"graft-ckpt-${UUID.randomUUID()}").toString)
    try {
      val q = checkpoint.orElse(scratch)
        .fold(w)(c => w.option("checkpointLocation", c))
        .trigger(Trigger.AvailableNow()).start()
      awaitBounded(spark, q, what)
    } finally scratch.foreach(Storage.delete)
  }

  /** `graft.stream.drainTimeoutSec`, 900 by default; anything but a
    * positive whole number of seconds throws. */
  private def drainTimeoutSec(spark: SparkSession): Long = {
    val sec = spark.conf.getOption("graft.stream.drainTimeoutSec")
      .fold(900L)(_.trim.toLong)
    require(sec > 0 && sec <= Long.MaxValue / 1000L,
      s"graft.stream.drainTimeoutSec must be a positive number of " +
        s"seconds, got $sec")
    sec
  }

  /** Bounded streaming wait, generous (15 min default vs the ~1-2 s
    * drain norm, tunable via `graft.stream.drainTimeoutSec`): an
    * unbounded awaitTermination turns one wedged drain — a real failure
    * mode on a heavily contended host — into a hung harness that zeroes
    * the WHOLE verification run instead of failing one query. On
    * timeout a TimeoutException is thrown; the caller's per-query error
    * handling records it and moves on. Whatever the exit — timeout, a
    * bad timeout conf, an interrupt — a query still active is stopped,
    * so no run outlives its call (or its scratch checkpoint). */
  private[graft] def awaitBounded(spark: SparkSession, q: StreamingQuery,
      what: String): Unit =
    try {
      val timeoutSec = drainTimeoutSec(spark)
      if (!q.awaitTermination(timeoutSec * 1000L))
        throw new java.util.concurrent.TimeoutException(
          s"streaming drain $what exceeded ${timeoutSec}s; stopped")
    } finally if (q.isActive) try q.stop() catch { case _: Throwable => () }

  /** Event-time tumbling-window aggregation with a watermark — count and
    * sum of `value` per (hour window, event_type). Full-drain result ==
    * the equivalent batch query, which is the DuckDB oracle. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val agg = streamEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("float").as("sum_value"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming hourly OHLC candles — the live twin of
    * [[graft.query.stats.TimeSeries.tsOhlcHourly]]: open/close are
    * min_by/max_by on the same fixed-width (epoch-micros, event_id)
    * lexicographic key, so the ordered first/last per window stays a
    * plain incremental aggregate the state store can merge (no sorted
    * buffer per window — 4 doubles + 2 keys of state per (window)
    * regardless of event rate), and a full drain equals the batch
    * candle table, which is the shared DuckDB oracle. Complete-mode
    * drain like the other windowed rollups; at deployment Update mode
    * emits refreshed candles per trigger. */
  def streamOhlcCandles(spark: SparkSession, dir: String): DataFrame = {
    val skey = concat(
      format_string("%020d", unix_micros(col("ts"))),
      format_string("%010d", col("event_id")))
    val agg = streamEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("value"), skey.as("skey"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("skey")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("skey")).as("close"),
        (sum(col("value")) / count(lit(1))).cast("float").as("mean_value"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("w.start").as("hour_ts"), col("n_events"), col("open"),
        col("high"), col("low"), col("close"), col("mean_value"))
      .orderBy(col("hour_ts"))
  }

  /** Streaming HOPPING-window aggregation: overlapping 6-hour windows
    * sliding every 3 hours — the stateful streaming twin of the batch
    * [[graft.query.Relational]] hopping window. Each event updates
    * exactly size/slide = 2 window states (Spark expands the window
    * spec per row before the shuffle — state is per (window, type),
    * NOT per event), and the watermark bounds total live state to the
    * horizon ÷ slide windows per key at any scale. Full drain ==
    * the batch double-assignment query, which is the DuckDB oracle. */
  def streamHoppingAgg(spark: SparkSession, dir: String): DataFrame = {
    val agg = streamEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("sum_value"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Native session-window streaming aggregation: Spark's built-in
    * `session_window(ts, gap)` stateful operator — the DECLARATIVE twin
    * of [[streamSessionCounts]]' hand-rolled mapGroupsWithState
    * sessionizer (same 30-minute gap rule; an engine should offer
    * both). Append mode: a session emits once the watermark passes its
    * end (last event + gap), so the oracle is the batch gap-rule
    * sessionization filtered to sessions finalized by the final
    * watermark (max ts − 1 h) — the same drain-finalization modeling as
    * [[streamLateData]]. The drain is pinned to one micro-batch so the
    * watermark never advances mid-drain (all sessions form from
    * complete data, then the no-data flush batch finalizes).
    *
    * Scale shape: state is one (user, open-session) entry, merged by
    * the operator and evicted at finalization — bounded by active users
    * × gap horizon, not history. */
  def streamSessionWindowNative(spark: SparkSession, dir: String): DataFrame = {
    val agg = streamEvents(spark, dir, singleBatch = true)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    drain(spark, agg, OutputMode.Append())
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** PACED twin of [[streamSessionWindowNative]] — the production shape
    * of the watermark-windowed drains: events arrive across MANY
    * triggers in event-time order (one time-ranged file per trigger),
    * so the watermark ADVANCES between micro-batches and finalized
    * sessions are evicted from state as the run proceeds. Under the
    * one-shot AvailableNow drain the watermark only moves at the final
    * flush, so state briefly holds EVERY session (corpus-linear — the
    * honest number StreamX10 records); under paced triggers peak state
    * is bounded by the sessions alive inside the watermark horizon — the
    * plateau [[graft.tools.PacedState]] measures. Output is identical
    * either way (same final watermark finalizes the same session set),
    * which the tool asserts row-for-row. */
  def streamSessionWindowPaced(spark: SparkSession, dir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    val agg = streamEvents(spark, dir, singleBatch = false,
        filesPerTrigger = Some(filesPerTrigger))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    drain(spark, agg, OutputMode.Append())
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming deduplication: dropDuplicatesWithinWatermark on
    * (user_id, event_type). Unlike plain dropDuplicates on non-event-time
    * keys (whose state grows forever — the watermark never evicts keys it
    * doesn't see in the key set), the WithinWatermark variant stamps each
    * state entry with event time and evicts it once the watermark passes,
    * so state is genuinely bounded by the 24h horizon at scale. Duplicates
    * arriving within the horizon are dropped; the drain is PINNED to one
    * micro-batch (singleBatch — empty initial state, watermark never
    * advances mid-drain), so it equals batch SELECT DISTINCT — the oracle.
    * Without the pin, a multi-file source could split the drain, advance
    * the watermark between batches, evict a key, and re-emit its late
    * duplicate. */
  def streamDedupKeys(spark: SparkSession, dir: String): DataFrame = {
    val deduped = streamEvents(spark, dir, singleBatch = true)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drain(spark, deduped, OutputMode.Append(), eagerOutput = true)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Streaming SCD2 point-in-time enrichment: each live event joined to
    * the slowly-changing-dimension version effective AT ITS EVENT TIME —
    * the streaming twin of [[graft.query.Warehouse.scd2AsofLookup]],
    * and the shape every online feature pipeline needs (a scoring
    * request must see the dimension as of the event, never the current
    * row, or training/serving skew follows). The dim is batch-built and
    * broadcast; the validity range [valid_from, valid_to) rides the
    * join as a non-equi predicate, which a stream-static join supports
    * because the static side is re-planned per micro-batch, never
    * state. Stateless → Append mode; the full drain equals the batch
    * as-of lookup, which is the oracle.
    *
    * Scale shape: per-entity version chains are short (bounded by
    * change count, not event count), so the range predicate multiplies
    * bounded work; a dim too large to broadcast shuffles on the entity
    * key exactly like the batch form. */
  def streamScd2Enrich(spark: SparkSession, dir: String,
      maxUser: Long = 20L): DataFrame = {
    val dim = graft.query.Warehouse.scd2Versions(spark, dir, maxUser)
      .select(col("user_id").as("v_user"), col("version_n"), col("attr"),
        col("valid_from"), col("valid_to"))
    val enriched = streamEvents(spark, dir)
      .filter(col("user_id") < maxUser)
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(broadcast(dim), col("user_id") === col("v_user") &&
        col("valid_from") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("version_n"), col("attr"))
    drain(spark, enriched, OutputMode.Append(), eagerOutput = true)
      .orderBy(col("event_id"))
  }

  /** Stream-static join: the event stream enriched against the static
    * customer dimension (per micro-batch broadcast hash join — the static
    * side never becomes state), then aggregated per market segment. Full
    * drain == the batch join+aggregate, which is the oracle. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.schema.Schemas.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = streamEvents(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("float").as("sum_value"))
    drain(spark, joined, OutputMode.Complete())
      .orderBy(col("c_mktsegment"))
  }

  /** Stream-stream interval join: clicks joined to same-user purchases
    * within 10 minutes, both sides watermarked so the join state store
    * evicts rows older than the watermark horizon (without watermarks a
    * stream-stream join buffers forever). Inner joins emit matches as
    * both sides arrive, so the full drain equals the batch interval
    * self-join — the oracle. */
  def streamStreamJoin(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    // filesPerTrigger paces the drain across many triggers (the
    // PacedState evidence path: the watermark advances between
    // micro-batches, so the join state store EVICTS rows as the run
    // proceeds instead of buffering both full sides). Matches are
    // unaffected — the 1 h watermark delay dominates the 10 min
    // interval, so no still-matchable row is ever evicted.
    val clicks = streamEvents(spark, dir, filesPerTrigger = filesPerTrigger)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = streamEvents(spark, dir,
        filesPerTrigger = filesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user_id
             |AND purchase_ts >= click_ts
             |AND purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    drain(spark, joined, OutputMode.Append(), eagerOutput = true)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream join: every click, with its purchases
    * inside the 10-minute attribution window — and, unlike the inner
    * form, a (click, NULL) row once the watermark PROVES no purchase
    * can still arrive. The null-emission side of interval joins is the
    * semantics production attribution actually needs (an unmatched
    * click is a result, not an absence), and it only exists in
    * streaming because the watermark bounds how long the operator must
    * wait. State: both sides watermarked 1 h; the interval condition
    * lets the state store evict rows the watermark has passed. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    // filesPerTrigger: the PacedState evidence path (see
    // [[streamStreamJoin]]) — the advancing watermark additionally
    // gates the NULL emissions here, so paced == one-shot proves the
    // outer side's finalize-on-watermark bookkeeping, not just state
    // eviction
    val clicks = streamEvents(spark, dir, filesPerTrigger = filesPerTrigger)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = streamEvents(spark, dir,
        filesPerTrigger = filesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user_id
             |AND purchase_ts >= click_ts
             |AND purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin),
      "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    drain(spark, joined, OutputMode.Append())
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** CHAINED stateful aggregations (Spark ≥3.4 multiple-stateful-
    * operator support): hourly per-type counts re-aggregated into a
    * per-hour profile (distinct types, hottest type's count, total) in
    * ONE streaming query — level 1 emits a window downstream only when
    * the watermark finalizes it, and level 2 re-windows on
    * `window_time` (the first window's event time) under the same
    * watermark. The two-level rollup every metrics pipeline wants
    * without a second job or an intermediate topic. */
  def streamTwoLevelAgg(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    // filesPerTrigger: paced evidence — BOTH stateful levels evict
    // under the advancing watermark, and Append emits each finalized
    // window exactly once regardless of batching, so paced == one-shot
    val lvl1 = streamEvents(spark, dir, filesPerTrigger = filesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val lvl2 = lvl1
      .groupBy(window(window_time(col("w")), "1 hour").as("w2"))
      .agg(count(lit(1)).as("n_types"), max(col("n")).as("max_n"),
        sum(col("n")).as("n_total"))
    drain(spark, lvl2, OutputMode.Append())
      .select(col("w2.start").as("window_start"), col("n_types"),
        col("max_n"), col("n_total"))
      .orderBy(col("window_start"))
  }

  /** Exact distinct users per hourly window, streaming: watermarked
    * dropDuplicates on (window, user) feeds a windowed count — the
    * dedup→aggregate CHAIN (vs [[streamTwoLevelAgg]]'s agg→agg), which
    * is how exact streaming distinct is actually expressed (a windowed
    * count_distinct isn't an incremental aggregate; the dedup operator
    * holds the distinct set as keyed state and emits each key once).
    * State per window is the DISTINCT key set — bounded by cardinality,
    * not traffic — and the watermark evicts closed windows from the
    * dedup store. Complete output re-emits the count table, so the tail
    * windows the watermark has not yet closed still report (an Append
    * drain withholds the final partial hour by design).
    *
    * Full drain == batch `count(DISTINCT user_id)` per hour — the
    * oracle. */
  def streamWindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val deduped = streamEvents(spark, dir, singleBatch = true)
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
    val counted = deduped
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_distinct_users"))
    drain(spark, counted, OutputMode.Complete())
      .select(col("w.start").as("window_start"), col("n_distinct_users"))
      .orderBy(col("window_start"))
  }

  // public: Catalyst's generated (de)serializers must access these
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class Session(user_id: Long, n_sessions: Int)

  /** Incremental gap-rule sessionizer for ONE trigger's worth of one key's
    * events, in arbitrary arrival order. Maintains the set of DISJOINT
    * session intervals (start → end, two intervals gap-merged when their
    * boundary gap ≤ `gapMs`) in a TreeMap, so memory is O(#sessions in
    * the batch) — the semantic floor for exact unordered sessionization
    * (a later event may bridge any two intervals, so fewer can't be kept)
    * — NOT O(#events) like a sort-the-iterator buffer. A hot key (bot
    * traffic: millions of events dense in time) collapses to a handful of
    * intervals; `maxLiveIntervals` instruments the high-water mark so the
    * hot-key spec can assert the bound, not just the answer.
    *
    * Equivalence to the sorted fold (and the DuckDB oracle): grouping the
    * batch's sorted events by `diff ≤ gap` yields exactly these maximal
    * intervals; the prior trigger's carry-over session absorbs the first
    * interval iff firstStart − prevLastTs ≤ gap (late events — firstStart
    * < prevLastTs — always absorb, matching the sorted fold's signed
    * diff); the new carry-over ts is the batch's max event time. */
  final class SessionMerger(gapMs: Long) {
    private val iv = new java.util.TreeMap[java.lang.Long, Long]() // start → end
    var maxLiveIntervals: Int = 0
    def add(t: Long): Unit = {
      var start = t
      var end = t
      val below = iv.floorEntry(t)
      if (below != null && t - below.getValue <= gapMs) {
        start = below.getKey
        end = math.max(below.getValue, t)
      }
      var above = iv.ceilingEntry(start + 1)
      while (above != null && above.getKey - end <= gapMs) {
        end = math.max(end, above.getValue)
        iv.remove(above.getKey)
        above = iv.ceilingEntry(start + 1)
      }
      iv.put(start, end)
      if (iv.size > maxLiveIntervals) maxLiveIntervals = iv.size
    }
    def isEmpty: Boolean = iv.isEmpty
    def intervalCount: Int = iv.size
    def firstStart: Long = iv.firstKey
    def lastEnd: Long = iv.lastEntry.getValue
    /** Fold this batch into the carried (lastTs, sessions) state. */
    def merge(state: (Long, Int)): (Long, Int) = {
      val (lastTs, sessions) = state
      if (isEmpty) state
      else {
        val continued =
          lastTs != Long.MinValue && firstStart - lastTs <= gapMs
        (lastEnd, sessions + intervalCount - (if (continued) 1 else 0))
      }
    }
  }

  /** Stateful streaming: per-user session counting with a 30-minute
    * inactivity gap via mapGroupsWithState — the custom-state surface
    * (KeyValueGroupedDataset) the reference's count-based consumer loop
    * maps to when semantics need per-key state. State carries (last-seen
    * ts, session count) per user across triggers; within a trigger the
    * group iterator is folded through [[SessionMerger]] one event at a
    * time — O(#sessions) memory, never materializing the group (the
    * sort-the-iterator approach is an executor OOM vector under a 100 TB
    * hot key). */
  def streamSessionCounts(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val ds: Dataset[Ev] = streamEvents(spark, dir)
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
    val counted = ds.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Int), Session](GroupStateTimeout.NoTimeout()) {
        case (uid, events, state: GroupState[(Long, Int)]) =>
          val merger = new SessionMerger(gapMinutes * 60000L)
          events.foreach(e => merger.add(e.ts.getTime))
          val next =
            merger.merge(state.getOption.getOrElse((Long.MinValue, 0)))
          state.update(next)
          Session(uid, next._2)
      }
    drain(spark, counted.toDF(), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** Streaming CDC upsert via foreachBatch: each micro-batch MERGEs into
    * a versioned keyed store — per user the row with the latest
    * (ts, event_id) wins. This is the sink-side materialization pattern
    * (stream → MERGE INTO serving table) that complements the
    * operator-state patterns above: the store is a plain table any
    * batch reader can query mid-stream, and versioned writes make the
    * merge idempotent under micro-batch replay (a re-run batch
    * overwrites its own version — the [[graft.ingest]] batchId-keyed
    * sink discipline).
    *
    * Last-wins by (ts, event_id) is associative and commutative, so the
    * final store is independent of how the input was micro-batched —
    * StreamingSpec proves a 3-file split drain equals the single-batch
    * drain, and the full drain equals the batch argmax (the oracle).
    * At scale the per-batch merge is MERGE INTO on a keyed table
    * (Delta/Iceberg); here it is union + argmax + versioned parquet —
    * same contract, same shuffle shape (one exchange on the key per
    * batch, batch sizes bound state reads). */
  def streamForeachbatchUpsert(spark: SparkSession, dir: String): DataFrame =
    streamForeachbatchUpsertFrom(spark, dir, rawEvents = true)

  /** [[streamForeachbatchUpsert]] over an arbitrary parquet stream dir:
    * `rawEvents = true` reads the sf dir's events file (probing its
    * stored ts type — nanos-as-long or micros); `rawEvents = false`
    * reads micros-TIMESTAMP files (re-exported copies); `filesPerTrigger`
    * forces multi-file input into that many files per micro-batch so
    * specs can prove the cross-batch merge (AvailableNow otherwise
    * drains everything available in one batch). */
  def streamForeachbatchUpsertFrom(spark: SparkSession, dir: String,
      rawEvents: Boolean, filesPerTrigger: Option[Int] = None): DataFrame =
    spark.synchronized {
      val base = Storage.tempDir("graft-upsert")
      def argmaxPerKey(df: DataFrame): DataFrame =
        df.groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"),
            col("m.event_id").as("event_id"), col("m.value").as("value"))
      // spec-written dirs (rawEvents=false) are always canonical; an sf
      // corpus gets the full footer probe + normalization, and its
      // layout is probed (the x10 sweep caught this path silently
      // draining zero batches from a directory layout)
      val src = streamEvents(spark, dir, filesPerTrigger = filesPerTrigger,
        rawEvents = rawEvents)
      @volatile var latest: Option[String] = None
      val w = src
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val upd = argmaxPerKey(batch)
          val merged = latest match {
            case Some(p) => argmaxPerKey(spark.read.parquet(p)
              .unionByName(upd))
            case None => upd
          }
          val out = s"$base/v$batchId"
          merged.write.mode("overwrite").parquet(out)
          latest = Some(out)
        }
      // Not through [[run]]: the plan is stateless, and the merges above
      // are batch shuffles that must plan at the session's own
      // spark.sql.shuffle.partitions — run would hold the session at its
      // state-partition count (8) for the whole drain, and the stream's
      // session, which the first merge plans on, is cloned at start.
      // the final version is read back as a local relation, so the
      // versioned store can be deleted before returning
      val store = try {
        startAndAwait(spark, w, "foreachbatch_upsert", checkpoint = None)
        localCopy(spark, spark.read.parquet(latest.getOrElse(
          sys.error("upsert drain produced no batches"))))
      } finally Storage.delete(base)
      store
        .select(col("user_id"), unix_micros(col("ts")).as("last_ts_us"),
          col("event_id").as("last_event_id"),
          col("value").as("last_value"))
        .orderBy(col("user_id"))
    }

  /** Watermark late-data semantics: a three-phase replay where a
    * tranche of OLD events (`event_id % 7 = 0 AND ts < Jan 15` —
    * "delayed in transit") arrives LAST, after the rest of the stream
    * has advanced the watermark to `max(ts) - 1h`. Every late row's
    * window is finalized (evicted + emitted) before the tranche
    * arrives, so the engine drops all of it, and the append-mode output
    * holds exactly the on-time rows' windows whose end ≤ the final
    * watermark. This is the event-time correctness contract the
    * reference's arrival-order consumer cannot express (SURVEY §2.8:
    * "no watermarks, no late-data handling"), and it is fully
    * deterministic — arrival order is pinned by file modification
    * times, the cutoffs are constants — so the DuckDB oracle replays
    * the drop + finalization rule as plain SQL.
    *
    * Three batches, not two, because Spark filters late events against
    * the PREVIOUS batch's committed watermark (watermarkForLateEvents
    * lags watermarkForEviction by one batch — observed: a late tranche
    * in batch 1 merges into state, in batch 2 it is dropped with
    * `numRowsDroppedByWatermark` > 0). Batch 0 carries the bulk, batch
    * 1 a fresh on-time tail (any subset — totals are
    * batching-independent), batch 2 the late tranche.
    *
    * Scale shape: identical to [[streamWindowAgg]] — per-(window, type)
    * state, map-side partial aggregation per micro-batch, state-store
    * partitions sized to the keyspace. Late-row dropping happens BEFORE
    * the shuffle (the watermark filter is a scan-side predicate), so a
    * 100 TB backfill of stragglers costs a scan, not state churn. */
  def streamLateData(spark: SparkSession, dir: String,
      bulkFiles: Int = 1): DataFrame = {
    // bulkFiles > 1: the PacedState evidence path — ALL on-time rows
    // (bulk ∪ tail) are split into time-ranged files so the watermark
    // advances (and finalized windows EVICT) during the run instead of
    // only at the tail. The tail CANNOT stay a separate trailing file
    // here: once the watermark has advanced through the paced bulk, a
    // held-out any-ts tranche is itself late and would be dropped
    // (measured — Round19Spec's first draft caught it), which is the
    // correct production semantics: "on-time" MEANS inside the
    // watermark horizon of the arrival order. Late rows still arrive
    // last and still drop — the late-filter watermark during their
    // batch is ≥ the second-to-last slice's max ts − 1 h, far past the
    // late cutoff. Output therefore equals the declared 3-file layout's.
    // The replay dir is keyed by the split so the default layout (the
    // declared query) is never clobbered.
    // slice mtimes are 1000000 + i·1000; the tail/late markers sit at
    // 2000000/3000000, so the mtime-ordering invariant (late replays
    // LAST) holds only while the slice schedule stays below them
    require(bulkFiles <= 512, s"bulkFiles=$bulkFiles would collide with " +
      "the late tranche's fixed mtime and break its replays-last invariant")
    // the staged replay files, built once per (session, source dir,
    // split, events generation); plain parquet any reader can inspect
    val staged = IndexCache(spark, "stream.lateReplay", (dir, bulkFiles),
        Seq(s"$dir/events.parquet")) {
      val base = Storage.tempDir("graft-late-replay")
      val ev = graft.schema.Schemas.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val late = col("event_id") % 7 === 0 &&
        col("ts") < lit("2024-01-15").cast("timestamp")
      val tail = col("event_id") % 11 === 3
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val stage = s"$base/stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Storage.list(stage).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        // FileStreamSource orders by mod time
        Storage.move(part.toString, s"$base/arrivals/$name.parquet", mtime)
      }
      if (bulkFiles <= 1) {
        writeOne(ev.filter(!late && !tail), "batch_0", 1000000L)
        writeOne(ev.filter(!late && tail), "batch_1", 2000000L)
      } else {
        // time-ranged on-time slices, mtime-ordered = event-time-ordered
        val onTime = ev.filter(!late)
        val b = onTime.agg(min(col("ts")).cast("long").as("lo"),
          (max(col("ts")).cast("long") + 1).as("hi")).collect()(0)
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val step = math.max(1L, (hi - lo) / bulkFiles + 1)
        (0 until bulkFiles).foreach { i =>
          writeOne(onTime.filter(col("ts").cast("long") >= lo + i * step &&
              col("ts").cast("long") < lo + (i + 1) * step),
            s"batch_0_$i", 1000000L + i * 1000L)
        }
      }
      writeOne(ev.filter(late), "batch_2", 3000000L)
      base
    }(Storage.delete)
    val agg = streamTable(spark, s"$staged/arrivals",
        StructType.fromDDL("event_id LONG, ts TIMESTAMP, " +
          "user_id LONG, event_type STRING, value DOUBLE"), Some(1))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).cast("float").as("sum_value"))
    drain(spark, agg, OutputMode.Append())
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  // ---- Spark 4 transformWithState ---------------------------------------

  // public: Catalyst's generated (de)serializers must access these
  case class TwsState(n: Long, sum: Double, maxTs: Long)
  case class TwsRow(user_id: Long, n_events: Long, sum_value: Double,
    last_ts: java.sql.Timestamp)

  /** Per-user running profile for [[streamTransformWithState]]: one
    * ValueState cell per key, updated once per (key, micro-batch) and
    * re-emitted — the arbitrary-state API v2 successor to
    * [[streamSessionCounts]]' mapGroupsWithState. Within-batch fold
    * order is arbitrary (shuffled input); count/max are order-free and
    * the double sum reassociates well below the float cast emitted
    * downstream, so the drained result is batch-deterministic. */
  private class RunningProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TwsRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TwsState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TwsState]("profile",
        org.apache.spark.sql.Encoders.product[TwsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TwsRow] = {
      var s = if (st.exists()) st.get() else TwsState(0L, 0.0, Long.MinValue)
      rows.foreach { e =>
        // epoch-MICROS, not getTime's millis — the stored timestamps
        // carry micros and a truncated max breaks the batch oracle
        val us = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
        s = TwsState(s.n + 1, s.sum + e.value, math.max(s.maxTs, us))
      }
      st.update(s)
      val out = new java.sql.Timestamp(Math.floorDiv(s.maxTs, 1000000L) * 1000)
      out.setNanos((Math.floorMod(s.maxTs, 1000000L) * 1000).toInt)
      Iterator.single(TwsRow(key, s.n, s.sum, out))
    }
  }

  case class TopVals(user_id: Long, n_seen: Long, v1: Double, v2: Double,
    v3: Double)

  /** ListState processor for [[streamUserTopValues]]: a bounded top-3
    * (value DESC, event_id ASC) list per user, overwritten per batch —
    * the bounded-leaderboard state shape. The list never exceeds k
    * elements in the store, whatever the stream length. */
  private class TopValuesProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvId, TopVals] {
    @transient private var top: org.apache.spark.sql.streaming.ListState[(Double, Long)] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      top = getHandle.getListState[(Double, Long)]("top",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EvId],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TopVals] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      top.get().foreach(buf += _)
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e => n += 1; buf += ((e.value, e.event_id)) }
      val kept = buf.sortBy(t => (-t._1, t._2)).take(3)
      top.put(kept.toArray)
      seen.update(n)
      val v = kept.map(_._1).padTo(3, Double.NaN)
      Iterator.single(TopVals(key, n, v(0), v(1), v(2)))
    }
  }

  /** Per-user bounded leaderboard via transformWithState LIST state:
    * the top-3 event values per user, exact under any micro-batching
    * (the merge is a total-order prune, arrival-order invariant). The
    * update-mode drain re-emits per batch; max_by(n_seen) keeps the
    * final state — full drain equals the batch top-3, the oracle
    * contract. Completes the state-type surface beside
    * [[streamTransformWithState]] (ValueState) and
    * [[streamIdleTimeout]] (timers); [[streamUserTypeCounts]] covers
    * MapState. */
  def streamUserTopValues(spark: SparkSession, dir: String): DataFrame =
    streamUserTopValuesFrom(spark, dir, rawEvents = true, None)

  def streamUserTopValuesFrom(spark: SparkSession, dir: String,
      rawEvents: Boolean, filesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val ds: Dataset[EvId] = streamEvents(spark, dir,
        filesPerTrigger = filesPerTrigger, rawEvents = rawEvents)
      .select(col("event_id"), col("user_id"), col("value")).as[EvId]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new TopValuesProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_seen")).as("n_seen"),
        max_by(col("v1"), col("n_seen")).as("v1"),
        max_by(col("v2"), col("n_seen")).as("v2"),
        max_by(col("v3"), col("n_seen")).as("v3"))
      .orderBy(col("user_id"))
  }

  /** [[streamTransformWithState]] against a DURABLE checkpoint — the
    * restart-resume path: a second AvailableNow run over the same
    * checkpoint processes only files added since the first run, and
    * the per-user ValueState must RESUME (emitted profiles count the
    * whole history, not the new tranche). Each run returns only that
    * run's Update-mode emissions (fresh memory sink), which is exactly
    * what the resume spec needs to observe. The sink is foreachBatch →
    * parquet, NOT the memory sink: only fault-tolerant sinks may
    * recover from a checkpoint. The durable checkpoint makes [[run]]
    * ignore the state-partition test hook: a resumed query must keep its
    * original count. */
  def streamTransformWithStateResumable(spark: SparkSession, dir: String,
      checkpoint: String, outDir: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[Ev] = streamEvents(spark, dir, rawEvents = false)
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new RunningProfileProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    run(spark, out.toDF(), OutputMode.Update(),
        "transform_with_state_resumable", checkpoint = Some(checkpoint))(
      _.foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir)
      })
    spark.read.schema(
      "user_id LONG, n_events LONG, sum_value DOUBLE, last_ts TIMESTAMP")
      .parquet(outDir)
  }

  case class EvId(event_id: Long, user_id: Long, value: Double)
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MapState processor for [[streamUserTypeCounts]]: per-user map of
    * event_type → running count, incremented per batch — the
    * keyed-submap state shape (feature buckets per entity). */
  private class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, String), TypeCount] {
    @transient private var m: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      m = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      rows.foreach { case (_, t) =>
        val cur = if (m.containsKey(t)) m.getValue(t) else 0L
        m.updateValue(t, cur + 1)
      }
      m.iterator().map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** Per-(user, type) running counts via transformWithState MAP state:
    * each micro-batch bumps only the touched submap keys and re-emits
    * the key's full map; the rollup keeps the max per (user, type) —
    * counts are monotone, so the full drain equals the batch GROUP BY
    * (the oracle contract). */
  def streamUserTypeCounts(spark: SparkSession, dir: String): DataFrame =
    streamUserTypeCountsFrom(spark, dir, rawEvents = true, None)

  def streamUserTypeCountsFrom(spark: SparkSession, dir: String,
      rawEvents: Boolean, filesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir,
        filesPerTrigger = filesPerTrigger, rawEvents = rawEvents)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n_events"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ---- streaming incremental near-dup ------------------------------------

  case class BandKeyRow(band: Int, bucket: Long, delta_id: Long)
  case class CandPair(delta_id: Long, match_id: Long)

  /** ListState processor for [[streamDedupIncremental]]: per
    * (band, bucket) key, the delta ids seen so far. Each arrival emits a
    * candidate pair against every member with a SMALLER id — the batch
    * probe's "only earlier delta docs count as the kept original" rule,
    * evaluated over the union of prior-state and in-batch arrivals so
    * the emitted pair set is identical under ANY micro-batch split or
    * within-batch arrival order. */
  private class BucketMembersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Long), BandKeyRow, CandPair] {
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      members = getHandle.getListState[Long]("members",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandKeyRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CandPair] = {
      val prior = members.get().toArray
      val arrived = rows.map(_.delta_id).toArray
      val all = prior ++ arrived
      // the batch rule is ID-based, not arrival-based: for each arrival x,
      // (x, m) against every smaller member AND (P, x) against every
      // LARGER prior member — a smaller-id doc landing in a later
      // micro-batch is still the kept original of the larger id already
      // in state. Within-batch pairs come from the first rule only, so
      // nothing double-emits.
      val out = arrived.flatMap { id =>
        all.iterator.filter(_ < id).map(m => CandPair(id, m)) ++
          prior.iterator.filter(_ > id).map(p => CandPair(p, id))
      }
      members.put(all.distinct)
      out.iterator
    }
  }

  /** STREAMING incremental near-dup: the micro-batch twin of
    * [[graft.query.Dedup.dedupIncrementalMinhash]] — delta documents
    * arrive as a stream, each micro-batch computes MinHash signatures
    * and band buckets map-only in-stream, probes the PERSISTED corpus
    * band index via a stream-static join (the static side is the same
    * cached signature index every batch query shares, re-probed per
    * micro-batch), and discovers intra-delta duplicates through
    * transformWithState ListState keyed by (band, bucket). The drained
    * candidate set feeds the shared exact-Jaccard verdict tail, so
    * the full drain equals the batch probe ROW FOR ROW under any
    * micro-batch split — the stream_kalman_filter batch-equivalence
    * contract, pinned by DriverRound14Spec's multi-file drain.
    *
    * Scale shape: per micro-batch work is (delta rows) × map-only
    * signature/banding + one broadcast-able probe of the band index +
    * state whose size is the realized (band, bucket) occupancy of the
    * DELTA only (corpus membership lives in the static index, not in
    * state). At 100 TB of corpus and a trickle of delta, state stays
    * delta-sized — the asymmetry that makes the streaming form viable
    * where re-running the batch probe per arrival is not. */
  def streamDedupIncremental(spark: SparkSession, dir: String,
      shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import graft.query.{Dedup, TokenHash}
    val raw = streamTable(spark, s"$dir/documents.parquet",
      StructType.fromDDL("doc_id LONG, text STRING, lang STRING, " +
        "source STRING, n_chars LONG"), filesPerTrigger)
    val planted = raw.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text",
        concat(lit("planted near duplicate copy "), col("text")))
    val deltaDocs = raw.unionByName(planted)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), TokenHash.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= shingleSize)
    val deltaBanded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(deltaDocs, "toks", "doc_id",
        shingleSize, numBands * rowsPerBand),
      numBands, rowsPerBand)
    // stream-static probe of the persisted corpus band index
    val corpusB = Dedup.bandedSignatures(
        Dedup.cachedSignatureIndex(spark, dir, shingleSize,
          numBands * rowsPerBand), numBands, rowsPerBand)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("band"), col("bucket"), col("doc_id").as("match_id"))
    val corpusCand = deltaBanded
      .join(corpusB, Seq("band", "bucket"))
      .select(col("doc_id").as("delta_id"), col("match_id"))
    val batchCand = deltaBanded
      .select(col("band"), col("bucket"), col("doc_id").as("delta_id"))
      .as[BandKeyRow]
      .groupByKey(r => (r.band, r.bucket))
      .transformWithState(new BucketMembersProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val cand = drain(spark, corpusCand.unionByName(batchCand),
      OutputMode.Update())
    Dedup.incrementalVerdict(spark, dir, cand, shingleSize,
      jaccardThreshold)
  }

  // ---- streaming IVF delta assignment ------------------------------------

  case class CellArrival(cell: Long)
  case class CellCount(cell: Long, n_delta: Long)

  /** ValueState processor for [[streamAnnIvfAssign]]: per IVF cell, the
    * cumulative count of delta vectors assigned so far. Each batch emits
    * the updated cumulative count (Update mode), so the drain's
    * max-per-cell equals the batch delta occupancy under ANY micro-batch
    * split. State is KEYSPACE-shaped: ≤ nCells rows of one long each,
    * regardless of how many vectors stream through. */
  private class CellOccupancyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, CellArrival, CellCount] {
    @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      n = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CellArrival],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CellCount] = {
      val total = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(total)
      Iterator.single(CellCount(key, total))
    }
  }

  private val embeddingsSchema =
    StructType.fromDDL("vec_id LONG, embedding ARRAY<FLOAT>, label INT")

  /** STREAMING IVF delta assignment — the micro-batch twin of
    * [[graft.query.Similarity.annIvfDeltaAssign]], continuous embedding
    * ingest as the production shape (the reference's consumer loop,
    * consumer/consumer.py:19-26, applied to vectors): delta vectors
    * arrive as a stream and each micro-batch assigns them to the
    * PERSISTED corpus-trained cells map-only — the ≤nCells seed panel is
    * packed into ONE static row (sorted struct array) cross-joined onto
    * the stream, and `array_max(transform(...))` over the panel is the
    * same (dp desc, cell asc) argmax as the batch path's
    * max(struct(dp, −cell)), evaluated per arriving row with no
    * stream-side shuffle before the state operator. Cumulative per-cell
    * occupancy lives in transformWithState ValueState (≤ nCells longs —
    * keyspace-shaped, never corpus-shaped), and the drained counts feed
    * the shared [[graft.query.Similarity.ivfOccReport]] epilogue, so the
    * full drain equals the batch report ROW FOR ROW under any
    * micro-batch split — the stream_dedup_incremental contract.
    *
    * Scale shape: per micro-batch work is (arriving vectors) × nCells
    * codegen'd dot products + one exchange onto ≤nCells state keys; the
    * corpus occupancy is the standing fingerprint-cached index, never
    * recomputed per batch. At 100 TB of standing corpus and a trickle of
    * delta, the stream does delta-sized work per trigger. */
  def streamAnnIvfAssign(spark: SparkSession, dir: String,
      nCells: Int = 16,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import graft.query.Similarity
    graft.GraftExtensions.register(spark)
    val seeds = Similarity.ivfSeedPanel(spark, dir, nCells)
    // one static row: the seed panel as a cell-sorted struct array
    val panel = seeds
      .agg(sort_array(collect_list(struct(col("cell"), col("seed_e"))))
        .as("panel"))
    val assigned = streamTable(spark, s"$dir/embeddings.parquet",
        embeddingsSchema, filesPerTrigger)
      .filter(col("vec_id") % 5 === 0)
      .crossJoin(broadcast(panel))
      .select(expr(
        """-array_max(transform(panel,
          |  s -> named_struct(
          |    'dp', float_dot(embedding, s.seed_e),
          |    'negc', -s.cell))).negc""".stripMargin).as("cell"))
      .as[CellArrival]
    val counts = assigned.groupByKey(_.cell)
      .transformWithState(new CellOccupancyProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val deltaOcc = drain(spark, counts, OutputMode.Update())
      .groupBy(col("cell")).agg(max(col("n_delta")).as("n_delta"))
    Similarity.ivfOccReport(spark, dir, seeds, deltaOcc, nCells)
  }

  case class IdleRow(user_id: Long, n_events: Long,
    idle_since: java.sql.Timestamp)

  /** Event-time-timer processor for [[streamIdleTimeout]]: every batch
    * refreshes the key's (count, last-seen) state and re-arms ONE timer
    * at last-seen + gap; when the WATERMARK crosses that expiry the
    * timer fires, the key is emitted as idle, and its state clears.
    * Stale timers (an older batch's arm that a newer event superseded)
    * are deleted on re-arm and double-checked against state at expiry —
    * the standard guard, since timer delivery is at-least-once across
    * re-arms. Timers live at WATERMARK (ms) precision; the oracle
    * replays the same ms-floor arithmetic. */
  private class IdleTimeoutProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, IdleRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TwsState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TwsState]("idle",
        org.apache.spark.sql.Encoders.product[TwsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[IdleRow] = {
      var s = if (st.exists()) st.get() else TwsState(0L, 0.0, Long.MinValue)
      rows.foreach { e =>
        val us = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
        s = TwsState(s.n + 1, 0.0, math.max(s.maxTs, us))
      }
      st.update(s)
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(s.maxTs / 1000 + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[IdleRow] = {
      if (!st.exists()) Iterator.empty
      else {
        val s = st.get()
        // a re-armed (later) timer owns the emission; ignore stale fires
        if (expiredTimerInfo.getExpiryTimeInMs() < s.maxTs / 1000 + gapMs)
          Iterator.empty
        else {
          st.clear()
          val out = new java.sql.Timestamp(Math.floorDiv(s.maxTs, 1000000L) * 1000)
          out.setNanos((Math.floorMod(s.maxTs, 1000000L) * 1000).toInt)
          Iterator.single(IdleRow(key, s.n, out))
        }
      }
    }
  }

  /** Idle-key detection via transformWithState EVENT-TIME TIMERS: a
    * user whose last event is ≥ 30 minutes (event time) behind the
    * watermark is emitted once with their lifetime event count and
    * last-seen timestamp, and their state is freed — the timer-driven
    * state-expiry pattern (abandoned-cart / session-timeout alerts)
    * that polling-free streaming pipelines build on. Companion of
    * [[streamTransformWithState]]: that one exercises ValueState
    * update-per-batch, this one the timer callback surface.
    *
    * Oracle contract: after a full drain the emitted set is exactly the
    * users with last-seen + gap ≤ final watermark (max event time −
    * 10 min delay), all in WATERMARK (millisecond-floor) arithmetic —
    * the batch-replayable form of "the timer fired before the stream
    * drained". Scale shape: one ValueState cell + one armed timer per
    * key in RocksDB; expiry walks only the timer column family, never
    * the keyspace. */
  def streamIdleTimeout(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, delayMinutes: Int = 10): DataFrame = {
    import spark.implicits._
    val ds: Dataset[Ev] = streamEvents(spark, dir)
      .withWatermark("ts", s"$delayMinutes minutes")
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new IdleTimeoutProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    drain(spark, out.toDF(), OutputMode.Append())
      .orderBy(col("user_id"))
  }

  /** Per-user running (count, sum, last-seen) via Spark 4's
    * transformWithState — the arbitrary-state processor API with typed
    * ValueState on the RocksDB state-store provider (transformWithState
    * requires it; HDFS-backed stores don't implement the v2 column
    * families). The production shape this models: a continuously
    * updated per-entity feature profile serving online lookups.
    *
    * Scale shape: state is one fixed-size cell per user in RocksDB —
    * spillable off-heap, so the keyspace can exceed executor memory
    * (the reason to prefer transformWithState over mapGroupsWithState's
    * HDFS store at 100 TB keyspaces); each micro-batch touches only the
    * keys it carries. Update-mode drain re-emits a key's profile per
    * batch; the max_by(n) rollup keeps the final (largest-n) emission
    * per key, making the full drain equal the batch aggregate — the
    * oracle contract. */
  def streamTransformWithState(spark: SparkSession, dir: String): DataFrame =
    streamTransformWithStateFrom(spark, dir, rawEvents = true,
      filesPerTrigger = None)

  case class RlOut(user_id: Long, event_id: Long, allowed: Boolean)

  case class AzOut(user_id: Long, event_id: Long, n_prior: Long)

  /** Streaming per-user z-score anomaly detector: running (n, Σx, Σx²)
    * in ValueState over ×1000-scaled integer values; an arriving event
    * is flagged when its squared deviation exceeds τ²·variance with
    * n ≥ `minN` priors — the online drift/outlier gate a feature
    * pipeline runs at ingest. The z test is CROSS-MULTIPLIED into one
    * integer comparison ((x·n − s)² > τ²·(n·q − s²)), so the verdict
    * is exact — no floating point anywhere. (Bounds: at |x| ≤ 5·10⁵
    * the binding term is dev² = (x·n − s)² ≤ (2n·5·10⁵)², inside 63
    * bits only up to n ≈ 3·10³ events/key — NOT 10⁴: s² alone is
    * (n·5·10⁵)² which overflows at n ≈ 6·10³. Past n ≈ 3·10³ Spark
    * would wrap Long silently while the DuckDB oracle raises, so the
    * comparison must ride DECIMAL(38) like agg_skew_kurtosis; the
    * corpus keyspace here peaks at ~400 events/key, well inside the
    * exact envelope.) State updates AFTER the test: a point is
    * judged against its priors only, never against itself. */
  private class AnomalyZProcessor(tau2: Long, minN: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), AzOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("moments",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AzOut] = {
      // (user, event_id, us, v3) sorted by event time within the trigger
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      var (n, s, q) = if (st.exists()) st.get() else (0L, 0L, 0L)
      val out = Iterator.newBuilder[AzOut]
      sorted.foreach { case (u, id, _, x) =>
        if (n >= minN) {
          val dev = x * n - s
          if (dev * dev > tau2 * (n * q - s * s)) out += AzOut(u, id, n)
        }
        n += 1; s += x; q += x * x
      }
      st.update((n, s, q))
      out.result()
    }
  }

  /** Token-bucket processor for [[streamRateLimit]]: ValueState holds
    * (tokens·period in µs, last event µs). The bucket is order-SENSITIVE
    * — each decision depends on the tokens the previous decision left —
    * and shuffle order within a micro-batch is arbitrary, so the batch's
    * rows are buffered and time-sorted before the fold (per key per
    * batch, bounded by the trigger's volume — the same buffering every
    * order-dependent stateful operator pays). Tokens are integer
    * microseconds of refill credit: capacity·period is the cap, each
    * admitted event spends one period — no floating point anywhere, so
    * the drained result replays exactly in the oracle's recursive CTE. */
  private class RateLimitProcessor(capacityTokens: Long, periodUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), RlOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("bucket",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RlOut] = {
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      var (tok, last) =
        if (st.exists()) st.get() else (capacityTokens * periodUs, Long.MinValue)
      val out = sorted.map { case (u, id, us) =>
        if (last != Long.MinValue)
          tok = math.min(capacityTokens * periodUs, tok + (us - last))
        last = us
        val allowed = tok >= periodUs
        if (allowed) tok -= periodUs
        RlOut(u, id, allowed)
      }
      st.update((tok, last))
      out.iterator
    }
  }

  /** Streaming per-user rate limiting (token bucket: burst `capacity`,
    * one token per `periodUs`): each event is admitted or rejected at
    * arrival — the online admission-control twin of the batch
    * [[graft.query.stats.Anomaly.anomalyAlertDebounce]] recurrence, kept
    * as transformWithState state so a long-running stream carries the
    * bucket across triggers. Integer-exact; the oracle replays the
    * bucket as a recursive CTE.
    *
    * Scale shape: state is two longs per key; per-trigger work is one
    * sort of that key's new events. The single-batch pin gives the
    * batch-equivalence contract (a multi-trigger run stays correct
    * whenever files arrive in event-time order, the append-only
    * production layout). */
  def streamRateLimit(spark: SparkSession, dir: String,
      capacityTokens: Long = 2L, periodUs: Long = 43200000000L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new RateLimitProcessor(capacityTokens, periodUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Streaming z-score anomaly gate over [[AnomalyZProcessor]]: emits
    * the (user, event) pairs whose value deviates > τ·σ from that
    * user's PRIOR stream, with `minN` warm-up. Integer-exact verdicts
    * (see the processor), so the DuckDB oracle replays them with
    * cumulative 1-PRECEDING window sums. Same single-batch pin and
    * batch-equivalence contract as [[streamRateLimit]]: multi-trigger
    * runs stay correct whenever files arrive in event-time order (the
    * append-only production layout).
    *
    * Scale shape: three longs of state per key; per-trigger work is one
    * sort of the key's new events. The flagged subset (not every
    * event) is what crosses the sink — the alert stream, not a fact
    * copy. */
  def streamAnomalyZscore(spark: SparkSession, dir: String,
      tau2: Long = 9L, minN: Long = 10L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * lit(1000)).cast("long").as("v3"))
      .as[(Long, Long, Long, Long)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new AnomalyZProcessor(tau2, minN),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .orderBy(col("user_id"), col("event_id"))
  }

  case class KfOut(user_id: Long, event_id: Long, rn: Long, z: Double,
    k_gain: Double, x_filt: Double)

  /** Streaming per-user 1-D Kalman filter: the ValueState carries
    * (rn, x, P) and every arriving observation advances the SAME
    * local-level recurrence as the batch `ts_kalman_1d`
    * ([[graft.query.stats.TimeSeries.tsKalman1d]]; identical
    * parenthesization, identical
    * (ts, event_id) in-batch order), so a full drain equals the batch
    * filter BIT for bit — the batch-equivalence contract that lets one
    * codebase serve both the backfill and the live path. State is 3
    * numbers per user, watermark-free (the filter never closes),
    * RocksDB-backed like the z-score gate. */
  private class Kalman1dProcessor(q: Double, r: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), KfOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Double, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Double)]("kf",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[KfOut] = {
      val sorted = rows.toArray.sortBy(t => (t._3, t._2))
      var (rn, x, p) = if (st.exists()) st.get() else (0L, 0.0, 0.0)
      val out = sorted.map { case (u, id, _, z) =>
        rn += 1
        val k =
          if (rn == 1L) { x = z; p = 1.0; 1.0 }
          else {
            val kk = (p + q) / (p + q + r)
            x = x + kk * (z - x)
            p = (1.0 - kk) * (p + q)
            kk
          }
        KfOut(u, id, rn, z, k, x)
      }
      st.update((rn, x, p))
      out.iterator
    }
  }

  def streamKalmanFilter(spark: SparkSession, dir: String, q: Double = 1.0,
      r: Double = 4.0, maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new Kalman1dProcessor(q, r),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .orderBy(col("user_id"), col("rn"))
  }

  case class DebOut(user_id: Long, event_id: Long, us: Long)

  /** Streaming per-user alert debouncer: the ValueState carries the
    * last FIRED anchor (microseconds) and every arriving error event
    * advances the SAME greedy recurrence as the batch
    * [[graft.query.stats.Anomaly.anomalyAlertDebounce]] (fire iff
    * ≥ `gapUs` since the last fired alert; identical (ts, event_id)
    * in-batch order), so a full drain equals the batch query row for
    * row — the batch-equivalence contract of the Kalman twin, on
    * alerting's home turf: the LIVE path is where debouncing actually
    * pages people. State is ONE long per user, watermark-free (the
    * anchor never expires), RocksDB-backed. */
  private class DebounceProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), DebOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("anchor",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DebOut] = {
      val sorted = rows.toArray.sortBy(t => (t._3, t._2))
      var anchor = if (st.exists()) st.get() else Long.MinValue
      val out = sorted.flatMap { case (u, id, us) =>
        if (anchor == Long.MinValue || us - anchor >= gapUs) {
          anchor = us; Some(DebOut(u, id, us))
        } else None
      }
      st.update(anchor)
      out.iterator
    }
  }

  /** Streaming twin of `anomaly_alert_debounce` (r15 verdict #6): the
    * error stream folds through [[DebounceProcessor]]'s one-long-per-
    * user anchor state; drain == batch row-for-row, shared recursive-
    * CTE oracle. */
  def streamAlertDebounce(spark: SparkSession, dir: String,
      gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new DebounceProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"))
      .orderBy(col("user_id"), col("event_id"))
  }

  case class CusumOut(user_id: Long, event_id: Long, rn: Long,
    value: Double, s_plus: Double, alarm: Boolean)

  /** Streaming per-user Page's CUSUM against a fixed target: the
    * ValueState carries (rn, S⁺) and every arriving observation
    * advances the SAME clamped recurrence as the batch
    * [[graft.query.stats.TimeSeries.tsCusumTarget]] (identical
    * parenthesization, identical (ts, event_id) in-batch order), so a
    * full drain equals the batch scan bit for bit — the Kalman/debounce
    * batch-equivalence contract on the detector that EXISTS for the
    * live path (Page's test needs no future data, only the last S⁺).
    * State is 2 numbers per user, watermark-free, RocksDB-backed. */
  private class CusumTargetProcessor(target: Double, slack: Double,
      h: Double) extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), CusumOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("cusum",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CusumOut] = {
      val sorted = rows.toArray.sortBy(t => (t._3, t._2))
      var (rn, s) = if (st.exists()) st.get() else (0L, 0.0)
      val out = sorted.map { case (u, id, _, v) =>
        rn += 1
        val s1 = s + (v - target - slack)
        s = if (s1 > 0.0) s1 else 0.0
        CusumOut(u, id, rn, v, s, s > h)
      }
      st.update((rn, s))
      out.iterator
    }
  }

  /** Streaming twin of `ts_cusum_target`: the event stream folds
    * through [[CusumTargetProcessor]]'s two-number state; drain ==
    * batch row-for-row, shared recursive-CTE oracle. */
  def streamCusumTarget(spark: SparkSession, dir: String,
      target: Double = 50.0, slack: Double = 5.0, h: Double = 200.0,
      maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .filter(col("user_id") < maxUser)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new CusumTargetProcessor(target, slack, h),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .orderBy(col("user_id"), col("rn"))
  }

  case class CrostonOut(user_id: Long, event_id: Long, rn: Long,
    demand: Double, gap_h: Double, z_hat: Double, q_hat: Double,
    forecast: Double)

  /** Streaming twin of `ts_croston`: the ValueState carries
    * (rn, ẑ, q̂, prev_us) and every arriving purchase advances the SAME
    * two-EWMA recurrence as the batch `ts_croston`
    * ([[graft.query.stats.TimeSeries.tsCroston]]; identical
    * parenthesization, identical
    * (ts, event_id) in-batch order) — drain == batch row for row,
    * shared recursive-CTE oracle. Intermittent demand is where the
    * live path matters most: the forecast is consulted BETWEEN
    * arrivals. State is 4 numbers per user, watermark-free,
    * RocksDB-backed. */
  private class CrostonProcessor(alpha: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), CrostonOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Long, Double, Double, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Double, Long)]("croston",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CrostonOut] = {
      val sorted = rows.toArray.sortBy(t => (t._3, t._2))
      var (rn, zh, qh, prevUs) =
        if (st.exists()) st.get() else (0L, 0.0, 0.0, 0L)
      val out = sorted.map { case (u, id, us, z) =>
        rn += 1
        val q =
          if (rn == 1L) 1.0
          else (us - prevUs).toDouble / 3.6e9
        prevUs = us
        if (rn == 1L) { zh = z; qh = q }
        else {
          zh = zh + alpha * (z - zh)
          qh = qh + alpha * (q - qh)
        }
        CrostonOut(u, id, rn, z, q, zh, qh, zh / qh)
      }
      st.update((rn, zh, qh, prevUs))
      out.iterator
    }
  }

  def streamCroston(spark: SparkSession, dir: String,
      alpha: Double = 0.1, maxUser: Long = 50L): DataFrame = {
    import spark.implicits._
    val ds = streamEvents(spark, dir, singleBatch = true)
      .filter(col("user_id") < maxUser
        && col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new CrostonProcessor(alpha),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .orderBy(col("user_id"), col("rn"))
  }

  case class CalIn(bin: Int, scoreU: Long, pos: Long)
  case class CalBin(bin: Int, n: Long, sum_u: Long, n_pos: Long)

  /** Per-bin running reliability counters: ValueState[(n, Σscore_u,
    * n_pos)] keyed by the score bin — the streaming form of the
    * calibration-bins aggregate. Σscore_u accumulates the ×10⁶
    * micro-unit INTEGER grid (the batch query's exactness discipline —
    * a raw double sum of 0.9999-clamped scores drifted at x10), so the
    * running sum is EXACT and the drain equals the batch aggregate
    * bit-for-bit whatever the micro-batch arrival order. */
  private class CalibBinsProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Int, CalIn, CalBin] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      // state name versioned to "calib_u" (ADVICE r18): the encoding
      // changed from (Long, Double, Long) to (Long, Long, Long) when the
      // value sum moved to the exact integer grid; reusing the old name
      // would misdecode any pre-change persistent checkpoint. The drains
      // here are fresh/ephemeral, but the rename makes the schema change
      // a loud key-miss instead of a silent misread if a persistent
      // checkpoint is ever introduced.
      st = getHandle.getValueState[(Long, Long, Long)]("calib_u",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[CalIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CalBin] = {
      var (n, s, p) = if (st.exists()) st.get() else (0L, 0L, 0L)
      rows.foreach { r => n += 1; s += r.scoreU; p += r.pos }
      st.update((n, s, p))
      Iterator.single(CalBin(key, n, s, p))
    }
  }

  /** Streaming twin of `eval_ece`: the embeddings stream folds into
    * per-bin (n, Σscore, n_pos) ValueState, the drain's final panel
    * feeds the SAME ≤10-row ECE epilogue as the batch query
    * ([[graft.query.ml.Calibration.eceFromBins]]) — the reliability monitor
    * a serving deployment keeps warm instead of rescanning its eval
    * split. Drain == batch bit-identically (exact sums, shared
    * epilogue, shared oracle). */
  def streamEvalEce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val score = least(greatest(
      element_at(col("embedding"), 1).cast("double") * 2.0 + 0.5,
      lit(0.0)), lit(0.9999))
    val ds = streamTable(spark, s"$dir/embeddings.parquet",
        embeddingsSchema, None)
      .select(floor(score * 10).cast("int").as("bin"),
        round(score * lit(1e6)).cast("long").as("scoreU"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("pos"))
      .as[CalIn]
    val out = ds.groupByKey(_.bin)
      .transformWithState(new CalibBinsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    // counters are monotone nondecreasing across micro-batches, so the
    // final state per bin is the per-column max of the Update emissions;
    // the micro-unit total converts back with the batch query's exact
    // one-division epilogue
    val panel = drain(spark, out.toDF(), OutputMode.Update())
      .groupBy(col("bin"))
      .agg(max(col("n")).as("n"), max(col("sum_u")).as("su"),
        max(col("n_pos")).as("n_pos"))
      .select(col("bin"), col("n"),
        (col("su").cast("double") / lit(1e6)).as("sum_score"),
        col("n_pos"))
    graft.query.ml.Calibration.eceFromBins(panel)
  }

  case class DigitIn(digit: Int, one: Long)
  case class DigitCount(digit: Int, n_orders: Long)

  /** Per-digit running counter for the Benford monitor. */
  private class BenfordProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Int, DigitIn, DigitCount] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("benford",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[DigitIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DigitCount] = {
      var n = if (st.exists()) st.get() else 0L
      rows.foreach(_ => n += 1)
      st.update(n)
      Iterator.single(DigitCount(key, n))
    }
  }

  /** Streaming twin of `dq_benford_law`: order totals stream into
    * per-leading-digit ValueState counters and the drained ≤9-row panel
    * feeds the SAME chi-square epilogue as the batch query — the
    * always-on feed-integrity monitor (a broken upstream extractor
    * shifts the first-digit law immediately, long before volume
    * alarms). Drain == batch bit-identically; shared oracle. */
  def streamDqBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cents > 0, not raw price > 0 — the batch query's r15-advice
    // fix, mirrored so drain == batch on ANY input (a price in
    // (0, 0.005) rounds to digit 0 and a non-finite chi2_term)
    val cents = round(col("o_totalprice") * lit(100.0)).cast("long")
    // declares only the needed column — parquet prunes by name, and the
    // stored o_orderdate physical type (DATE vs TIMESTAMP) varies by
    // generation, the ts-type lesson
    val ds = streamTable(spark, s"$dir/orders.parquet",
        StructType.fromDDL("o_totalprice DOUBLE"), None)
      .filter(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int")
        .as("digit"), lit(1L).as("one"))
      .as[DigitIn]
    val out = ds.groupByKey(_.digit)
      .transformWithState(new BenfordProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    val panel = drain(spark, out.toDF(), OutputMode.Update())
      .groupBy(col("digit"))
      .agg(max(col("n_orders")).as("n_orders"))
    graft.query.stats.Quality.benfordFromPanel(panel)
  }

  case class PsiIn(bin: Long, a: Long, b: Long)
  case class PsiBin(bin: Long, ca: Long, cb: Long)

  /** Per-bin running cohort counters for the PSI monitor:
    * ValueState[(ca, cb)] keyed by the value bin. */
  private class PsiBinsProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, PsiIn, PsiBin] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("psi",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[PsiIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[PsiBin] = {
      var (ca, cb) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r => ca += r.a; cb += r.b }
      st.update((ca, cb))
      Iterator.single(PsiBin(key, ca, cb))
    }
  }

  /** Streaming twin of `drift_psi_value`: events fold into per-bin
    * (ca, cb) ValueState and the drained panel feeds the SAME PSI-term
    * epilogue as the batch query
    * ([[graft.query.stats.Drift.psiTermsFromPanel]]), with the cohort
    * totals recovered from the panel itself (Σca, Σcb — equal to the
    * batch head's na/nb by construction). Bin edges are the monitor's
    * configured baseline (batch-derived min/max, the production
    * convention: PSI bins come from the REFERENCE distribution, not
    * the live stream). Drain == batch bit-identically; shared oracle. */
  def streamDriftPsi(spark: SparkSession, dir: String,
      bins: Int = 10): DataFrame = {
    import spark.implicits._
    import graft.query.stats.Drift
    Drift.overCohorts(spark, dir,
        "bin LONG, ca LONG, cb LONG, psi_term FLOAT") { c =>
      val ds = streamEvents(spark, dir)
        .select(c.bin(bins).as("bin"),
          when(col("event_id") % 2 === 0, 1L).otherwise(0L).as("a"),
          when(col("event_id") % 2 === 0, 0L).otherwise(1L).as("b"))
        .as[PsiIn]
      val out = ds.groupByKey(_.bin)
        .transformWithState(new PsiBinsProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val panel = drain(spark, out.toDF(), OutputMode.Update())
        .groupBy(col("bin"))
        .agg(max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      val tot = panel.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      Drift.psiTermsFromPanel(
        panel.crossJoin(broadcast(tot)),
        col("na").cast("double"), col("nb").cast("double"))
    }
  }


  /** [[streamTransformWithState]] over an arbitrary parquet stream dir —
    * the [[streamForeachbatchUpsertFrom]] convention: `rawEvents = true`
    * reads the sf dir's events file (probed ts type); `rawEvents =
    * false` reads micros-TIMESTAMP re-exports; `filesPerTrigger` forces
    * a multi-micro-batch drain so specs can prove the ValueState
    * carries across batches. */
  def streamTransformWithStateFrom(spark: SparkSession, dir: String,
      rawEvents: Boolean, filesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val ds: Dataset[Ev] = streamEvents(spark, dir,
        filesPerTrigger = filesPerTrigger, rawEvents = rawEvents)
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new RunningProfileProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(spark, out.toDF(), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("sum_value"), col("n_events"))
          .cast("float").as("sum_value"),
        max(col("last_ts")).as("last_ts"))
      .orderBy(col("user_id"))
  }
}
