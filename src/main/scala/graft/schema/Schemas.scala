package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Canonical schemas for the engine.
  *
  * The trip schema reproduces the reference's single logical dataset: 25
  * numeric (float) columns (reference: producer/producer.py:39-42 =
  * spark_trainer/spark_trainer.py:34-37), of which 19 are model features
  * (spark_trainer/spark_trainer.py:26-30, api/api.py:41-45) and `Duration`
  * is the label.
  *
  * All fields are nullable FloatType end-to-end, matching the reference's
  * API StructType (api/api.py:46-47).
  */
object Schemas {

  val label = "Duration"

  /** 19 model-input features, in assembler order (reference feature_cols). */
  val featureCols: Seq[String] = Seq(
    "Distance", "PLong", "PLatd", "DLong", "DLatd", "Haversine",
    "Pmonth", "Pday", "Phour", "Pmin", "PDweek",
    "Temp", "Precip", "Wind", "Humid", "Solar", "Snow", "GroundTemp", "Dust")

  /** Drop-off-time columns: present in the stream, dropped before training
    * (reference spark_trainer/spark_trainer.py:29 drop list). */
  val dropoffCols: Seq[String] = Seq("Dmonth", "Dday", "Dhour", "Dmin", "DDweek")

  /** All 25 numeric columns of the trip stream, producer declaration order. */
  val numericCols: Seq[String] =
    Seq(label, "Distance", "PLong", "PLatd", "DLong", "DLatd", "Haversine",
      "Pmonth", "Pday", "Phour", "Pmin", "PDweek") ++ dropoffCols ++
      Seq("Temp", "Precip", "Wind", "Humid", "Solar", "Snow", "GroundTemp", "Dust")

  /** Full 25-column trip schema (all nullable float). */
  val trip25: StructType =
    StructType(numericCols.map(c => StructField(c, FloatType, nullable = true)))

  /** 19-column feature schema — the scoring-request shape (api/api.py:46-47). */
  val feature19: StructType =
    StructType(featureCols.map(c => StructField(c, FloatType, nullable = true)))

  /** feature19 + label — the training-projection shape. */
  val training20: StructType =
    StructType(feature19.fields :+ StructField(label, FloatType, nullable = true))

  // ---- test-table access -------------------------------------------------

  /** Read one driver-provided test table from an sf directory.
    *
    * The resolved DataFrame is cached in [[IndexCache]] per (session,
    * path, content fingerprint): `spark.read.parquet` eagerly lists files
    * and reads a footer for schema inference on EVERY call (~60 ms
    * driver-side — measured in round 8's per-query-constant probe), which a
    * 200-query loop pays hundreds of times for the same dozen tables. A
    * production deployment gets the same amortization from the catalog's
    * relation cache; here the fingerprint keeps a regenerated corpus at
    * the same path from serving a stale file listing. DataFrames are
    * immutable plans, so reuse across queries in one session is safe;
    * the session key keeps plans from crossing SparkSessions in tests. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    IndexCache(spark, "table", path, Seq(path))(
      normalizePhysicalTypes(name, spark.read.parquet(path)))(_ => ())
  }

  /** Normalize generator-dependent physical types at the read boundary —
    * the same discipline [[events]] applies to `ts`, extended to every
    * column a regenerated corpus has drifted (or could drift) on. The
    * `events.ts` drift silently compressed event time 1000× in round 10;
    * an `embedding` shipped as list<double> would hard-crash all 30+
    * vector consumers (the codegen'd kernels bind to ArrayType(FloatType)),
    * and integer widths (`n_chars`, `label`) feed hash-exact oracles where
    * a silent INT32/INT64 flip changes result schemas. Casting when the
    * type already matches is a no-op Catalyst elides, so the steady-state
    * plan is unchanged. */
  private def normalizePhysicalTypes(name: String, df: DataFrame): DataFrame = {
    def matches(have: DataType, want: DataType): Boolean = (have, want) match {
      case (ArrayType(e1, _), ArrayType(e2, _)) => matches(e1, e2)
      case _ => have == want
    }
    def castIf(d: DataFrame, c: String, want: DataType): DataFrame =
      if (d.columns.contains(c) && !matches(d.schema(c).dataType, want)) {
        import org.apache.spark.sql.functions._
        val src = col(c)
        val guarded = (d.schema(c).dataType, want) match {
          // NARROWING integral cast: a plain cast silently wraps
          // out-of-range values — the exact corruption class this
          // normalization exists to prevent. Fail loudly instead.
          case (LongType, IntegerType) =>
            when(src.isNull ||
                src.between(Int.MinValue.toLong, Int.MaxValue.toLong),
              src.cast(want))
              .otherwise(raise_error(concat(
                lit(s"drifted $name.$c out of INT32 range: "),
                src.cast("string"))).cast(want))
          // LOSSY storage drift: a DOUBLE-contract column stored as
          // FLOAT already lost mantissa bits at write time — widening
          // it back cannot recover them, and every downstream
          // integer-exact oracle (×10⁶ scaling) would silently diverge.
          // TableTypeDriftSpec's contract: this class must fail
          // visibly, never auto-widen.
          case (FloatType, DoubleType) =>
            raise_error(lit(s"drifted $name.$c stored as FLOAT: lossy " +
              "vs the DOUBLE contract — regenerate the corpus")).cast(want)
          case _ => src.cast(want)
        }
        d.withColumn(c, guarded)
      } else d
    name match {
      case "embeddings" =>
        castIf(castIf(castIf(df, "embedding", ArrayType(FloatType)),
          "vec_id", LongType), "label", IntegerType)
      case "documents" =>
        // text/lang/source as un-annotated BINARY (a generator writing
        // raw bytes without the UTF8 logical type) decode back to
        // StringType here — downstream this column feeds every
        // tokenizer, shingle hash, and the multimodal payload encode
        castIf(castIf(castIf(castIf(castIf(df,
          "n_chars", LongType), "doc_id", LongType),
          "text", StringType), "lang", StringType), "source", StringType)
      case "events" =>
        // ts is normalized in [[events]] (its drift needs the stored
        // type to pick the conversion); the remaining columns get the
        // same width/binary discipline as documents/embeddings
        castIf(castIf(castIf(castIf(castIf(df,
          "event_id", LongType), "user_id", LongType),
          "value", DoubleType), "event_type", StringType),
          "props", StringType)
      case _ => df
    }
  }

  // ---- scan-layout-aware spreading --------------------------------------

  /** Upper bound on how many slices [[scanSlices]] ever reports — the
    * gate only compares against the core count, so anything past a few
    * thousand is "plenty"; the cap lets the file walk stop early on
    * healthy many-file layouts instead of listing millions of entries. */
  private val slicesEnough = 4096L

  /** Upper bound on the number of scan tasks a table's file layout can
    * feed: Σ_files min(ceil(size / maxPartitionBytes), row groups).
    * The driver testdata ships every table as ONE small parquet file
    * with ONE row group, so the scan reads as a single task no matter
    * the split config — every pre-shuffle expression (md5 fanouts,
    * tokenization, shingling) then runs on one core of the whole
    * machine (guide §2.5 "input skew: one huge unsplittable file").
    *
    * The walk goes through [[Storage]] — Spark's own view of storage —
    * so `hdfs://`/`s3a://` layouts are measured like local ones instead
    * of failing open to "1 slice → always shuffle" the way a `java.nio`
    * walk would (r20 verdict #2). Per-file slice counts are capped by the
    * parquet footer's row-group count — a single-row-group file is ONE
    * task however large, exactly the unsplittable pathology spread()
    * targets (r20 advice) — with the footer read only when the size
    * estimate says the file would split at all. Any storage error fails
    * CLOSED to "plenty of slices": at scale the safe wrong answer is
    * "add no exchange". Cached per (path, maxSplit, fingerprint). */
  def scanSlices(spark: SparkSession, sfDir: String, name: String): Int = {
    val path = s"$sfDir/$name.parquet"
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(128L * 1024 * 1024)
    val hconf = spark.sessionState.newHadoopConf()
    IndexCache(spark, "slices", (path, maxSplit), Seq(path)) {
      val n =
        try {
          if (!Storage.exists(path)) 1L
          else {
            val it = Storage.files(path)
            var total = 0L
            while (it.hasNext && total < slicesEnough) {
              val st = it.next()
              if (!st.getPath.getName.startsWith("_")) {
                val bySize = math.max(1L,
                  (st.getLen + maxSplit - 1) / maxSplit)
                total +=
                  (if (bySize <= 1L) 1L
                   else math.max(1L, math.min(bySize, rowGroups(st, hconf))))
              }
            }
            total
          }
        } catch { case _: Throwable => slicesEnough }
      math.min(n, Int.MaxValue.toLong).toInt
    }(_ => ())
  }

  /** Row-group count from a parquet footer; an unreadable footer counts
    * as "splits fine" (Long.MaxValue — the min() above then keeps the
    * size-based estimate, failing toward no extra exchange). */
  private def rowGroups(st: org.apache.hadoop.fs.FileStatus,
      hconf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size.toLong finally r.close()
    } catch { case _: Throwable => Long.MaxValue }

  /** Hash-spread a NARROW frame across the cores iff the source table's
    * file layout cannot (guide §2.5): when [[scanSlices]] says the scan
    * feeds fewer tasks than the session has cores, repartition by `keys`
    * to defaultParallelism so the expensive per-row work downstream runs
    * on every core instead of inside the unsplittable scan task. On a
    * production layout (many splits ≥ cores) this is the IDENTITY — no
    * exchange is added, because there the same repartition would be a
    * pure extra shuffle of the fact table. Call it on the narrowest
    * projection available (project before the exchange, guide §2.3).
    * Hash partitioning on a stable key is deterministic under retries;
    * results are partition-invariant for the aggregate/join consumers
    * this feeds (PartitionInvarianceSpec's discipline). */
  def spread(spark: SparkSession, sfDir: String, name: String,
      df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (scanSlices(spark, sfDir, name) >= cores) df
    else df.repartition(cores, keys: _*)
  }

  /** `events` with `ts` normalized to a true TimestampType.
    *
    * The testdata generator has shipped `ts` as THREE physical shapes
    * across regenerations: TIMESTAMP(NANOS) (surfaced as LongType
    * epoch-nanos under `spark.sql.legacy.parquet.nanosAsLong`),
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (surfaced as
    * TIMESTAMP_NTZ / LocalDateTime in Spark 4), and plain UTC-adjusted
    * TIMESTAMP. All three normalize here to TimestampType so every
    * downstream consumer — batch, streaming, and specs comparing
    * `Row.getTimestamp` — sees one type. Under the UTC session timezone
    * the NTZ→TZ cast is a pure reinterpretation (same micros value),
    * matching DuckDB's naive-timestamp read of the same file. For the
    * nanos case, integer division (DIV) truncates to micros — a
    * double-precision path would corrupt 2024-era epoch-nanos
    * (1.7e18 > 2^53).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP)"))
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
