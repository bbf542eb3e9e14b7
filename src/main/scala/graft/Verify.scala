package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Some testdata generations store events.ts as TIMESTAMP(NANOS);
      // this flag surfaces those as LongType (epoch nanos) instead of
      // erroring — Schemas.events normalizes every stored shape (nanos
      // long / NTZ micros / UTC micros) to TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // bucketed-table layouts (join_bucketed) register external tables;
      // keep the warehouse/catalog dir out of the repo working copy
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: a single pathological plan (or a host stall)
    // must fail ONE query, never hang the whole dump — the same
    // philosophy as StreamQueries.awaitBounded, applied to batch. The
    // action runs under a per-query job group set in the worker thread
    // (job groups are thread-local), so a timeout can cancel exactly
    // that query's jobs and move on.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationLong
    import scala.concurrent.ExecutionContext.Implicits.global
    val perQuerySec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC",
      "1200").toLong
    SparkEntry.queries.foreach { case (name, fn) =>
      val group = s"verify-$name"
      val fut = Future {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(fut, perQuerySec.seconds)
      catch { case e: Throwable =>
        try spark.sparkContext.cancelJobGroup(group)
        catch { case _: Throwable => () }
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The complete `oracle_sql.json`: every oracle-backed query's DuckDB
    * SQL, keyed by query name. */
  private[graft] def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
    .mkString("{", ",", "}")
}
