package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session builder for the dev mains: `local[n]` with n =
  * `SPARK_GRAFT_CPUS` clamped to the cores the JVM can use (default: all
  * of them), n shuffle partitions, the session settings every engine
  * session shares (UTC, no UI, nanos-as-long parquet timestamps, AQE),
  * and a warehouse dir that is removed at JVM exit.
  *
  * The network/heartbeat timeouts let the deliberately heavy paths
  * (GateCheck's forced-on driver matrices and broadcasts) survive long
  * full-GC pauses in local mode instead of dying of heartbeat
  * starvation; they cost nothing elsewhere. */
object DevSession {

  def apply(appName: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val n = math.max(1, math.min(cores,
      sys.env.get("SPARK_GRAFT_CPUS").fold(cores)(_.toInt))).toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.warehouse.dir",
        graft.schema.Storage.tempDir("graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
