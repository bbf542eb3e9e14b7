package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What one workload run measured and checked. */
final class Result {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific end-to-end figures: value, unit, sample count. */
  val detail = mutable.LinkedHashMap[String, (Double, String, Long)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** One checked operation; a failed check counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case t: Throwable =>
      failures += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"; false
    }
    if (!pass) {
      failed += 1
      if (!failures.exists(_.startsWith(what + ":"))) failures += s"$what: check failed"
    }
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, probes: Probes, sfDir: String, work: Path, cpus: Int,
    jvmStartMs: Long)

/** Benchmark harness entry point. One JVM runs one workload once:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cpus <n> --work <dir> --result <file> [--sf-dir <dir>]
  *
  * and writes its metrics, checks and (traced) spans as JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val cpus = opts.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, tracer,
      new Probes(spark, traced), opts.getOrElse("sf-dir", ""), work, cpus,
      jvmStartMs)
    val res = new Result
    val code =
      try {
        workload match {
          case "pipeline_cold" => PipelineCold.run(ctx, res)
          case "serve_mix" => ServeMix.run(ctx, res)
          case other => sys.error(s"unknown workload $other")
        }
        0
      } catch {
        case t: Throwable =>
          res.failures += s"workload aborted: $t"
          t.printStackTrace()
          3
      }
    if (traced) {
      tracer.write(work.resolve("spans.jsonl"))
      // every workload reports every counter; a layer it does not run is 0
      Seq("ingest.microbatches", "ingest.rows_out", "streaming.batches",
        "streaming.drains", "streaming.state_rows_peak", "serve.requests")
        .foreach(k => if (!res.layers.contains(k)) res.layers(k) = (0.0, "count"))
    }
    writeResult(Paths.get(opts("result")), workload, ctx, res)
    try spark.stop() catch { case _: Throwable => () }
    // serving and model-store pools are non-daemon threads
    sys.exit(code)
  }

  /** Spark-runtime and Catalyst counters between two snapshots. */
  def sparkLayers(ctx: Ctx, res: Result, fromMs: Long, toMs: Long,
      before: Map[String, Long], after: Map[String, Long], ops: Long): Unit = {
    def d(k: String): Long = after(k) - before(k)
    val wallS = (toMs - fromMs) / 1e3
    val busyS = ctx.probes.counters.busyMs(fromMs, toMs) / 1e3
    val l = res.layers
    l("spark.jobs") = (d("jobs").toDouble, "count")
    l("spark.stages") = (d("stages").toDouble, "count")
    l("spark.tasks") = (d("tasks").toDouble, "count")
    l("spark.task_cpu_s") = (d("cpu_ns") / 1e9, "s")
    l("spark.busy_s") = (busyS, "s")
    l("spark.driver_gap_s") = (wallS - busyS, "s")
    l("spark.shuffle_read_bytes") = (d("shuffle_read").toDouble, "bytes")
    l("spark.shuffle_write_bytes") = (d("shuffle_write").toDouble, "bytes")
    l("spark.spill_bytes") = (d("spill").toDouble, "bytes")
    l("spark.jobs_per_op") = (d("jobs").toDouble / math.max(1L, ops), "count")
    l("spark.tasks_per_op") = (d("tasks").toDouble / math.max(1L, ops), "count")
    l("query.executions") = (d("executions").toDouble, "count")
    l("query.analysis_ms") = (d("analysis_ms").toDouble, "ms")
    l("query.optimization_ms") = (d("optimization_ms").toDouble, "ms")
    l("query.planning_ms") = (d("planning_ms").toDouble, "ms")
  }

  /** Listener counters, once the listener bus has delivered every event of
    * the work before the call (traced runs only; untraced they stay 0). */
  def snapshot(ctx: Ctx): Map[String, Long] = {
    if (ctx.tracer.enabled) ctx.probes.settle()
    val c = ctx.probes.counters
    val p = ctx.probes.phases
    Map("jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
      "cpu_ns" -> c.taskCpuNs.get, "shuffle_read" -> c.shuffleRead.get,
      "shuffle_write" -> c.shuffleWrite.get, "spill" -> c.spill.get,
      "executions" -> p.executions.get, "analysis_ms" -> p.analysisMs.get,
      "optimization_ms" -> p.optimizationMs.get, "planning_ms" -> p.planningMs.get)
  }

  /** Span coverage of a measured phase: union of the root's children over
    * the root's duration, and self time per span name. */
  def traceLayers(ctx: Ctx, res: Result, rootName: String): Unit = {
    val spans = ctx.tracer.all
    spans.find(_.name == rootName).foreach { root =>
      val kids = spans.filter(_.parent == root.id)
      val covered = Tracer.unionNs(kids.map(k => (k.startNs, k.endNs)))
      res.layers("trace.coverage_pct") = (100.0 * covered / root.durNs, "%")
    }
    res.layers("trace.spans") = (spans.size.toDouble, "count")
    ctx.tracer.selfNsByName.toSeq.sortBy(_._1).foreach { case (n, ns) =>
      res.detail(s"self_ms.$n") = (ns / 1e6, "ms", spans.count(_.name == n).toLong)
    }
  }

  def setupDone(ctx: Ctx, res: Result): Unit =
    res.endToEnd("setup_s") =
      ((System.currentTimeMillis() - ctx.jvmStartMs) / 1e3, "s")

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  private def writeResult(path: Path, workload: String, ctx: Ctx, res: Result): Unit = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.put("workload", workload)
    o.put("seed", ctx.seed)
    o.put("traced", ctx.tracer.enabled)
    o.put("cpus", ctx.cpus)
    o.put("attempted", res.attempted)
    o.put("failed", res.failed)
    val f = o.putArray("failures")
    res.failures.foreach(f.add)
    def put(name: String, xs: Iterable[(String, Double, String, Option[Long])]): Unit = {
      val n = o.putObject(name)
      xs.foreach { case (k, v, u, samples) =>
        val e = n.putObject(k)
        e.put("value", v)
        e.put("unit", u)
        samples.foreach(e.put("samples", _))
      }
    }
    put("end_to_end", res.endToEnd.map { case (k, (v, u)) => (k, v, u, None) })
    put("detail", res.detail.map { case (k, (v, u, s)) => (k, v, u, Some(s)) })
    put("per_layer", res.layers.map { case (k, (v, u)) => (k, v, u, None) })
    Files.createDirectories(path.getParent)
    m.writerWithDefaultPrettyPrinter().writeValue(path.toFile, o)
  }
}
