package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: nanoTime bounds, the span that caused it,
  * and the request or query it belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` only runs the body, so the
  * untraced run pays one branch per layer call. Parents follow the calling
  * thread; a span opened on another thread passes its parent explicitly. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String, op: String = "", parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      val saved = stack.get()
      stack.set(id :: saved)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, op, t0, System.nanoTime()))
        stack.set(saved)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: duration minus the part of it covered by
    * the span's children. */
  def selfNsByName: Map[String, Long] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val cover = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        s.durNs - Tracer.unionNs(cover)
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark's own listeners, registered from the benchmark: job/stage/task
  * counters, Catalyst phase times per action, and the per-micro-batch
  * split of every streaming query. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wall ms during which at least one job ran, within [fromMs, toMs). */
  def busyMs(fromMs: Long, toMs: Long): Long =
    Tracer.unionNs(jobIntervals.asScala.toSeq.map { case (s, e) =>
      (math.max(s, fromMs), math.min(e, toMs))
    })
}

final class PhaseTimes extends QueryExecutionListener {
  val executions = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms(QueryPlanningTracker.ANALYSIS))
    optimizationMs.addAndGet(ms(QueryPlanningTracker.OPTIMIZATION))
    planningMs.addAndGet(ms(QueryPlanningTracker.PLANNING))
    ()
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Per-micro-batch progress of every streaming query. Always on: progress
  * events are produced by Spark whether or not anyone listens, and the
  * micro-batch latency is an end-to-end figure of the pipeline. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(rows: Long, triggerMs: Long,
      planningMs: Long, addBatchMs: Long, commitMs: Long, stateRows: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val started = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** Per query: start-to-terminate wall ms. */
  val envelopes = new ConcurrentLinkedQueue[(String, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.put(e.runId.toString, System.currentTimeMillis()); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def g(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
    if (g("triggerExecution") > 0 && (p.numInputRows > 0 || g("addBatch") > 0))
      batches.add(Batch(p.numInputRows, g("triggerExecution"),
        g("queryPlanning"), g("addBatch"), g("walCommit") + g("commitOffsets"),
        p.stateOperators.map(_.numRowsTotal).sum))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Option(started.remove(e.runId.toString)).foreach(s =>
      envelopes.add((e.runId.toString, System.currentTimeMillis() - s)))

  /** Wait (at most 5 s) for the asynchronous progress events of `n`
    * non-empty micro-batches. */
  def awaitBatches(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (batches.asScala.count(_.rows > 0) < n && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** The three listeners as one bundle, registered on a session. */
final class Probes(spark: SparkSession, traced: Boolean) {
  val stream = new StreamProgress
  val counters = new SparkCounters
  val phases = new PhaseTimes
  spark.streams.addListener(stream)
  if (traced) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(phases)
  }

  /** Block until the asynchronous listener buses have caught up. */
  def settle(): Unit = {
    val t0 = System.currentTimeMillis()
    var lastJobs = -1L
    var lastExec = -1L
    while (System.currentTimeMillis() - t0 < 2000 &&
        (counters.jobs.get != lastJobs || phases.executions.get != lastExec)) {
      lastJobs = counters.jobs.get; lastExec = phases.executions.get
      Thread.sleep(100)
    }
  }
}
