package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dev profiling main: per-query job/stage/task breakdown. For each named
  * query it reports cold and warm wall time plus, for the warm pass, the
  * number of Spark jobs the query triggers, per-job wall time, task
  * counts and total shuffle bytes — the numbers that tell you whether a
  * slow query is paying compute, shuffle, or per-job scheduling overhead.
  * Stream queries also print every micro-batch's `durationMs`
  * decomposition (queryPlanning / addBatch / getBatch / walCommit /
  * commitOffsets / triggerExecution) and per-operator state lines, which
  * say whether a drain's floor is planning, state commits or envelope,
  * and which state partition count and store (rocksdb/hdfs) it ran on.
  *
  * Usage: [SPARK_GRAFT_CPUS=n] [QPROF_SUMMARY=1]
  *   runMain graft.tools.QProf <sfDir> <name>|ALL [<name>…]
  */
object QProf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QProf <sfDir> <name>|ALL [<name>…]")
    val dir = args.head
    val names =
      if (args.tail.sameElements(Array("ALL")))
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args.tail.toSeq
    val detail = !sys.env.contains("QPROF_SUMMARY")
    val spark = DevSession("graft-qprof")

    case class JobRec(id: Int, start: Long, var end: Long = 0L,
      var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
      var inputB: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, e.time)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.taskTimeMs += m.executorRunTime
              j.shufReadB += m.shuffleReadMetrics.totalBytesRead
              j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
              j.inputB += m.inputMetrics.bytesRead
            }
          }
        }
    }

    // the state-store provider, told apart by its custom metrics
    def storeKind(s: StateOperatorProgress): String =
      if (s.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
        "rocksdb"
      else "hdfs"
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def g(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(-1L)
        batches.add(f"  batch ${p.batchId}%2d rows=${p.numInputRows}%7d " +
          f"trigger=${g("triggerExecution")}%5d plan=${g("queryPlanning")}%5d " +
          f"addBatch=${g("addBatch")}%5d getBatch=${g("getBatch")}%4d " +
          f"latestOffset=${g("latestOffset")}%4d wal=${g("walCommit")}%4d " +
          f"commit=${g("commitOffsets")}%4d " +
          p.stateOperators.map(s =>
            s"[${s.operatorName} parts=${s.numShufflePartitions} " +
            s"store=${storeKind(s)} upd=${s.allUpdatesTimeMs} " +
            s"rm=${s.allRemovalsTimeMs} cmt=${s.commitTimeMs} " +
            s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated}]")
            .mkString(" "))
      }
    }

    val qs = names.map(n => n -> graft.SparkEntry.queries(n))
    // untimed warm-up on the tiny fixture compiles the code paths
    qs.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case t: Throwable => println(s"[qprof] warmup failed: $t") }
    }
    qs.foreach { case (n, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, dir).count() catch { case _: Throwable => () }
      val cold = (System.nanoTime() - t0) / 1e9
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      batches.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(streamListener)
      val t1 = System.nanoTime()
      try fn(spark, dir).count() catch { case t: Throwable =>
        println(s"[qprof] $n failed: $t") }
      val warm = (System.nanoTime() - t1) / 1e9
      // let straggler listener events drain
      Thread.sleep(200)
      spark.streams.removeListener(streamListener)
      spark.sparkContext.removeSparkListener(listener)
      val snap = jobs.synchronized { jobs.values.toSeq }
      if (detail) {
        println(f"==== $n  p1=$cold%6.2f s  p2=$warm%6.2f s")
        snap.foreach { j =>
          val wall = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
          println(f"  job ${j.id}%3d wall=$wall%7.3f s tasks=${j.tasks}%5d " +
            f"taskTime=${j.taskTimeMs / 1e3}%8.2f s in=${j.inputB / 1e6}%8.1f MB " +
            f"shufR=${j.shufReadB / 1e6}%8.1f MB shufW=${j.shufWriteB / 1e6}%8.1f MB")
        }
        batches.forEach(println(_))
      }
      val totWall = snap.filter(_.end > 0).map(j => j.end - j.start).sum / 1e3
      // wall spent in jobs whose whole work ran on ≤2 tasks — the
      // unsplittable-scan signature
      val narrowWall = snap.filter(j => j.end > 0 && j.tasks <= 2)
        .map(j => j.end - j.start).sum / 1e3
      println(f"[qprof] $n%-32s warm=$warm%6.2f jobs=${snap.size}%3d " +
        f"batches=${batches.size}%3d jobWall=$totWall%6.2f " +
        f"narrowWall=$narrowWall%6.2f gap=${warm - totWall}%6.2f")
    }
    spark.stop()
  }
}
