package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Dev main (test scope): scan every declared query's physical plan for
  * unpartitioned WindowExec nodes and report whether each runs over a
  * provably-reduced input (aggregate / top-k / limit / local relation
  * below it). Feeds the WindowGateSpec allowlist.
  * Usage: Test/runMain graft.WindowScan [sfDir]
  */
object WindowScan {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.tools.DevSession("graft-window-scan")
    spark.sparkContext.setLogLevel("ERROR")
    def reduced(p: SparkPlan): Boolean = p.find {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _ => false
    }.isDefined
    val t0 = System.nanoTime()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.sparkPlan
        val globals = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        if (globals.nonEmpty) {
          val flags = globals.map(w => if (reduced(w.child)) "reduced" else "RAW")
          println(s"GLOBAL\t$name\t${flags.mkString(",")}")
        }
      } catch {
        case e: Throwable => println(s"ERROR\t$name\t${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(f"scan done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
