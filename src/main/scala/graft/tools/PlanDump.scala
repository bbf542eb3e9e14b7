package graft.tools

/** Executed-plan dump for declared queries — the dev-loop half of the
  * plan-audit discipline: runs each named query and prints its final
  * adaptive plan (post-AQE, so coalesced shuffle reads, broadcast
  * switches and skew splits show), which makes the shuffle / broadcast
  * shapes the scaladocs claim checkable. The query runs with
  * `collect()`: `count()` executes a column-pruned aggregate over it and
  * leaves the query's own plan unexecuted (`isFinalPlan=false`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <query> [<query>…]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query> [<query>…]")
    val spark = DevSession("graft-plandump")
    args.tail.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, args.head)
      df.collect()
      println(s"==== $n (executed/final) ====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
