package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev tool: Spark-vs-Spark BOTH-PATHS equivalence for the size-gated
  * operators at a scale where the DuckDB closure oracles stop being
  * replayable (the recursive reachability CTE materializes the full
  * transitive closure — quadratic in component size, infeasible at the
  * x10 corpus). For each gated query the tool runs the driver-side
  * path (gate = MaxValue) and the distributed path (gate = 0) on the
  * SAME corpus and compares collected results row for row, printing
  * which side of the gate the corpus actually lands on — the
  * cap-crossing evidence the r15 verdict asked to record.
  *
  * Usage: runMain graft.tools.GateCheck <sfDir> [<name> …]
  * (optional trailing names restrict the run — the forced-on matrix /
  * broadcast paths are deliberately heavy, and a big-corpus rerun of
  * one check should not re-pay the others)
  */
object GateCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val onlyNames = args.drop(1).toSet
    val spark = DevSession("graft-gatecheck")

    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq

    def check(name: String)(a: => DataFrame, b: => DataFrame): Unit = {
      if (onlyNames.nonEmpty && !onlyNames.contains(name)) return
      try {
        val (ra, rb) = (canon(a), canon(b))
        val ok = ra == rb
        println(s"[gate] $name driver-path=${ra.length} rows, " +
          s"distributed-path=${rb.length} rows → " +
          (if (ok) "IDENTICAL" else "MISMATCH"))
        if (!ok) {
          ra.diff(rb).take(3).foreach(r => println(s"  only-driver: $r"))
          rb.diff(ra).take(3).foreach(r => println(s"  only-dist:   $r"))
        }
      } catch {
        case e: Throwable => println(s"[gate] $name ERROR: ${e.getMessage}")
      }
    }

    check("dedup_groups")(
      graft.query.Dedup.dedupGroups(spark, dir,
        driverUnionFindMax = Long.MaxValue),
      graft.query.Dedup.dedupGroups(spark.newSession(), dir,
        driverUnionFindMax = 0L))
    check("graph_connected_components")(
      graft.query.Graph.graphConnectedComponents(spark, dir,
        driverUnionFindMax = Long.MaxValue),
      graft.query.Graph.graphConnectedComponents(spark, dir,
        driverUnionFindMax = 0L))
    check("graph_cc_incremental")(
      graft.query.Graph.graphCcIncremental(spark, dir,
        driverUnionFindMax = Long.MaxValue),
      graft.query.Graph.graphCcIncremental(spark, dir,
        driverUnionFindMax = 0L))
    check("emb_hubness_stats")(
      graft.query.Similarity.embHubnessStats(spark, dir,
        matrixGateBytes = Long.MaxValue),
      graft.query.Similarity.embHubnessStats(spark.newSession(), dir,
        matrixGateBytes = 0L))
    check("graph_ego_betweenness")(
      graft.query.Graph.graphEgoBetweenness(spark, dir,
        broadcastMaxEdges = Long.MaxValue),
      graft.query.Graph.graphEgoBetweenness(spark, dir,
        broadcastMaxEdges = 0L))
    println(s"[gate] symmetric edge index at this sf: " +
      s"${graft.query.GraphIndex.symEdgeCount(spark, dir)} rows " +
      "(ego broadcast gate default broadcastMaxEdges = 8000000)")

    // which side does THIS corpus land on at the production defaults?
    val pairs = graft.query.Dedup.dedupMinhashLsh(spark, dir)
    println(s"[gate] dedup pair-graph edges at this sf: ${pairs.count()} " +
      "(default driverUnionFindMax = 4000000)")
    val emb = graft.schema.Schemas.table(spark, dir, "embeddings")
    val n = emb.count()
    println(s"[gate] embeddings n=$n (hubness matrix gate = 64 MB → " +
      s"crosses at n*dim*4 > ${64L << 20})")
    spark.stop()
  }
}
