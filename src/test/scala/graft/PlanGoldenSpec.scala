package graft

import java.nio.file.{Files, Path, Paths}

/** Physical-plan goldens for the 10 most expensive batch queries
  * (r14 advice #7): each query's pre-AQE physical plan, normalized of
  * run-varying noise (expression ids, plan ids, file paths, cache RDD
  * ids), is committed under `src/test/resources/plans/` and diffed on
  * every run. A regression that un-pushes a filter, drops a broadcast,
  * swaps a TakeOrdered for a global sort, or silently stops probing a
  * shared index changes the plan SHAPE and fails here — the
  * plan-audit discipline (PlanSpec) extended from point assertions to
  * whole-plan pins on the queries where plan drift costs the most.
  *
  * Streaming drains are excluded: their returned frame is a memory-sink
  * scan; their physical work is pinned by the round-9 drain decompositions
  * and the drain==batch contracts instead.
  *
  * Regenerate after an INTENTIONAL plan change with:
  *   GRAFT_REGEN_PLANS=true sbt "Test/testOnly graft.PlanGoldenSpec"
  * (env var — tests fork, so -D on the sbt JVM does not reach them)
  * and review the golden diff like code.
  */
class PlanGoldenSpec extends SparkSpec {

  /** The pinned set: the top-10 most expensive batch queries of the
    * r15 quiet bench (sf0.1, best-of-2) — the plans whose drift would
    * move the bench most — plus the r15 verdict #4 additions:
    * dedup_substring_maximal (the round's slowest arrival) and
    * graph_pagerank (the round's most contention-accused query).
    * Round 16 adds graph_ego_betweenness: its ~300 M-row courier
    * stream is only viable inside one codegen'd broadcast-hash
    * pipeline (an SMJ-planned variant measured 25× slower), so the
    * broadcast shape is exactly the plan property a golden must pin. */
  private val pinned = Seq(
    "graph_ego_betweenness",
    "dedup_substring_maximal",
    "graph_pagerank",
    "dedup_substring_multiscale",
    "graph_cc_incremental",
    "graph_pagerank_deep",
    "graph_reachability",
    "sql_basket_affinity",
    "dedup_exact_substring",
    "emb_power_iteration",
    "dedup_embedding_cosine",
    "text_top_ngram_cov",
    "sql_customer_rfm")

  private val goldenDir: Path = {
    val candidates = Seq("src/test/resources/plans",
      "/root/repo/src/test/resources/plans")
    candidates.map(Paths.get(_)).find(p => Files.exists(p.getParent))
      .getOrElse(Paths.get("src/test/resources/plans"))
  }

  /** Render the plan SHAPE: a children-only traversal (one
    * simpleString line per node). `innerChildren` — where a cached
    * InMemoryRelation embeds the plan that originally BUILT it, which
    * varies with whichever suite built the shared index first — and
    * subquery bodies are deliberately not printed, so the golden pins
    * the query's own operators only. */
  private def shape(plan: org.apache.spark.sql.execution.SparkPlan): String = {
    val sb = new StringBuilder
    def go(n: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
      sb.append("  " * d).append(n.simpleString(200)).append('\n')
      n.children.foreach(go(_, d + 1))
    }
    go(plan, 0)
    sb.toString
  }

  /** Strip the run-varying parts of a plan string: expression ids,
    * plan/RDD/subquery ids, absolute paths, byte sizes, and the
    * cache-builder session hashes — what remains is the SHAPE. */
  private def normalize(p0: String): String = p0
    .replaceAll("#\\d+[A-Z]?", "#x")
    // lambda variable names carry a JVM-global counter (x_109 on a warm
    // session vs x_1 standalone) — normalize the name, not just the id
    .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_N")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\[id=x?#?\\d*\\]", "[id=x]")
    .replaceAll("subquery\\d+", "subqueryX")
    .replaceAll("cte\\d+", "cteX")
    .replaceAll("file:[^\\s,\\)\\]]*", "<path>")
    .replaceAll("/[-A-Za-z0-9_./]*(?:testdata|graft|tmp)[-A-Za-z0-9_./]*",
      "<path>")
    .replaceAll("Location: [^\\n]*", "Location: <path>")
    .replaceAll("CachedRDDBuilder\\([^)]*\\)", "CachedRDDBuilder(<x>)")
    .replaceAll("ExistingRDD\\[[^\\]]*\\]", "ExistingRDD[<cols>]")
    .replaceAll("LogicalRDD \\[[^\\]]*\\]", "LogicalRDD [<cols>]")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(<x>)")
    .replaceAll("(?m)[ \\t]+$", "")
    .replaceAll("\\n{3,}", "\n\n")
    .trim

  private def planOf(name: String): (String, String) = {
    // goldens pin sparkPlan (pre-AQE, pre-codegen-insertion — the
    // deterministic shape); the codegen-span check needs executedPlan
    // WITH AQE OFF — under AQE the unexecuted plan is an
    // AdaptiveSparkPlan shell whose string carries no codegen markers
    // metadata strings (DataFilters etc.) truncate at 100 chars by
    // default, and the CUT POINT shifts with expression-id length
    // (doc_id#12345 vs doc_id#45) — raise the cap so plans stringify
    // whole and normalization sees the full expression
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.maxMetadataStringLength" -> "100000",
      "spark.sql.debug.maxToStringFields" -> "2000")
    val prevs = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = SparkEntry.queries(name)(spark, sf)
      (normalize(shape(df.queryExecution.sparkPlan)),
        df.queryExecution.executedPlan.toString)
    } finally prevs.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
    }
  }

  private val regen = sys.env.get("GRAFT_REGEN_PLANS").contains("true")

  pinned.foreach { name =>
    test(s"plan golden: $name") {
      val (actual, executed) = planOf(name)
      val file = goldenDir.resolve(s"$name.plan")
      if (regen) {
        Files.createDirectories(goldenDir)
        Files.writeString(file, actual + "\n")
        info(s"regenerated $file")
      } else {
        assert(Files.exists(file),
          s"missing golden $file — run once with GRAFT_REGEN_PLANS=true")
        val expected = Files.readString(file).trim
        assert(actual == expected,
          s"""plan drift for $name — if intentional, regenerate with
             |  GRAFT_REGEN_PLANS=true sbt "Test/testOnly graft.PlanGoldenSpec"
             |---- expected ----
             |$expected
             |---- actual ----
             |$actual""".stripMargin)
      }
      // the hot path must stay inside whole-stage codegen (checked on
      // the executed plan, where codegen nodes exist as `*(n)` spans)
      assert(executed.contains("WholeStageCodegen") || executed.contains("*("),
        s"$name: no WholeStageCodegen span in executed plan:\n$executed")
    }
  }
}
