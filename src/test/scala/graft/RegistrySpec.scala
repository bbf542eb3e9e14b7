package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.query.Graph

/** Registry-integrity pins (driver round 12): the `sample_weighted`
  * shadowing incident — a duplicate map key silently replacing a whole
  * query — was found by a manual audit; these specs make recurrence
  * impossible, and a source gate keeps the one registry the only one.
  * Plus the degree-cap contract for the walk adjacency index (a
  * 50k-degree synthetic hub stays bounded at the cap).
  */
class RegistrySpec extends SparkSpec {

  test("reg(...) rejects duplicate keys loudly") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.reg("a" -> 1, "b" -> 2, "a" -> 3)
    }
    assert(e.getMessage.contains("a"))
    // and a clean literal passes through unchanged
    assert(SparkEntry.reg("a" -> 1, "b" -> 2) == Map("a" -> 1, "b" -> 2))
  }

  test("registries build without duplicates and agree on keys: every query " +
      "has an oracle except the documented no-oracle allowlist; every " +
      "oracle has a query") {
    // building them at all proves no name is declared twice
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // written here, not read from main: main derives its no-oracle set
    // from the defs, so only a literal in the spec can pin it
    val noOracle = Set("q1_predict_duration", "q2_sensitivity_ml",
      "q3_optimal_time_ml", "m6_growing_window_importances")
    assert((q -- o) == noOracle,
      s"oracle-less queries beyond the documented allowlist: ${(q -- o -- noOracle).toSeq.sorted}")
    assert(SparkEntry.noOracleByDesign == noOracle,
      s"noOracleByDesign drifted: ${SparkEntry.noOracleByDesign.toSeq.sorted}")
    assert((o -- q).isEmpty,
      s"orphaned oracles (no query): ${(o -- q).toSeq.sorted}")
  }

  test("one registry: QueryDef declared only under registry/, reg(...) " +
      "called only in SparkEntry.scala, one QueryDef per query") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val lines = for {
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      file = root.relativize(p).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line)
    } yield (file, i + 1, line)
    val queryDef = """\bQueryDef\(""".r
    val regCall = """\breg\(""".r
    val bad = lines.collect {
      case (f, n, l) if queryDef.findFirstIn(l).isDefined &&
          !f.startsWith("registry/") => s"$f:$n: QueryDef outside registry/: ${l.trim}"
      case (f, n, l) if regCall.findFirstIn(l).isDefined &&
          f != "SparkEntry.scala" => s"$f:$n: reg(...) outside SparkEntry: ${l.trim}"
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    // not vacuous: every query is one literal QueryDef("...") site
    val sites = lines.count { case (f, _, l) =>
      f.startsWith("registry/") && l.contains("QueryDef(\"") }
    assert(sites == SparkEntry.queries.size,
      s"$sites QueryDef sites for ${SparkEntry.queries.size} queries")
  }

  test("one module per query family: no src/main file is named after a " +
      "round, and each *Defs file calls only its family's query module, " +
      "the shared kernels and its listed extras") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    val rel = (p: java.nio.file.Path) =>
      root.relativize(p).toString.replace('\\', '/')
    // a trailing number names a round; a scale suffix (StreamX10) does not
    val rounded = sources.map(rel)
      .filter(f => """.*[^X\d]\d+\.scala""".r.matches(f))
    assert(rounded.isEmpty, s"round-numbered sources: ${rounded.sorted}")
    def objectsIn(dir: String): Set[String] = sources.map(rel)
      .filter(_.startsWith(dir))
      .map(_.split('/').last.stripSuffix(".scala")).toSet
    val queryObjects = objectsIn("query/") ++
      Set("StreamQueries", "Trainer", "ModelStore")
    val kernels = Set("TwoLevel", "TokenHash", "GraphIndex", "RankMoments",
      "Layouts")
    val family: Map[String, Set[String]] = Map(
      "RelationalDefs" -> Set("Relational"),
      "WarehouseDefs" -> Set("Warehouse"),
      "StatsDefs" -> objectsIn("query/stats/"),
      "MlDefs" -> (objectsIn("query/ml/") ++
        Set("Endpoints", "Trainer", "ModelStore")),
      "GraphDefs" -> Set("Graph"),
      "TextDefs" -> Set("TextAnalysis"),
      "AnnDefs" -> Set("Similarity"),
      "DedupDefs" -> Set("Dedup"),
      "MultimodalDefs" -> Set("Multimodal"),
      "StreamDefs" -> Set("StreamQueries"))
    val defsFiles = sources.filter(p => rel(p).startsWith("registry/") &&
      rel(p).endsWith("Defs.scala"))
    assert(defsFiles.map(_.getFileName.toString.stripSuffix(".scala"))
      .toSet == family.keySet)
    val ident = """\b([A-Z]\w*)\b""".r
    val bad = for {
      p <- defsFiles
      defs = p.getFileName.toString.stripSuffix(".scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      o <- ident.findAllMatchIn(line).map(_.group(1)).toSeq.distinct
      if queryObjects(o) && !family(defs)(o) && !kernels(o)
    } yield s"registry/$defs.scala:${i + 1}: $o is outside the family: $t"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every oracle is non-empty SQL and every query key is non-empty") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(k.nonEmpty && sql.trim.nonEmpty, s"empty oracle for $k")
      assert(sql.toUpperCase.contains("SELECT"), s"oracle for $k has no SELECT")
    }
  }

  test("cappedAdjacency bounds a 50k-degree hub at the cap, keeps small " +
      "vertices whole, and the kept set is partitioning-invariant") {
    import spark.implicits._
    val hub = (1L to 50000L).map(v => (0L, v))         // hub vertex 0
    val small = Seq((1L, 5L), (1L, 9L), (1L, 2L))      // degree-3 vertex 1
    val edges = (hub ++ small).toDF("u", "v")
    val d = 64
    val adj = Graph.cappedAdjacency(edges, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(adj(0L).length == d, s"hub kept ${adj(0L).length}, want $d")
    assert(adj(1L) == Seq(2L, 5L, 9L), "small vertex must keep all, sorted")
    assert(adj(0L) == adj(0L).sorted, "hub list must be sorted")
    // deterministic under a different physical layout
    val adj2 = Graph.cappedAdjacency(edges.repartition(7, col("v")), d)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(adj2 == adj, "capped adjacency must not depend on partitioning")
  }

  test("graph_random_walks rides the capped index: every hop lands on a " +
      "kept neighbor, paths have steps+1 vertices") {
    val adj = Graph.cappedAdjacency(
      graft.query.GraphIndex.copurchaseEdgesSym(spark, sf), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val rows = Graph.graphRandomWalks(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val path = r.getString(1).split("->").map(_.toLong)
      assert(path.length == 4, s"walk ${r.getLong(0)}: ${r.getString(1)}")
      path.sliding(2).foreach { case Array(a, b) =>
        assert(adj(a).contains(b), s"hop $a->$b not in capped adjacency")
      }
      assert(path.last == r.getLong(2))
    }
  }
}
