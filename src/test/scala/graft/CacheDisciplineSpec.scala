package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The cache-and-storage gate: corpus-derived state lives in
  * [[graft.schema.IndexCache]] and storage is touched through
  * [[graft.schema.Storage]], so staleness, retirement and scheme handling
  * are decided in ONE place. This suite scans the engine sources (the dev
  * mains under `tools/` excepted) and fails on a hand-rolled cache map, a
  * `java.nio` walk or layout probe, a private shutdown hook, or the
  * retired `evictingComputeIfAbsent` anywhere outside those two files.
  *
  * A `ConcurrentHashMap` that is a pure function of its key (no corpus,
  * no session) is legal when listed in [[allowed]] with the reason;
  * allowlist entries that no longer match anything also fail, so the
  * list stays the exact current inventory. */
class CacheDisciplineSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root: Path = Paths.get("src/main/scala/graft")

  private val forbidden: Seq[(String, scala.util.matching.Regex)] = Seq(
    "session-keyed map" -> """WeakHashMap\[\s*SparkSession""".r,
    // any mention, not just `new ConcurrentHashMap`: a type alias would
    // otherwise smuggle a hand-rolled map past the gate
    "ConcurrentHashMap" -> """\bConcurrentHashMap\b""".r,
    "java.nio walk" -> """Files\.walk\b""".r,
    "java.nio layout probe" -> """Files\.isDirectory\b""".r,
    "shutdown hook" -> """addShutdownHook""".r,
    "retired cache helper" -> """evictingComputeIfAbsent""".r)

  private val owners = Set("schema/IndexCache.scala", "schema/Storage.scala")

  /** (file, the line's identifying text) → why it is not corpus state. */
  private val allowed: Map[(String, String), String] = Map(
    ("functions/JlProject.scala", "planeCache") ->
      "projection planes: a pure function of (seed, dims)",
    ("functions/SignLshSigs.scala", "planeCache") ->
      "LSH hyperplanes: a pure function of (seed, planes, dim)")

  test("no hand-rolled cache, nio walk/probe or shutdown hook outside " +
      "IndexCache and Storage") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val rel = (p: Path) => root.relativize(p).toString.replace('\\', '/')
    val hits = for {
      p <- sources
      file = rel(p)
      if !file.startsWith("tools/") && !owners(file)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (what, re) <- forbidden
      if re.findFirstIn(line).isDefined
    } yield (file, i + 1, what, line.trim)
    val (ok, bad) = hits.partition { case (file, _, _, line) =>
      allowed.keys.exists { case (f, tag) => f == file && line.contains(tag) }
    }
    assert(bad.isEmpty, bad.map { case (f, n, what, line) =>
      s"$f:$n: $what — route it through IndexCache/Storage: $line"
    }.mkString("\n", "\n", ""))
    val stale = allowed.keySet.filterNot { case (f, tag) =>
      ok.exists { case (file, _, _, line) => file == f && line.contains(tag) }
    }
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
