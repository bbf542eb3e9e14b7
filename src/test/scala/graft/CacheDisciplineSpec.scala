package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The cache, storage and session gate: corpus-derived state lives in
  * [[graft.schema.IndexCache]], storage is touched through
  * [[graft.schema.Storage]], and the dev mains build their session
  * through [[graft.tools.DevSession]], so staleness, retirement, scheme
  * handling and session settings are decided in ONE place each. This
  * suite scans every source under `src/main` (dev mains included) and
  * fails on a hand-rolled cache map, a `java.nio` walk, probe, move,
  * write or temp dir, a `java.io.File`, a private shutdown hook, a
  * hand-built session, or the retired `evictingComputeIfAbsent`.
  * Comment lines are not scanned.
  *
  * Only the [[owners]] may use these, each for the reason it lists; a
  * `ConcurrentHashMap` that is a pure function of its key (no corpus,
  * no session) is legal when listed in [[allowed]] with the reason.
  * Entries of either list that no longer match anything also fail, so
  * the lists stay the exact current inventory. */
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
    "retired cache helper" -> """evictingComputeIfAbsent""".r,
    "java.io.File" -> """new java\.io\.File\b""".r,
    "java.nio move" -> """Files\.move\b""".r,
    "java.nio write" -> """Files\.writeString\b""".r,
    "java.nio temp dir" -> """Files\.createTempDirectory\b""".r,
    "hand-built session" -> """SparkSession\.builder\b""".r)

  /** file → why it may use the patterns above. */
  private val owners: Map[String, String] = Map(
    "schema/IndexCache.scala" -> "the one cache",
    "schema/Storage.scala" -> "the one storage boundary",
    "tools/DevSession.scala" -> "the one dev-main session builder",
    "Bench.scala" -> "driver harness: its session is the bench contract",
    "Verify.scala" ->
      "driver harness: its session and local output dir are the dump contract",
    "tools/BenchBudget.scala" ->
      "driver harness: the budget run mirrors Bench's session byte for byte")

  /** (file, the line's identifying text) → why it is not corpus state. */
  private val allowed: Map[(String, String), String] = Map(
    ("functions/JlProject.scala", "planeCache") ->
      "projection planes: a pure function of (seed, dims)",
    ("functions/SignLshSigs.scala", "planeCache") ->
      "LSH hyperplanes: a pure function of (seed, planes, dim)")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("no hand-rolled cache, nio walk/probe or shutdown hook outside " +
      "IndexCache and Storage") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val rel = (p: Path) => root.relativize(p).toString.replace('\\', '/')
    val hits = for {
      p <- sources
      file = rel(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if !isComment(line)
      (what, re) <- forbidden
      if re.findFirstIn(line).isDefined
    } yield (file, i + 1, what, line.trim)
    val (ok, bad) = hits.partition { case (file, _, _, line) =>
      owners.contains(file) ||
        allowed.keys.exists { case (f, tag) => f == file && line.contains(tag) }
    }
    assert(bad.isEmpty, bad.map { case (f, n, what, line) =>
      s"$f:$n: $what — route it through IndexCache/Storage/DevSession: $line"
    }.mkString("\n", "\n", ""))
    val stale = allowed.keySet.filterNot { case (f, tag) =>
      ok.exists { case (file, _, _, line) => file == f && line.contains(tag) }
    }
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
    val idleOwners = owners.keySet.filterNot(f => ok.exists(_._1 == f))
    assert(idleOwners.isEmpty, s"stale owner entries: $idleOwners")
  }
}
