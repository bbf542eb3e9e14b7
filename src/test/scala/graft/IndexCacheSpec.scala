package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.schema.{IndexCache, Storage}

/** The one corpus cache and the storage helper under it: at-most-once
  * builds under concurrent misses, failed builds retried, nested builds,
  * exactly-once retirement of a superseded generation, `clear()`, and
  * session isolation; Storage probes that see through URI schemes. */
class IndexCacheSpec extends SparkSpec {

  private val keys = new AtomicInteger(0)
  /** A namespace no other spec (or earlier test) has used. */
  private def freshNs(): String = s"spec.indexcache.${keys.incrementAndGet()}"

  private def tmpFile(content: String): java.io.File = {
    val f = Files.createTempFile("indexcache", ".bin").toFile
    f.deleteOnExit()
    Files.writeString(f.toPath, content)
    f
  }

  private def concurrently[T](n: Int)(body: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to n).map(_ => pool.submit(() => { go.await(); body }))
      go.countDown()
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("N threads missing the same key run exactly one build and all " +
      "receive its value") {
    val ns = freshNs()
    val builds = new AtomicInteger(0)
    val got = concurrently(8) {
      IndexCache(spark, ns, "k", Nil) {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }(_ => ())
    }
    assert(builds.get() == 1, s"${builds.get()} builds for one key")
    assert(got.forall(_ eq got.head))
  }

  test("a build that throws is not cached: the next call builds again") {
    val ns = freshNs()
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      IndexCache(spark, ns, "k", Nil) {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }(_ => ())
    }
    assert(e.getMessage == "boom")
    val v = IndexCache(spark, ns, "k", Nil) {
      builds.incrementAndGet(); "ok"
    }(_ => ())
    assert(v == "ok" && builds.get() == 2)
    assert(IndexCache(spark, ns, "k", Nil)("rebuilt")(_ => ()) == "ok")
  }

  test("a build that resolves other keys inside itself completes") {
    val ns = freshNs()
    // a chain of derived indexes, each resolving its base inside its own
    // build — the dedup_groups → minhash candidates shape
    def level(i: Int): Int =
      IndexCache(spark, ns, i, Nil)(if (i == 0) 0 else level(i - 1) + 1)(_ => ())
    assert(level(64) == 64)
    assert(level(64) == 64)
  }

  test("a superseded generation is retired exactly once, however many " +
      "callers see the regeneration") {
    val ns = freshNs()
    val src = tmpFile("generation one")
    val builds = new AtomicInteger(0)
    val retired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def get(): String =
      IndexCache(spark, ns, "k", Seq(src.getPath)) {
        s"gen${builds.incrementAndGet()}"
      }(v => { retired.add(v); () })
    assert(get() == "gen1")
    Files.writeString(src.toPath, "generation two, longer")
    val got = concurrently(8)(get())
    assert(got.toSet == Set("gen2"), got)
    assert(builds.get() == 2)
    assert(retired.toArray.toSeq == Seq("gen1"))
    assert(get() == "gen2")
    assert(retired.size == 1)
  }

  test("clear() retires every entry and the next lookup rebuilds") {
    val ns = freshNs()
    val retired = new AtomicInteger(0)
    val builds = new AtomicInteger(0)
    def get(k: Int): Int =
      IndexCache(spark, ns, k, Nil)(builds.incrementAndGet())(_ => {
        retired.incrementAndGet(); ()
      })
    (1 to 3).foreach(get)
    assert(builds.get() == 3)
    IndexCache.clear()
    assert(retired.get() == 3)
    get(1)
    assert(builds.get() == 4)
  }

  test("a second session does not receive the first session's entries") {
    val ns = freshNs()
    val s2 = spark.newSession()
    val a = IndexCache(spark, ns, "k", Nil)(new Object)(_ => ())
    val b = IndexCache(s2, ns, "k", Nil)(new Object)(_ => ())
    assert(!(a eq b))
    assert(IndexCache(spark, ns, "k", Nil)(new Object)(_ => ()) eq a)
    assert(IndexCache(s2, ns, "k", Nil)(new Object)(_ => ()) eq b)
  }

  test("Storage probes agree for bare, file: and file:// paths") {
    val dir = Files.createTempDirectory("storage").toString
    val f = s"$dir/t.parquet"
    Files.createDirectories(java.nio.file.Paths.get(f))
    Files.writeString(java.nio.file.Paths.get(f, "part-0"), "abc")
    Files.writeString(java.nio.file.Paths.get(f, "part-1"), "de")
    for (p <- Seq(f, s"file:$f", s"file://$f")) {
      assert(Storage.exists(p) && Storage.isDirectory(p), p)
      assert(Storage.files(p).map(_.getPath.getName).toSet ==
        Set("part-0", "part-1"), p)
      assert(Storage.fingerprint(p) == Storage.fingerprint(f), p)
      assert(Storage.fingerprint(p).startsWith("5@"), p)
    }
    assert(Storage.fingerprint(s"file://$dir/missing") == "absent")
    assert(!Storage.exists(s"file:$dir/missing"))
    for ((p, i) <- Seq(dir, s"file:$dir").zipWithIndex) {
      assert(Storage.list(s"$p/t.parquet").map(_.getPath.getName) ==
        Seq("part-0", "part-1"), p)
      assert(Storage.list(s"$p/missing").isEmpty, p)
      assert(Storage.list(s"$p/t.parquet/part-0").isEmpty, p)
      // writeString: UTF-8, parents created, replaces what is there
      Storage.writeString(s"$p/w$i/note.json", "stale")
      Storage.writeString(s"$p/w$i/note.json", "{\"ü\": 1}\n")
      assert(Files.readString(java.nio.file.Paths.get(s"$dir/w$i/note.json"))
        == "{\"ü\": 1}\n", p)
      // move: parents created, content intact, the given mtime kept
      val src = java.nio.file.Paths.get(s"$dir/w$i/note.json")
      Storage.move(s"$p/w$i/note.json", s"$p/m$i/a/moved.json", 2000000L)
      val moved = java.nio.file.Paths.get(s"$dir/m$i/a/moved.json")
      assert(!Files.exists(src) && Files.readString(moved) == "{\"ü\": 1}\n", p)
      assert(Files.getLastModifiedTime(moved).toMillis == 2000000L, p)
      assert(Storage.list(s"$p/m$i").map(_.getPath.getName) == Seq("a"), p)
    }
    Storage.delete(s"file://$dir")
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("Relational2's layout copies are deleted when the cache retires " +
      "them") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def layoutDirs(): Set[String] =
      Option(tmp.listFiles()).getOrElse(Array.empty).map(_.getName)
        .filter(n => n.startsWith("events_by_type") ||
          n.startsWith("event_type_dim")).toSet
    IndexCache.clear()
    val before = layoutDirs()
    graft.query.Relational.joinDppPruned(spark, sf).collect()
    val made = layoutDirs() -- before
    assert(made.exists(_.startsWith("events_by_type")) &&
      made.exists(_.startsWith("event_type_dim")),
      s"expected both layout dirs, got $made")
    IndexCache.clear()
    assert((layoutDirs() intersect made).isEmpty,
      s"layout dirs survived clear(): ${layoutDirs() intersect made}")
  }
}
