package graft.schema

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The engine's one cache for corpus-derived state: resolved relations,
  * persisted indexes (signatures, graph components, PQ codes), corpus
  * scalars, converted copies on disk, trained models — everything built
  * once from the source tables and probed often.
  *
  * An entry is keyed by (session, namespace, params) and stamped with
  * the [[Storage.fingerprint]] of the source tables it derives from. A
  * lookup whose sources changed since the build (a corpus regenerated at
  * the same path) is a miss: the superseded generation is retired
  * exactly once — the caller's `retire` unpersists a frame, frees a
  * checkpoint, drops a table or deletes a dir — and the key is rebuilt,
  * so a regenerated corpus never serves a stale index and a long-lived
  * session does not accumulate dead generations.
  *
  * Builds run at most once per key: concurrent misses wait for the one
  * build in flight (two cold requests never train one model twice).
  * They run OUTSIDE any map `compute`, so a derived index may resolve its
  * base index through this cache inside its own build; a build that
  * throws is not cached and the next lookup retries it. Entries are
  * per session — a persisted frame is bound to the session that built
  * it — and drop with their session. */
object IndexCache {

  private final class Entry(val fp: String, val retire: Any => Unit) {
    val value = new CompletableFuture[Any]()
    def retireWhenBuilt(): Unit = {
      value.thenAccept(v => try retire(v) catch { case NonFatal(_) => () })
      (): Unit
    }
  }

  private type Entries = ConcurrentHashMap[(String, Any), Entry]

  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]()

  private def entries(spark: SparkSession): Entries = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new Entries())
  }

  /** The value under (spark, namespace, params) for the current content
    * of `sources` (table paths), built by `build` on a miss. `params`
    * must have value equality (strings, numbers, tuples of them). */
  def apply[V](spark: SparkSession, namespace: String, params: Any,
      sources: Seq[String])(build: => V)(retire: V => Unit): V = {
    val fp = sources.map(Storage.fingerprint).mkString(",")
    val m = entries(spark)
    val key = (namespace, params)
    @scala.annotation.tailrec
    def lookup(): V = {
      val cur = m.get(key)
      if (cur != null && cur.fp == fp) await(cur)
      else {
        val mine = new Entry(fp, retire.asInstanceOf[Any => Unit])
        val won =
          if (cur == null) m.putIfAbsent(key, mine) == null
          else m.replace(key, cur, mine)
        if (!won) lookup()
        else {
          if (cur != null) cur.retireWhenBuilt()
          val v = try build catch { case t: Throwable =>
            m.remove(key, mine)
            mine.value.completeExceptionally(t)
            throw t
          }
          mine.value.complete(v)
          v
        }
      }
    }
    lookup()
  }

  private def await[V](e: Entry): V =
    try e.value.join().asInstanceOf[V]
    catch { case c: CompletionException if c.getCause != null => throw c.getCause }

  /** Retire and drop every entry of every session. */
  def clear(): Unit = {
    val all = sessions.synchronized(new java.util.ArrayList(sessions.values()))
    all.forEach(m => m.forEach((k, e) => if (m.remove(k, e)) e.retireWhenBuilt()))
  }
}
