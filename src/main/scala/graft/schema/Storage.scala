package graft.schema

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The engine's one view of storage: existence, layout and content
  * probes, listing, small writes, moves, recursive delete, and temp
  * dirs removed at JVM exit — all through the Hadoop `FileSystem` API,
  * Spark's own view of storage, so `file:`, `hdfs://` and `s3a://`
  * paths are probed like bare local ones. (A `java.nio` probe answers "absent" for every path with a
  * scheme, which silently turns a layout or staleness check into a
  * constant.)
  *
  * Walks use `getFileStatus` + `listStatus`, never `listFiles`: on the
  * local file system `listFiles` builds located statuses whose
  * permission load forks a shell per file (~3 ms per call on a one-file
  * table, against ~15 µs here), and [[fingerprint]] runs on every
  * [[IndexCache]] lookup. */
object Storage {

  private lazy val defaultConf = new Configuration()

  // the live session's Hadoop conf (credentials, endpoints), else defaults
  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(defaultConf)

  private def resolve(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  private def statusOf(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  private def walk(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(walk(fs, _))
    else Iterator.single(st)

  def exists(path: String): Boolean = {
    val (fs, p) = resolve(path)
    statusOf(fs, p).isDefined
  }

  def isDirectory(path: String): Boolean = {
    val (fs, p) = resolve(path)
    statusOf(fs, p).exists(_.isDirectory)
  }

  /** Every file at or under `path`, depth-first and lazy (a caller that
    * stops early lists no further directories); empty when `path` is
    * absent. Checksum side files are hidden by the file system. */
  def files(path: String): Iterator[FileStatus] = {
    val (fs, p) = resolve(path)
    statusOf(fs, p).iterator.flatMap(walk(fs, _))
  }

  /** The direct children of a directory, in name order; empty when
    * `path` is absent or a file. */
  def list(path: String): Seq[FileStatus] = {
    val (fs, p) = resolve(path)
    statusOf(fs, p) match {
      case Some(st) if st.isDirectory =>
        fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
      case _ => Nil
    }
  }

  /** Write `text` as UTF-8 to `path`, replacing any file there and
    * creating missing parent directories. */
  def writeString(path: String, text: String): Unit = {
    val (fs, p) = resolve(path)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Move the file `src` to `dst` (missing parents created) and give
    * `dst` the modification time `mtime` (epoch ms): a file source
    * orders its input by mtime, and not every file system's rename
    * keeps it. */
  def move(src: String, dst: String, mtime: Long): Unit = {
    val (fs, s) = resolve(src)
    val d = new Path(dst)
    fs.mkdirs(d.getParent)
    if (!fs.rename(s, d))
      throw new java.io.IOException(s"could not move $src to $dst")
    fs.setTimes(d, mtime, -1L)
  }

  /** Content fingerprint of a file or directory: total size @ newest
    * mtime of its files, or `absent`. A regeneration racing the walk
    * (files deleted between list and stat) degrades to a UNIQUE token —
    * a cache miss, never a query crash; the nanoTime tail keeps two such
    * tokens from colliding. */
  def fingerprint(path: String): String =
    try {
      val (fs, p) = resolve(path)
      statusOf(fs, p).fold("absent") { st =>
        var size = 0L
        var mtime = 0L
        walk(fs, st).foreach { f =>
          size += f.getLen
          mtime = math.max(mtime, f.getModificationTime)
        }
        s"$size@$mtime"
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        s"racing@${System.nanoTime()}"
    }

  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      tempDirs.asScala.toList.foreach(delete)
    }, "graft-temp-dir-cleanup"))
  }

  /** A fresh local temp dir, deleted by [[delete]] or at JVM exit. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(d)
    d
  }

  /** Recursive, quiet delete; absent paths are a no-op. */
  def delete(path: String): Unit = {
    tempDirs.remove(path)
    try {
      val (fs, p) = resolve(path)
      fs.delete(p, true)
    } catch { case NonFatal(_) => () }
    (): Unit
  }
}
