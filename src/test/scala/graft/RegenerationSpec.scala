package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.ml.{ModelStore, Trainer}

/** A corpus regenerated at the same path must never serve a stale index,
  * converted copy or model: after the source table is rewritten with
  * different content (and size), every derived answer equals a cold run
  * over the new content — under a bare path and under `file:`/`file://`
  * URIs alike. Also: streaming layout probes see a spec-written DIRECTORY
  * layout the same way whether the corpus is named by bare path or by
  * `file://` URI. */
class RegenerationSpec extends SparkSpec {

  private val types = Seq("click", "view", "purchase", "signup", "error")

  private def writeDocs(dir: String, n: Int, salt: String): Unit = {
    import spark.implicits._
    (1 to n).map { i =>
      val text = s"doc $i $salt alpha beta ${"gamma " * (i % 5)}w${i % 7}"
      (i.toLong, text, "en", "web", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeEvents(dir: String, n: Int, shift: Int): Unit = {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime
    (0 until n).map { i =>
      (i.toLong, new java.sql.Timestamp(t0 + i * 7L * 60000L),
        ((i * shift) % 9).toLong, types((i + shift) % types.size),
        (i % 17) * 1.25 + shift, s"""{"k": ${(i * 7 + shift) % 23}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("regeneration under a file: dir: the token-frequency index equals " +
      "a cold build over the new documents") {
    val dir = tmp("regen-docs")
    val uri = s"file:$dir"
    writeDocs(dir, 40, "first")
    val before = rows(graft.query.TokenHash.tokenTf(spark, uri))
    writeDocs(dir, 55, "second generation")
    val after = rows(graft.query.TokenHash.tokenTf(spark, uri))
    val cold = tmp("regen-docs-cold")
    writeDocs(cold, 55, "second generation")
    val expected = rows(graft.query.TokenHash.tokenTf(spark, cold))
    assert(before != expected, "the two generations must differ")
    assert(after == expected,
      "stale token index served after regeneration under a file: path")
  }

  test("regeneration under a bare dir: ModelStore.forDir retrains into a " +
      "new models dir and serves the model a cold fit gives") {
    val dir = tmp("regen-model")
    writeEvents(dir, 160, 1)
    val t0 = ModelStore.trains.get()
    ModelStore.forDir(spark, dir, 1)
    assert(ModelStore.trains.get() == t0 + 1)
    val firstDir = ModelStore.modelsDir(dir)
    writeEvents(dir, 230, 4)
    val m = ModelStore.forDir(spark, dir, 1)
    assert(ModelStore.trains.get() == t0 + 2,
      "a regenerated corpus must retrain, not serve the cached model")
    val secondDir = ModelStore.modelsDir(dir)
    assert(secondDir != firstDir)
    val cold = tmp("regen-model-cold")
    writeEvents(cold, 230, 4)
    val coldModel = Trainer.fitVersion(
      Trainer.tripFrameFromEvents(spark, cold), 1, orderCol = "event_id")
    assert(Trainer.featureImportances(m) ==
      Trainer.featureImportances(coldModel))
    Seq(firstDir, secondDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("regeneration: the partitioned events layout copy is rebuilt and " +
      "part_pruning equals a cold run over the new events") {
    val dir = tmp("regen-part")
    writeEvents(dir, 120, 1)
    val before = rows(graft.query.Warehouse.partPruning(spark, dir))
    writeEvents(dir, 175, 2)
    val after = rows(graft.query.Warehouse.partPruning(spark, dir))
    val cold = tmp("regen-part-cold")
    writeEvents(cold, 175, 2)
    val expected = rows(graft.query.Warehouse.partPruning(spark, cold))
    assert(before != expected, "the two generations must differ")
    assert(after == expected, "stale partitioned layout served")
  }

  test("streaming over a directory-layout corpus returns the same rows " +
      "for the bare path and the file:// URI") {
    val dir = tmp("stream-layout")
    writeEvents(dir, 150, 3)
    assert(new java.io.File(s"$dir/events.parquet").isDirectory)
    val bare = rows(graft.streaming.StreamQueries.streamWindowAgg(spark, dir))
    val uri = rows(
      graft.streaming.StreamQueries.streamWindowAgg(spark, s"file://$dir"))
    assert(bare.nonEmpty, "the bare-path drain read no rows")
    assert(uri == bare,
      s"file:// drain returned ${uri.size} rows, bare path ${bare.size}")
  }
}
