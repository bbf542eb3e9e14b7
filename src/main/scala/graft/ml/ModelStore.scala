package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import graft.schema.{IndexCache, Storage}

/** S13: the versioned model store (reference spark_models/ dir +
  * api/api.py:24-37 eager load). Loaded models live in the session's
  * [[IndexCache]] so serving-style queries (Q1–Q3) amortize one
  * training/deserialization across requests — the reference's own
  * deliberate optimization (eager startup load) — and a corpus
  * regenerated under a long-lived server is retrained, not served stale.
  */
object ModelStore {

  /** Count of actual fits (not disk loads) — lets specs prove the
    * persisted path short-circuits retraining. */
  private[graft] val trains = new java.util.concurrent.atomic.AtomicInteger

  /** Filesystem-safe token for a path / fingerprint component. */
  private def tok(s: String): String =
    s.replaceAll("[^A-Za-z0-9.@-]", "_")

  /** Collision-free dataset-dir key (r15 advice #1): [[tok]] is lossy
    * (`/data/x/1` and `/data/x_1` both map to `_data_x_1`), and a
    * collision would let [[evictSuperseded]] delete the OTHER dataset's
    * live model tree as a "superseded generation". Appending a content
    * hash of the RAW dir string makes distinct dirs distinct keys while
    * keeping the human-readable token for tmpdir inspection. */
  private[graft] def dirKey(dir: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${tok(dir)}-${md5.take(12)}"
  }

  /** The per-corpus models directory (the reference's `spark_models/`),
    * keyed `<dataset-dir-key>__<content-fingerprint>` — the FULL
    * fingerprint, not a 32-bit hash of it (a hash collision would
    * silently serve a model trained on a different corpus), so a
    * regenerated corpus never serves a stale persisted model and the
    * stale dir is identifiable. */
  private[graft] def modelsDir(dir: String): String = {
    val fp = Storage.fingerprint(s"$dir/events.parquet")
    s"${sys.props("java.io.tmpdir")}/graft_spark_models/" +
      s"${dirKey(dir)}__${tok(fp)}"
  }

  /** Drop persisted model dirs for SUPERSEDED fingerprints of the same
    * dataset dir (a regenerated corpus re-keys; without eviction the old
    * trees accumulate in tmpdir forever). Current generation untouched;
    * scoped to the EXACT dir via [[dirKey]], so a lossy-token collision
    * can never sweep a sibling dataset's live tree. */
  private def evictSuperseded(dir: String, keep: String): Unit = {
    val kept = new org.apache.hadoop.fs.Path(keep)
    val prefix = s"${dirKey(dir)}__"
    Storage.list(kept.getParent.toString).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && p.getName != kept.getName)
      .foreach(p => Storage.delete(p.toString))
  }

  /** On-disk home for (dir, version): the reference's
    * `spark_models/model_<v>_rf` layout (spark_trainer.py:82-84). */
  private[graft] def persistedPath(dir: String, version: Int): String =
    s"${modelsDir(dir)}/model_${version}_rf"

  /** S14: the per-version feature-importances JSON artifact beside the
    * model dir — `model_<v>_rf_feature_importances.json`, importances
    * sorted descending (stable, so ties keep assembler column order),
    * exactly the artifact spark_trainer.py:87-99 writes and the one
    * docker-compose.yml:96-102 gates API startup on. */
  private[graft] def importancesPath(dir: String, version: Int): String =
    s"${modelsDir(dir)}/model_${version}_rf_feature_importances.json"

  private def writeImportances(model: PipelineModel, path: String): Unit = {
    val imps = Trainer.importancesInAssemblerOrder(model).sortBy(-_._2)
    val json = imps.map { case (n, v) => s"""    "$n": $v""" }
      .mkString("{\n", ",\n", "\n}")
    Storage.writeString(path, json)
  }

  /** Get the growing-window model for (test dir, version) FROM THE DISK
    * BOUNDARY: first use trains and persists (reference
    * spark_trainer.py's save), but the instance handed to every caller
    * — including the Q1–Q3 serving path — is `PipelineModel.load` of
    * the persisted form, exactly the startup-load contract of
    * api/api.py:24-37. A warm persisted store (marker present) skips
    * training entirely, like an API restart against existing
    * spark_models/. Thread-safe; one fit OR load per (session, dir,
    * version, events generation). Retiring an entry drops only the
    * loaded instance: the persisted tree is the restart contract, and
    * superseded trees go through [[evictSuperseded]]. */
  def forDir(spark: SparkSession, dir: String, version: Int): PipelineModel =
    IndexCache(spark, "model", (dir, version), Seq(s"$dir/events.parquet")) {
      val path = persistedPath(dir, version)
      val marker = s"$path/_graft_complete"
      if (!Storage.exists(marker)) {
        evictSuperseded(dir, modelsDir(dir))
        val raw = Trainer.tripFrameFromEvents(spark, dir)
        val m = Trainer.fitVersion(raw, version, orderCol = "event_id")
        trains.incrementAndGet()
        save(m, path)
        // artifact BEFORE marker: the marker is the compose-file
        // startup sentinel's precondition (docker-compose.yml:99 waits
        // on the importances json), so a crash between the two leaves
        // an incomplete dir that retrains, never a model without its
        // importances artifact
        writeImportances(m, importancesPath(dir, version))
        Storage.writeString(marker, "")
      }
      load(path)
    }(_ => ())

  /** Persist a model (same on-disk format PySpark reads/writes). */
  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  /** Load a persisted model. */
  def load(path: String): PipelineModel = PipelineModel.load(path)
}
