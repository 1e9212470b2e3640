package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.MetadataBuilder

import graft.core.Fs
import graft.operators.IvfIndex
import graft.sources.VersionedTable

/** Streaming ANN index maintenance: embeddings arrive as a stream and
  * the serving index stays continuously queryable — the ingestion-side
  * composition of the IVF index with the transactional versioned sink:
  *
  *   - per batch, new vectors are assigned to their posting list
  *     (`IvfIndex.assign`) under the quantizer of the version they are
  *     MERGEd into — only the buckets the new vector ids hash into are
  *     rewritten;
  *   - readers probe a SNAPSHOT: rows and quantizer come from one
  *     resolved version, so an in-flight batch never disturbs them and
  *     a probe mid-stream simply sees the vectors ingested so far — the
  *     index is always consistent, just possibly behind the stream head;
  *   - re-training (quantizer drift after heavy ingest) is a separate
  *     offline `compact`-style rebuild ([[refreshQuantizer]]), exactly
  *     like a table-format re-clustering — the serving path never
  *     blocks on it: the rebuild is one full-rewrite commit, and readers
  *     pinned to older versions keep the old posting lists and the old
  *     quantizer.
  *
  * The quantizer is part of the version: the metadata of the `list_id`
  * field names its centroid directory (`_models/<id>`, written in the
  * at-rest format of [[IvfIndex.writeModel]] before the manifest
  * publish, writer-unique like the table's data directories) and
  * carries the drift baseline. A merge keeps its base's field and an
  * overwrite records its rows' field, so the table commit is the one
  * commit point: a crash anywhere leaves the old version with its
  * quantizer or the new one with its own. Until the first commit the
  * constructor's `initialModel` serves; the constructor writes nothing.
  *
  * Layout trade: this table buckets by vec_id (upsert-optimized —
  * merges rewrite only dirty buckets), so probes scan all buckets and
  * prune by list_id post-scan. The probe-optimized twin is
  * [[graft.operators.IvfIndex.writeStore]]/`appendStore`: parquet
  * partitioned BY POSTING LIST, where the probe's list filter becomes
  * directory pruning but a per-key upsert (`applyCdc`) rewrites whole
  * posting lists. A deployment periodically compacts
  * this table into that layout for read-heavy serving.
  */
class VectorIndexMaintainer(spark: SparkSession, baseDir: String, initialModel: IvfIndex.Model) {

  import VectorIndexMaintainer._

  private val table = new VersionedTable(spark, baseDir, nBuckets = 16)

  /** the last centroid directory read: directories are immutable, so
    * the memo cannot go stale. */
  @volatile private var loaded: Option[(String, IvfIndex.Model)] = None

  private def modelAt(dir: String): IvfIndex.Model = loaded match {
    case Some((`dir`, m)) => m
    case _ =>
      val m = IvfIndex.readModel(spark, s"$baseDir/$dir")
      loaded = Some(dir -> m)
      m
  }

  /** `version`'s rows, the quantizer they were assigned under and its
    * drift baseline, all from the one manifest. */
  private def snapshot(version: Option[Int]): Option[(DataFrame, IvfIndex.Model, Double)] =
    table.read(version).map { rows =>
      val meta = rows.schema("list_id").metadata
      if (!meta.contains(ModelKey))
        throw new IllegalStateException(s"vector index at $baseDir: list_id names no quantizer")
      (rows, modelAt(meta.getString(ModelKey)), meta.getDouble(BaselineKey))
    }

  /** `assigned` with its quantizer recorded on `list_id`: the centroids
    * in a fresh `_models/<id>` and the drift baseline, the rows' mean
    * distortion under `model`. */
  private def withQuantizer(assigned: DataFrame, model: IvfIndex.Model): DataFrame = {
    val dir = s"_models/${java.util.UUID.randomUUID()}"
    IvfIndex.writeModel(spark, model, s"$baseDir/$dir")
    val meta = new MetadataBuilder().putString(ModelKey, dir)
      .putDouble(BaselineKey, IvfIndex.distortion(assigned, model)).build()
    assigned.withColumn("list_id", col("list_id").as("list_id", meta))
  }

  /** the serving quantizer: the current version's, else `initialModel`. */
  def model: IvfIndex.Model = snapshot(None).fold(initialModel)(_._2)

  def currentVersion(): Option[Int] = table.currentVersion()

  def indexedCount(): Long = table.read().map(_.count()).getOrElse(0L)

  /** Assign `batch` under the base version's quantizer and merge it.
    * The first commit records `initialModel`. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    if (batch.head(1).nonEmpty) table.retrying { base =>
      base.flatMap(v => snapshot(Some(v))) match {
        case Some((_, m, _)) => table.merge(IvfIndex.assign(batch, m), Seq("vec_id"), base)
        case None =>
          table.merge(withQuantizer(IvfIndex.assign(batch, initialModel), initialModel), Seq("vec_id"), base)
      }
    }

  /** mean L2² of the indexed vectors to their stored posting-list
    * centroid (the layout's residual distortion — rises as ingested
    * data walks away from the trained centroids). */
  def distortion(): Double =
    snapshot(None).fold(0.0) { case (rows, m, _) => IvfIndex.distortion(rows, m) }

  /** Retrain the coarse quantizer on the CURRENT snapshot and rebuild
    * every posting list under it — the offline compact-style rebuild.
    * One full-rewrite commit that carries the new quantizer and its
    * baseline; on a base conflict (a stream batch landed mid-rebuild)
    * the snapshot is re-read and the rebuild retried, so no ingested
    * vector is ever lost. Returns the committed version. */
  def refreshQuantizer(nlist: Int = model.centroids.length, seed: Long = 42L): Int =
    table.retrying { base =>
      val snap = table.read(base).getOrElse(
        throw new IllegalStateException("index is empty — nothing to rebuild")).drop("list_id")
      val fresh = IvfIndex.train(snap, nlist, seed)
      table.overwrite(withQuantizer(IvfIndex.assign(snap, fresh), fresh), Seq("vec_id"), base)
    }

  /** rebuild only when the layout's distortion drifted past `factor`
    * × the baseline recorded with the current quantizer. Returns true
    * if a rebuild happened. */
  def refreshIfDrifted(factor: Double = 1.5): Boolean =
    snapshot(None) match {
      case Some((rows, m, b)) if b > 0 && IvfIndex.distortion(rows, m) > factor * b =>
        refreshQuantizer(); true
      case _ => false
    }

  /** [[VersionedTable.vacuum]], then delete the centroid directories
    * that only the dropped versions named. With `removeOrphans` (same
    * contract: no writer in flight, whose model no version names yet)
    * also delete every `_models/<id>` no kept version names — those of
    * commits that lost a race or faulted at the publish. */
  def vacuum(keepVersions: Int, removeOrphans: Boolean = false): Unit = {
    def named(versions: Seq[Int]): Set[String] = versions.flatMap { v =>
      Some(table.schemaAt(v)("list_id").metadata).filter(_.contains(ModelKey)).map(_.getString(ModelKey))
    }.toSet
    val before = named(table.versions())
    table.vacuum(keepVersions, removeOrphans)
    val candidates =
      if (!removeOrphans) before
      else Option(new java.io.File(baseDir, "_models").list()).toSet.flatten.map(id => s"_models/$id")
    (candidates -- named(table.versions())).foreach(dir => Fs.deleteRecursively(new java.io.File(baseDir, dir)))
  }

  /** `trigger` defaults to draining the available backlog and
    * stopping (spec/bench shape); pass a processing-time trigger for
    * continuous ingestion against a live source. */
  def start(embeddings: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    embeddings.writeStream
      .foreachBatch(processBatch _)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** top-k probe against the CURRENT snapshot (same plan as the batch
    * `IvfIndex.probe`). */
  def probe(query: Array[Float], nprobe: Int, k: Int): DataFrame = {
    val (rows, m, _) = snapshot(None).getOrElse(
      throw new IllegalStateException("index is empty — nothing ingested yet"))
    IvfIndex.probe(rows, m, query, nprobe, k)
  }
}

object VectorIndexMaintainer {
  /** `list_id` field metadata: the version's centroid directory,
    * relative to the table root, and its drift baseline. */
  private val ModelKey = "ivf_model"
  private val BaselineKey = "drift_baseline"
}
