package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IvfIndex, QuantizerStore}
import graft.sources.VersionedTable

/** Streaming ANN index maintenance: embeddings arrive as a stream and
  * the serving index stays continuously queryable — the ingestion-side
  * composition of the IVF index with the transactional versioned sink:
  *
  *   - the coarse quantizer is trained ONCE (on a bootstrap set) and
  *     broadcast; per batch, new vectors are assigned to their posting
  *     list (`IvfIndex.assign`) and MERGEd into the versioned table —
  *     only the buckets the new vector ids hash into are rewritten;
  *   - readers probe a SNAPSHOT (`table.read()`): they are never
  *     disturbed by an in-flight batch, and a probe mid-stream simply
  *     sees the vectors ingested so far — the index is always
  *     consistent, just possibly behind the stream head;
  *   - re-training (quantizer drift after heavy ingest) is a separate
  *     offline `compact`-style rebuild ([[refreshQuantizer]]), exactly
  *     like a table-format re-clustering — the serving path never
  *     blocks on it: the rebuild is one full-rewrite commit, readers
  *     pinned to older versions keep the old posting lists (and, via
  *     the versioned [[QuantizerStore]], the old codebooks), and the
  *     serving pointer swaps only after the commit lands.
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

  private val table = new VersionedTable(spark, baseDir, nBuckets = 16)
  private val quantizerDir = s"$baseDir/_quantizer"
  private val baselineFile = java.nio.file.Paths.get(quantizerDir, "BASELINE")

  /** current serving quantizer — restored from the committed store on
    * construction, so a restarted maintainer serves the refreshed
    * quantizer, not the bootstrap one. */
  @volatile private var _model: IvfIndex.Model =
    QuantizerStore.loadIvfModel(spark, quantizerDir).getOrElse {
      // nCorpus = -1: the bootstrap fit happened caller-side, its
      // corpus size is unknown here; refreshQuantizer records the real
      // snapshot count when it retrains
      try QuantizerStore.save(spark, quantizerDir, Some(initialModel), None, -1L)
      catch { case _: RuntimeException => () } // lost save race: identical content
      initialModel
    }

  def model: IvfIndex.Model = _model

  def currentVersion(): Option[Int] = table.currentVersion()

  def indexedCount(): Long = table.read().map(_.count()).getOrElse(0L)

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val assigned = IvfIndex.assign(batch, model)
    table.retrying(base => table.merge(assigned, Seq("vec_id"), base))
    // first ingest records the drift baseline the refresh decision
    // compares against
    if (!java.nio.file.Files.exists(baselineFile)) recordBaseline()
  }

  /** mean L2² of the indexed vectors to their stored posting-list
    * centroid (the layout's residual distortion — rises as ingested
    * data walks away from the trained centroids). */
  def distortion(): Double =
    table.read().map(snap => IvfIndex.distortion(snap, _model)).getOrElse(0.0)

  /** published whole (never a torn number for [[baseline]] to read) */
  private def recordBaseline(): Unit =
    graft.core.Fs.publishFile(baselineFile, distortion().toString.getBytes(UTF_8), replace = true)

  private def baseline(): Option[Double] =
    if (java.nio.file.Files.exists(baselineFile))
      Some(java.nio.file.Files.readString(baselineFile).trim.toDouble)
    else None

  /** Retrain the coarse quantizer on the CURRENT snapshot and rebuild
    * every posting list under it — the offline compact-style rebuild.
    * One full-rewrite commit; on a base conflict (a stream batch
    * landed mid-rebuild) the snapshot is re-read and the rebuild
    * retried, so no ingested vector is ever lost. Returns the
    * committed version. */
  def refreshQuantizer(nlist: Int = _model.centroids.length, seed: Long = 42L): Int = {
    val (committed, fresh, nSnap) = table.retrying { base =>
      val snap = table.read(base).getOrElse(
        throw new IllegalStateException("index is empty — nothing to rebuild")).drop("list_id")
      val nSnap = snap.count()
      val fresh = IvfIndex.train(snap, nlist, seed)
      (table.overwrite(IvfIndex.assign(snap, fresh), Seq("vec_id"), base), fresh, nSnap)
    }
    try QuantizerStore.save(spark, quantizerDir, Some(fresh), None, nSnap)
    catch { case _: RuntimeException => () } // lost save race; serving model still swaps
    _model = fresh
    recordBaseline()
    committed
  }

  /** rebuild only when the layout's distortion drifted past `factor`
    * × the recorded baseline. Returns true if a rebuild happened. */
  def refreshIfDrifted(factor: Double = 1.5): Boolean =
    baseline() match {
      case Some(b) if b > 0 && distortion() > factor * b => refreshQuantizer(); true
      case _ => false
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
    val snapshot = table.read().getOrElse(
      throw new IllegalStateException("index is empty — nothing ingested yet"))
    IvfIndex.probe(snapshot, model, query, nprobe, k)
  }
}
