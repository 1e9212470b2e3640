package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IvfIndex

/** Streaming ANN index maintenance: embeddings arrive as a stream and
  * the serving index stays continuously queryable. The index is the
  * [[IvfIndex]] generation store at `baseDir` — posting lists
  * partitioned by `list_id` with their quantizer `_model` in the same
  * generation — and this class is its streaming front:
  *
  *   - the first non-empty batch is written under `initialModel`
  *     ([[IvfIndex.writeStore]]); every later batch is assigned under
  *     the store's own quantizer and written keyed by `vec_id`
  *     ([[IvfIndex.upsertStore]]), so a replayed batch or an updated id
  *     leaves one row per id — the idempotent keyed write that makes a
  *     `foreachBatch` sink exactly-once;
  *   - re-training (quantizer drift after heavy ingest) is an offline
  *     rebuild ([[refreshQuantizer]]): train on the live rows and write
  *     them as a new generation under the new quantizer, with its drift
  *     baseline;
  *   - probes read the live generation, so the list filter is
  *     directory pruning.
  *
  * Every write publishes one new generation, so a crash at any step
  * leaves the old index or the new one. Until the first write the
  * constructor's `initialModel` serves; the constructor writes nothing.
  *
  * Contract: one writing handle per `baseDir` (the `foreachBatch`
  * contract — writes through one handle are serialized), and a frame
  * returned by [[probe]] stays valid until the next write.
  */
class VectorIndexMaintainer(spark: SparkSession, baseDir: String, initialModel: IvfIndex.Model) {

  /** the serving quantizer: the live generation's, else `initialModel`. */
  def model: IvfIndex.Model =
    if (IvfIndex.storeExists(baseDir)) IvfIndex.loadModel(spark, baseDir) else initialModel

  /** the committed row count, from the generation pointer alone. */
  def indexedCount(): Long =
    if (IvfIndex.storeExists(baseDir)) IvfIndex.storedCount(spark, baseDir) else 0L

  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (batch.head(1).nonEmpty) {
      if (IvfIndex.storeExists(baseDir)) IvfIndex.upsertStore(batch, baseDir)
      else IvfIndex.writeStore(IvfIndex.assign(batch, initialModel), initialModel, baseDir)
    }
  }

  /** mean L2² of the indexed vectors to their stored posting-list
    * centroid (the layout's residual distortion — rises as ingested
    * data walks away from the trained centroids). */
  def distortion(): Double =
    if (!IvfIndex.storeExists(baseDir)) 0.0
    else IvfIndex.distortion(IvfIndex.readStore(spark, baseDir), IvfIndex.loadModel(spark, baseDir))

  /** Retrain the coarse quantizer on the live rows and rebuild every
    * posting list under it — one new generation carrying the new
    * quantizer and its baseline. */
  def refreshQuantizer(nlist: Int = model.centroids.length, seed: Long = 42L): Unit = synchronized {
    if (!IvfIndex.storeExists(baseDir)) throw new IllegalStateException("index is empty — nothing to rebuild")
    val rows = IvfIndex.readStore(spark, baseDir).drop("list_id")
    val fresh = IvfIndex.train(rows, nlist, seed)
    IvfIndex.writeStore(IvfIndex.assign(rows, fresh), fresh, baseDir)
  }

  /** rebuild only when the layout's distortion drifted past `factor`
    * × the baseline recorded with the current quantizer. Returns true
    * if a rebuild happened. */
  def refreshIfDrifted(factor: Double = 1.5): Boolean = synchronized {
    val drifted = IvfIndex.storeExists(baseDir) && {
      val b = IvfIndex.storedBaseline(baseDir)
      b > 0 && distortion() > factor * b
    }
    if (drifted) refreshQuantizer()
    drifted
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

  /** top-k probe against the live generation (same plan as the batch
    * `IvfIndex.probe`, partition-pruned by `list_id`). */
  def probe(query: Array[Float], nprobe: Int, k: Int): DataFrame = {
    if (!IvfIndex.storeExists(baseDir)) throw new IllegalStateException("index is empty — nothing ingested yet")
    IvfIndex.probe(IvfIndex.readStore(spark, baseDir), IvfIndex.loadModel(spark, baseDir), query, nprobe, k)
  }
}
