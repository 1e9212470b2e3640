package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.ZkPipeline
import graft.sources.VersionedTable

/** Streaming storage-DB maintenance: each micro-batch carries the FULL
  * entry set of the (block, contract) groups it touches; the
  * maintainer rebuilds exactly those groups (`storageDbIncremental` —
  * the reference's dirty-path-only recomputation) and commits them to
  * a [[graft.sources.VersionedTable]]:
  *
  *   - only the dirty groups' hash buckets are rewritten — untouched
  *     buckets inherit the previous version's immutable files
  *     (partition-level copy-on-write, no full-table rewrite);
  *   - the manifest + LATEST swap is atomic, so concurrent readers
  *     always see a consistent snapshot (and can pin/time-travel);
  *   - commit conflicts (another writer landed first) retry against
  *     the new base — optimistic concurrency, single-winner.
  */
class StorageDbMaintainer(spark: SparkSession, baseDir: String, nBuckets: Int = 16) {

  private val table = new VersionedTable(spark, baseDir, nBuckets)
  private val keys = Seq("block_number", "contract")

  def currentVersion(): Option[String] = table.currentVersion().map(v => f"v$v%06d")

  def current(): Option[DataFrame] = table.read()

  def readAt(version: Int): Option[DataFrame] = table.read(Some(version))

  /** CDC between two maintained versions: the classified row-level
    * delta of the storage DB (insert/delete/update per (block,
    * contract) group), read from only the buckets whose manifests
    * changed — the downstream-consumer contract for incremental
    * re-proving. */
  def diff(fromVersion: Int, toVersion: Int): DataFrame =
    table.diff(keys, fromVersion, toVersion)

  def processBatch(delta: DataFrame, batchId: Long): Unit = {
    if (delta.isEmpty) return
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      val base = table.currentVersion()
      val next = table.read() match {
        case None       => ZkPipeline.storageDb(delta)
        case Some(prev) => ZkPipeline.storageDbIncremental(prev, delta)
      }
      // a bucket must be written whole: rewrite every bucket the
      // delta's groups hash into, inherit the rest
      val dirtyBuckets = delta.select(table.bucketCol(keys).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet
      val rows = next.withColumn("__b", table.bucketCol(keys))
        .filter(col("__b").isin(dirtyBuckets.toSeq: _*)).drop("__b")
      try {
        table.commit(rows, keys, base)
        done = true
      } catch {
        case _: VersionedTable.CommitConflict if attempts < 5 => // re-read base, retry
      }
    }
  }

  def vacuum(keepVersions: Int): Unit = table.vacuum(keepVersions)

  def start(deltas: DataFrame, checkpointDir: String): StreamingQuery =
    deltas.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
}
