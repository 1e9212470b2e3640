package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.ZkPipeline
import graft.sources.VersionedTable

/** Streaming storage-DB maintenance: each micro-batch carries the FULL
  * entry set of the (block, contract) groups it touches; the
  * maintainer rebuilds exactly those groups' storage-DB rows and
  * MERGEs them into a [[graft.sources.VersionedTable]] keyed by
  * (block, contract) — the reference's dirty-path-only recomputation
  * that reuses siblings (`query2/storage/partial_inner.rs`), at bucket
  * granularity:
  *
  *   - only the dirty groups' hash buckets are read and rewritten —
  *     untouched buckets inherit the previous version's immutable files
  *     (partition-level copy-on-write, no full-table read or rewrite).
  *     The key leads with `block_number` because the table buckets by
  *     its key's leading column: every group of one block shares a
  *     bucket, so an append of new blocks reads and rewrites at most
  *     one bucket per new block, where a (block, contract) hash would
  *     scatter a block's groups over most of the buckets;
  *   - the manifest publish is atomic, so concurrent readers always
  *     see a consistent snapshot (and can pin/time-travel);
  *   - commit conflicts (another writer landed first) retry against
  *     the new base ([[graft.sources.VersionedTable.retrying]]) —
  *     optimistic concurrency, single-winner.
  */
class StorageDbMaintainer(spark: SparkSession, baseDir: String) {

  private val table = new VersionedTable(spark, baseDir, nBuckets = 16)
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

  /** `head(1)`, not `isEmpty`: on a batch of driver rows it takes the
    * first row without a Spark job, where `isEmpty`'s column-less
    * projection plans one. */
  def processBatch(delta: DataFrame, batchId: Long): Unit =
    if (delta.head(1).nonEmpty) table.retrying(base => table.merge(ZkPipeline.storageDb(delta), keys, base))

  def vacuum(keepVersions: Int): Unit = table.vacuum(keepVersions)

  def start(deltas: DataFrame, checkpointDir: String): StreamingQuery =
    deltas.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
}
