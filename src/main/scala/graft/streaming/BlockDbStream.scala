package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Bytes, Commitments, MerkleFrontier}

/** Append-only block-DB maintenance as Structured Streaming (SURVEY
  * §2.8 St1–St4; reference `block/mod.rs:1-6,152-293`):
  *
  *   - St1 IVC append: each accepted block row carries `root_after`,
  *     the block-DB root with that block inserted (the reference's
  *     carried IVC proof becomes a carried column).
  *   - St2 sequencing: a block is accepted iff `block_number ==
  *     last_accepted + 1` (strict, no gaps, no reorder).
  *   - St3 bootstrap: an empty sink accepts any first block and seeds
  *     the chain from it (the reference's dummy-proof first step).
  *   - St4 late/out-of-order data is rejected *by design*: offending
  *     rows land in a quarantine sink with a reason, the stream keeps
  *     running.
  *
  * Scale shape: per micro-batch the driver holds the O(log n) IVC
  * frontier (last block number + the Merkle right-spine,
  * [[graft.core.MerkleFrontier]]) plus O(batch) rows — it never
  * re-reads or re-hashes history. The frontier travels with the step,
  * as the reference's IVC carries it between steps
  * (`block/mod.rs:152-207`): each batch's last accepted row holds the
  * serialized frontier in `frontier_after` (null on the other rows),
  * so the sink append is the one commit point and no state file sits
  * beside it. A restarted appender reads the frontier back from the
  * sink's newest row (one job per appender lifetime) and refuses the
  * sink ([[BlockDbAppender.UnresumableSink]]) unless that frontier's
  * root is the row's `root_after_hex`. A batch's accepted rows, and
  * its quarantined ones, are built on the driver and each written as
  * one file in one task (`coalesce(1)`, no shuffle). `foreachBatch` +
  * checkpoint gives exactly-once appends; replayed batches are no-ops
  * because duplicates fail the St2 check.
  */
class BlockDbAppender(spark: SparkSession, sinkDir: String, quarantineDir: String) {

  import spark.implicits._
  import BlockDbAppender.{State, UnresumableSink}

  /** in-memory state between micro-batches of one appender lifetime;
    * None until the first batch restores it from the sink. */
  private var cached: Option[State] = None

  /** the state the sink's newest row carries (a fresh chain for an
    * empty sink). */
  private def restore(): State = {
    val newest =
      if (!Files.exists(Paths.get(sinkDir))) None
      else spark.read.schema("block_number LONG, root_after_hex STRING, frontier_after STRING")
        .parquet(sinkDir).orderBy(col("block_number").desc).take(1).headOption
    newest.fold(State(None, MerkleFrontier.empty)) { r =>
      val block = r.getLong(0)
      val frontier = Option(r.getString(2)).getOrElse(
        throw new UnresumableSink(sinkDir, s"block $block carries no frontier_after"))
      val tree = scala.util.Try(MerkleFrontier.deserialize(frontier)).toOption
        .filter(t => Bytes.toHex(t.root) == r.getString(1))
        .getOrElse(throw new UnresumableSink(sinkDir,
          s"the frontier of block $block does not hash to its root_after_hex"))
      State(Some(block), tree)
    }
  }

  /** one micro-batch: strictly-sequential prefix accepted, rest
    * quarantined. Exposed for direct (batch) testing too. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    var st = cached.getOrElse(restore())

    val rows = batch
      .select(col("block_number").cast("long"), col("block_hash"), col("state_root"))
      .collect()
      .sortBy(_.getLong(0))

    val accepted = Vector.newBuilder[(Long, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
    val rejected = Vector.newBuilder[(Long, String)]
    rows.foreach { r =>
      val bn = r.getLong(0)
      val ok = st.last match {
        case None       => true // St3 bootstrap
        case Some(prev) => bn == prev + 1
      }
      if (ok) {
        val leaf = Commitments.blockLeafHash(bn, r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
        val tree = st.tree.push(leaf)
        accepted += ((bn, r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), leaf, tree.root))
        st = State(Some(bn), tree)
      } else {
        val reason = if (st.last.exists(bn <= _)) "duplicate_or_reorder" else "gap"
        rejected += ((bn, reason))
      }
    }

    val acc = accepted.result()
    if (acc.nonEmpty)
      acc.map { case (bn, bh, sr, leaf, root) =>
        val frontier = if (st.last.contains(bn)) Some(st.tree.serialize) else None
        (bn, Bytes.toHex(bh), Bytes.toHex(sr), Bytes.toHex(leaf), Bytes.toHex(root), frontier)
      }.toDF("block_number", "block_hash_hex", "state_root_hex", "leaf_hash_hex", "root_after_hex",
        "frontier_after")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(sinkDir)

    val rej = rejected.result()
    if (rej.nonEmpty)
      rej.toDF("block_number", "reason")
        .withColumn("batch_id", lit(batchId))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(quarantineDir)

    cached = Some(st)
  }

  /** start the streaming append with exactly-once checkpointing. */
  def start(blocks: DataFrame, checkpointDir: String): StreamingQuery =
    blocks.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
}

object BlockDbAppender {
  /** (last accepted block, incremental Merkle spine) — everything the
    * next append needs; size ≤ 1 + log2(n) hashes. */
  private final case class State(last: Option[Long], tree: MerkleFrontier)

  /** the sink's newest row does not carry a frontier whose root is
    * that row's `root_after_hex` — appending would fork the chain. */
  final class UnresumableSink(sink: String, why: String)
    extends IllegalStateException(s"block-DB sink $sink cannot be resumed: $why")
}

/** Streaming event-time aggregation (the general streaming surface the
  * engine adds beyond the reference's strict-append model): the same
  * declarative plan serves batch and streaming DataFrames — tumbling
  * windows with a watermark bound the state store. */
object EventWindows {

  /** tumbling 1-hour counts with a 2-hour watermark (streaming) or a
    * plain windowed groupBy (batch) — identical code path. */
  def hourly(events: DataFrame): DataFrame = {
    val base = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    base
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
  }
}
