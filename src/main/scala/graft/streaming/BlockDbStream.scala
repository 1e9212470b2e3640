package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  * re-reads or re-hashes history (the reference's IVC carries exactly
  * this frontier between steps, `block/mod.rs:152-207`). The frontier
  * is persisted per batch next to the sink through [[DriverState]];
  * on restart it is reloaded and cross-checked against the sink's max
  * block, and only on a mismatch (crash between sink append and
  * frontier write) or an unreadable frontier file is it rebuilt with
  * one O(n) leaf scan. `foreachBatch` + checkpoint gives
  * exactly-once appends; replayed batches are no-ops because
  * duplicates fail the St2 check.
  */
class BlockDbAppender(spark: SparkSession, sinkDir: String, quarantineDir: String) {

  import spark.implicits._
  import BlockDbAppender.State

  private def sinkHasData: Boolean = {
    val p = Paths.get(sinkDir)
    Files.exists(p) && {
      val s = Files.list(p)
      try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  // ---------------------------------------------------------- frontier
  /** the persisted frontier, a [[DriverState]] file. A sink's older
    * `_frontier.txt` is ignored: its first batch here rebuilds. */
  private val statePath = Paths.get(sinkDir, "_frontier.state")

  /** in-memory state between micro-batches of one appender lifetime;
    * None until the first batch loads/recovers it. */
  private var cached: Option[State] = None

  private def persistState(st: State): Unit =
    DriverState.writeAtomic(statePath) { out =>
      out.writeLong(st.last.getOrElse(-1L))
      out.writeUTF(st.tree.serialize)
    }

  /** the persisted frontier; None if absent or unreadable (torn,
    * truncated, corrupt) — the sink is the source of truth, so any
    * frontier the appender cannot trust sends it to [[rebuildState]]. */
  private def loadState(): Option[State] =
    scala.util.Try(DriverState.read(statePath) { in =>
      val last = in.readLong()
      State(if (last < 0) None else Some(last), MerkleFrontier.deserialize(in.readUTF()))
    }).toOption.flatten

  /** crash-recovery rebuild: one scan of the (1 row per block) sink. */
  private def rebuildState(): State = {
    val existing = spark.read.parquet(sinkDir).select("block_number", "leaf_hash_hex")
      .as[(Long, String)].collect().sortBy(_._1)
    State(existing.lastOption.map(_._1),
      MerkleFrontier(existing.iterator.map { case (_, h) => Bytes.fromHex(h) }))
  }

  /** first-batch initialization: trust the persisted frontier iff it
    * agrees with the sink's high-water mark (one cheap max() over the
    * tiny sink, once per appender lifetime — not per batch). */
  private def initState(): State =
    if (!sinkHasData) State(None, MerkleFrontier.empty)
    else {
      val sinkMax = spark.read.parquet(sinkDir).agg(max("block_number")).as[Long].head()
      loadState().filter(_.last.contains(sinkMax)).getOrElse(rebuildState())
    }

  /** one micro-batch: strictly-sequential prefix accepted, rest
    * quarantined. Exposed for direct (batch) testing too. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    var st = cached.getOrElse(initState())

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
        (bn, Bytes.toHex(bh), Bytes.toHex(sr), Bytes.toHex(leaf), Bytes.toHex(root))
      }.toDF("block_number", "block_hash_hex", "state_root_hex", "leaf_hash_hex", "root_after_hex")
        .repartition(1)
        .write.mode(SaveMode.Append).parquet(sinkDir)

    val rej = rejected.result()
    if (rej.nonEmpty)
      rej.toDF("block_number", "reason")
        .withColumn("batch_id", lit(batchId))
        .repartition(1)
        .write.mode(SaveMode.Append).parquet(quarantineDir)

    if (acc.nonEmpty) persistState(st)
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
