package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming corpus-wide chunk dedup — the continuous-ingest twin of
  * the batch `d22_chunk_dedup`: documents arrive as a stream, each is
  * split into the same non-overlapping 10-word chunks, and a chunk
  * occurrence is kept iff its content was never filed before —
  * boilerplate scrubbed at ingest, without ever rescanning the corpus.
  *
  * Shape: state is keyed by the chunk string (`flatMapGroupsWithState`
  * shards it exactly like the batch window's shuffle by chunk); per-
  * chunk state is the first filer's (doc_id, idx) pair, so resident
  * state is O(distinct chunks) — the same cardinality the batch
  * window's hash table holds, and the floor for exact global dedup.
  * Within a micro-batch, occurrences are normalized to (doc_id, idx)
  * order so replays are deterministic.
  *
  * Contract: FIRST ARRIVAL wins (the only decision an append-only
  * stream can make — a keep already emitted cannot be retracted).
  * When docs arrive in doc_id order — the St1 ingest contract — this
  * is bit-equal to the batch min-key rule (`StreamingChunkDedupSpec`
  * proves it against the registry query); under out-of-order arrival
  * each distinct chunk is still kept exactly once globally.
  *
  * Retention: unbounded state is right for a bounded corpus, but a
  * continuous-ingest deployment must cap it — `stateTtl` expires a
  * chunk's state after it goes unseen for the given duration
  * (ProcessingTimeTimeout; re-observing a chunk renews its lease).
  * Semantics under TTL become "first arrival within the retention
  * window" — the sliding-window contract every production dedup
  * stream settles on (same trade as StreamingDedup's `maxPerBucket`),
  * and resident state becomes O(distinct chunks seen in a window)
  * instead of O(all history). StreamingChunkDedupSpec proves both
  * the eviction (numRowsRemoved > 0) and the re-keep after expiry.
  */
object StreamingChunkDedup {

  final case class Doc(doc_id: Long, text: String)
  final case class ChunkOcc(chunk: String, doc_id: Long, idx: Long)
  final case class HashedOcc(k1: Long, k2: Long, doc_id: Long, idx: Long)
  final case class ChunkState(firstDoc: Long, firstIdx: Long)
  final case class KeepRow(doc_id: Long, idx: Long, keep: Boolean)

  /** the same chunking as the batch path: consecutive 10-word chunks,
    * tail chunk short. */
  def chunksOf(d: Doc): Seq[ChunkOcc] =
    d.text.split(" ").grouped(10).zipWithIndex.map { case (ws, i) =>
      ChunkOcc(ws.mkString(" "), d.doc_id, i.toLong)
    }.toSeq

  /** 128-bit content key (MD5 halves as two longs): the state key per
    * distinct chunk is 16 fixed bytes instead of the full ~60-80-byte
    * chunk string — a 4-5× cut in resident state at corpus scale, at
    * the same keep semantics (a 2⁻⁶⁴-scale collision over 2⁶⁴ chunks
    * is negligible for a dedup verdict). */
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def contentKey(chunk: String): (Long, Long) = {
    // thread-local digest: getInstance per chunk would pay a JCA
    // provider lookup + allocation on the pre-shuffle hot path
    val m = md5.get(); m.reset()
    val d = m.digest(chunk.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong, bb.getLong)
  }

  /** per-group fold: the first (doc_id, idx)-ordered occurrence
    * of a never-filed chunk is kept; the retention lease renews on
    * every observation. */
  private def fold(stateTtl: Option[java.time.Duration])(
      it: Iterator[(Long, Long)], state: GroupState[ChunkState]): Iterator[KeepRow] =
    if (state.hasTimedOut) {
      // lease expired: forget the chunk — the next occurrence is
      // "first in window" again
      state.remove()
      Iterator.empty
    } else {
      var first = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[KeepRow]
      it.toSeq.sorted.foreach { case (doc, idx) =>
        val kept = first.isEmpty
        if (kept) {
          first = Some(ChunkState(doc, idx))
          state.update(first.get)
        }
        out += KeepRow(doc, idx, kept)
      }
      // renew the retention lease on every observation
      stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
      out.iterator
    }

  /** one row per chunk occurrence: (doc_id, idx, keep). The state
    * (and the shuffle) is keyed by [[contentKey]]. */
  def keeps(docs: Dataset[Doc], stateTtl: Option[java.time.Duration] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.flatMap(chunksOf _)
      // the chunk text is dropped BEFORE the shuffle: both the
      // exchange payload and the state key carry 16 hash bytes
      .map { o => val (a, b) = contentKey(o.chunk); HashedOcc(a, b, o.doc_id, o.idx) }
      .groupByKey(o => (o.k1, o.k2))
      .flatMapGroupsWithState[ChunkState, KeepRow](OutputMode.Append, timeoutConf) {
        (_: (Long, Long), it: Iterator[HashedOcc], state: GroupState[ChunkState]) =>
          fold(stateTtl)(it.map(o => (o.doc_id, o.idx)), state)
      }
      .toDF()
  }
}
