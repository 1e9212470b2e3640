package graft.streaming

import java.io.{DataInputStream, DataOutputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, UTFDataFormatException}
import java.nio.file.{Files, Path}

/** Atomic persistence for the tiny driver-resident states
  * ([[StreamingPipeline.PackingMv]]'s packing manifest and
  * [[StreamingDrift]]'s profile counters): a streaming pipeline's exactly-once story is
  * checkpoint + idempotent sink, and a driver-held accumulator
  * participates only if it (a) survives a killed JVM and (b) can tell
  * a REPLAYED micro-batch (crash after the fold, before the
  * checkpoint commit) from a new one. The write is
  * [[graft.core.Fs.publishFile]] — temp file, forced to disk, atomic
  * move — so a reader sees either the previous complete state or the
  * next, never a torn file; and every accumulator state carries the
  * last folded batch id so a redelivered batch is skipped instead of
  * double-counted (the standard foreachBatch exactly-once recipe,
  * applied to driver state).
  *
  * On top of the primitive this format prefixes the payload with its
  * length, and the reader treats a short/torn file (a lost block, a
  * foreign tool truncating it) as a LOUD error naming the file:
  * resuming "fresh" over a half-lost accumulator would silently
  * corrupt it — the operator must either restore the file or wipe
  * the stateDir together with the checkpoint.
  *
  * Deliberately java.io, not a Spark write: the state is a few dozen
  * longs — a per-batch Spark job to persist it would cost more than
  * the batch. A multi-driver deployment would put the same bytes in
  * its coordination store; single-writer is the foreachBatch
  * contract either way. */
private[streaming] object DriverState {

  def writeAtomic(path: Path)(w: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream(256)
    val out = new DataOutputStream(buf)
    out.writeInt(0) // length prefix, patched below
    w(out); out.flush()
    val bytes = buf.toByteArray
    java.nio.ByteBuffer.wrap(bytes).putInt(bytes.length - 4)
    graft.core.Fs.publishFile(path, bytes, replace = true)
  }

  def read[T](path: Path)(r: DataInputStream => T): Option[T] =
    if (!Files.exists(path)) None
    else {
      val bytes =
        try Files.readAllBytes(path)
        catch { case e: java.io.IOException =>
          throw new IllegalStateException(s"unreadable driver state at $path", e)
        }
      def torn(cause: Throwable): Nothing = throw new IllegalStateException(
        s"torn/corrupt driver state at $path (${bytes.length} bytes) — " +
          "restore the file or wipe the stateDir together with the checkpoint",
        cause)
      if (bytes.length < 4) torn(null)
      val declared = java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt
      if (declared != bytes.length - 4) torn(null)
      val in = new DataInputStream(new ByteArrayInputStream(bytes, 4, declared))
      try Some(r(in))
      catch {
        case e: EOFException => torn(e)
        case e: UTFDataFormatException => torn(e)
      } finally in.close()
    }
}
