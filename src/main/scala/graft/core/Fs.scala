package graft.core

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Filesystem helpers shared by every on-disk store, and the ONE
  * publish primitive every commit point is built on ([[publishFile]]);
  * a guard spec keeps raw renames out of the rest of the tree.
  * Multi-directory stores that take writes — the IVF store (also
  * behind the streaming vector-index maintainer), the graph-ANN store
  * and the near-dup gate — publish through a generation pointer
  * ([[publishGeneration]]): `root/CURRENT` names the live generation
  * `root/g<N>/` plus one caller payload line, so a whole store switches
  * with a single rename and a crash at any step leaves the old
  * generation live — no recovery step ever runs on read. One writing
  * handle per root. A published generation is never written again, so
  * every write publishes a new generation and carries unchanged data
  * over from the live one with [[linkTree]] (hard links: no data copy).
  * Build-once stores ([[buildOnce]]: the committed query stores, the
  * fixture dumps, the quantizer cache's entries) are built whole in a
  * temp directory and renamed into place, so their directory existing
  * means the build finished.
  */
object Fs {

  /** best-effort recursive delete of our own temp trees. A directory
    * SYMLINK is deleted as a link, never followed — `listFiles` on a
    * link returns the TARGET's children, so recursing would delete
    * data outside the tree (e.g. a tmpdir on a symlinked mount). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** spec hook: called before each [[publishFile]] step (`write`,
    * `force`, `move`); a fault-injection spec makes it throw. */
  @volatile private[graft] var beforeStep: String => Unit = _ => ()

  /** Atomically publish `bytes` at `path`: a hidden temp file in the
    * same directory is written, forced to disk, then moved into place,
    * so a reader sees the previous complete file or the next one —
    * never an empty or torn one. With `replace = false` an existing
    * `path` fails the publish with `FileAlreadyExistsException`, so one
    * of several racing writers wins. (An atomic rename replaces an
    * existing file on Linux; `link(2)` is just as atomic and refuses
    * an existing name.) */
  def publishFile(path: Path, bytes: Array[Byte], replace: Boolean): Unit = {
    val dir = Files.createDirectories(path.toAbsolutePath.getParent)
    val tmp = Files.createTempFile(dir, s".${path.getFileName}.", ".tmp")
    try {
      beforeStep("write")
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        beforeStep("force")
        ch.force(true)
      } finally ch.close()
      beforeStep("move")
      if (replace) Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else Files.createLink(path, tmp)
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Rename the complete directory `tmp` onto `target`, which must not
    * exist yet. False if `target` exists (another builder won the
    * race); `tmp` is then discarded. */
  def publishDir(tmp: Path, target: Path): Boolean =
    try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
    catch {
      case _: java.io.IOException if Files.exists(target) =>
        deleteRecursively(tmp.toFile); false
    }

  /** Build-once directory: if `target` exists it is complete and
    * nothing runs. Otherwise `build` creates and fills a fresh sibling
    * path, which [[publishDir]] renames onto `target` — a reader never
    * sees a half-built directory, a failed build leaves no temp behind,
    * and the loser of a cross-process race discards its copy. Builds
    * in one JVM are serialized and counted ([[buildCount]]). Every
    * one-time build behind a registry query goes through here — the
    * committed ANN stores, the quantizer cache, the zk fixture dumps
    * and the versioned-table fixtures — so a caller that sees the
    * count move knows one-time work ran (how [[graft.Bench]] keeps it
    * out of a timed sample). */
  def buildOnce(target: Path)(build: Path => Unit): Unit = buildLock.synchronized {
    if (!Files.exists(target)) {
      builds += 1
      val tmp = target.resolveSibling(s"${target.getFileName}.tmp-${ProcessHandle.current().pid()}")
      deleteRecursively(tmp.toFile)
      try build(tmp)
      catch { case t: Throwable => deleteRecursively(tmp.toFile); throw t }
      publishDir(tmp, target): Unit
    }
  }
  private object buildLock
  @volatile private var builds = 0L

  /** builds [[buildOnce]] has started in this JVM, failed ones
    * included; a directory that already exists is not counted. */
  def buildCount: Long = builds

  /** Hard-link every file under `from` whose path relative to `from`
    * passes `keep` to the same relative path under `to`, creating
    * directories as needed: an immutable file joins a new generation
    * without copying its data. */
  def linkTree(from: Path, to: Path)(keep: Path => Boolean): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val rel = from.relativize(f)
      if (keep(rel)) {
        val dst = to.resolve(rel)
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, f)
      }
    } finally walk.close()
  }

  /** a store root's live generation: number and payload line. */
  final case class Generation(n: Long, payload: String) {
    def dir(root: Path): Path = root.resolve(s"g$n")
  }

  /** the generation `root/CURRENT` points at; None if never published. */
  def currentGeneration(root: Path): Option[Generation] = {
    val p = root.resolve("CURRENT")
    if (!Files.exists(p)) None
    else Files.readString(p, UTF_8).split("\n", -1) match {
      case Array(n, payload, "") if n.nonEmpty && n.forall(_.isDigit) => Some(Generation(n.toLong, payload))
      case _ => throw new IllegalStateException(s"unreadable generation pointer at $p")
    }
  }

  /** Publish a new generation of `root`: `write` fills the empty
    * directory `g<N+1>` (reading the live one meanwhile, if it likes)
    * and returns the payload; the pointer swaps to it and every other
    * generation is deleted — a leftover of a publish that died before
    * its swap included. Single writer per root; readers of the replaced
    * generation must be drained first. */
  def publishGeneration(root: Path)(write: Path => String): Generation = {
    val n = currentGeneration(root).fold(1L)(_.n + 1)
    val dir = Generation(n, "").dir(root)
    deleteRecursively(dir.toFile)
    Files.createDirectories(dir)
    val next = Generation(n, write(dir))
    require(!next.payload.contains('\n'), "the payload is one line")
    publishFile(root.resolve("CURRENT"), s"$n\n${next.payload}\n".getBytes(UTF_8), replace = true)
    root.toFile.listFiles().filter(f => f.getName.matches("g\\d+") && f.getName != s"g$n")
      .foreach(deleteRecursively)
    next
  }
}
