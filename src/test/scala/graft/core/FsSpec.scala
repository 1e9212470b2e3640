package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one publish primitive: atomic file publish (replacing and
  * no-replace), the fault hook, the generation pointer, build-once
  * directories, hard-linked carry-over, and the guard that keeps raw
  * renames and in-place partition overwrites out of the source tree. */
class FsSpec extends AnyFunSuite {

  private def withDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("fs_spec")
    try f(d) finally Fs.deleteRecursively(d.toFile)
  }

  private def names(d: Path): Set[String] = {
    val ls = Files.list(d)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  private final class Injected(step: String) extends RuntimeException(s"injected fault at $step")

  /** run `body` with every publish failing at `step`. */
  private def failingAt(step: String)(body: => Unit): Unit = {
    Fs.beforeStep = s => if (s == step) throw new Injected(s)
    try intercept[Injected](body) finally Fs.beforeStep = _ => ()
  }

  test("publishFile: replace swaps content; no-replace refuses an existing name; no temp left") {
    withDir { d =>
      val p = d.resolve("LATEST")
      Fs.publishFile(p, "1".getBytes(UTF_8), replace = true)
      Fs.publishFile(p, "2".getBytes(UTF_8), replace = true)
      assert(Files.readString(p) == "2")
      val m = d.resolve("v000001.manifest")
      Fs.publishFile(m, "a".getBytes(UTF_8), replace = false)
      intercept[FileAlreadyExistsException] {
        Fs.publishFile(m, "b".getBytes(UTF_8), replace = false)
      }
      assert(Files.readString(m) == "a", "the first publisher's content survives")
      assert(names(d) == Set("LATEST", "v000001.manifest"), "temp files must not linger")
    }
  }

  test("publishFile: a fault at any step leaves the previous file intact and no temp behind") {
    withDir { d =>
      val p = d.resolve("state")
      Fs.publishFile(p, "old".getBytes(UTF_8), replace = true)
      for (step <- Seq("write", "force", "move")) {
        failingAt(step)(Fs.publishFile(p, "new".getBytes(UTF_8), replace = true))
        assert(Files.readString(p) == "old", s"fault at $step")
        assert(names(d) == Set("state"), s"fault at $step left ${names(d)}")
      }
      Fs.publishFile(p, "new".getBytes(UTF_8), replace = true)
      assert(Files.readString(p) == "new")
    }
  }

  test("generation pointer: publish swaps, drops other generations, survives a crashed publish") {
    withDir { root =>
      assert(Fs.currentGeneration(root).isEmpty)
      val g1 = Fs.publishGeneration(root) { g => Files.writeString(g.resolve("data"), "one"); "p1" }
      assert(g1 == Fs.Generation(1, "p1") && Fs.currentGeneration(root).contains(g1))
      // a publish that dies after filling its generation, before the swap
      failingAt("move") {
        Fs.publishGeneration(root) { g => Files.writeString(g.resolve("data"), "half"); "p2" }
      }
      assert(Fs.currentGeneration(root).contains(g1), "the old generation stays live")
      assert(Files.readString(g1.dir(root).resolve("data")) == "one")
      // the next publish clears the leftover g2 and replaces g1
      val g2 = Fs.publishGeneration(root) { g =>
        assert(names(g).isEmpty, "a new generation starts empty")
        Files.writeString(g.resolve("data"), "two"); "p2"
      }
      assert(g2 == Fs.Generation(2, "p2"))
      assert(names(root) == Set("CURRENT", "g2"))
      intercept[IllegalArgumentException](Fs.publishGeneration(root)(_ => "two\nlines"))
      assert(Fs.currentGeneration(root).contains(g2), "a refused payload publishes nothing")
      Files.writeString(root.resolve("CURRENT"), "2\n")
      intercept[IllegalStateException](Fs.currentGeneration(root))
    }
  }

  test("publishDir: the first complete directory wins; a loser's copy is discarded") {
    withDir { d =>
      def built(tag: String): Path = {
        val t = Files.createDirectories(d.resolve(s"store.tmp-$tag"))
        Files.writeString(t.resolve("_OK"), tag); t
      }
      val target = d.resolve("store")
      assert(Fs.publishDir(built("a"), target))
      assert(!Fs.publishDir(built("b"), target))
      assert(Files.readString(target.resolve("_OK")) == "a")
      assert(names(d) == Set("store"))
    }
  }

  test("buildOnce: builds a missing directory whole; an existing one is kept; a failed build leaves nothing") {
    withDir { d =>
      val target = d.resolve("store")
      intercept[IllegalStateException](Fs.buildOnce(target) { tmp =>
        Files.createDirectories(tmp).resolve("part").toFile.createNewFile()
        throw new IllegalStateException("build failed")
      })
      assert(names(d).isEmpty, "a failed build must leave no temp and no target")
      Fs.buildOnce(target)(tmp => Files.writeString(Files.createDirectories(tmp).resolve("part"), "a"))
      Fs.buildOnce(target)(_ => fail("an existing directory is complete; nothing rebuilds it"))
      assert(names(d) == Set("store") && Files.readString(target.resolve("part")) == "a")
    }
  }

  test("buildOnce: counts a build it starts, not a directory that already exists") {
    withDir { d =>
      val target = d.resolve("store")
      val before = Fs.buildCount
      Fs.buildOnce(target)(tmp => Files.createDirectories(tmp): Unit)
      assert(Fs.buildCount == before + 1, "a missing directory is built, and counted")
      Fs.buildOnce(target)(_ => fail("an existing directory is complete"))
      assert(Fs.buildCount == before + 1, "an existing directory is not a build")
      intercept[IllegalStateException](Fs.buildOnce(d.resolve("broken"))(_ =>
        throw new IllegalStateException("build failed")))
      assert(Fs.buildCount == before + 2, "a failed build still ran one-time work")
    }
  }

  test("linkTree: carries the kept files over by hard link, creating their directories") {
    withDir { d =>
      val from = d.resolve("g1")
      Files.createDirectories(from.resolve("bucket=0"))
      Files.createDirectories(from.resolve("bucket=1"))
      Files.writeString(from.resolve("bucket=0/a.parquet"), "a")
      Files.writeString(from.resolve("bucket=1/b.parquet"), "b")
      Files.writeString(from.resolve("_SUCCESS"), "")
      val to = d.resolve("g2")
      Fs.linkTree(from, to)(rel => rel.getNameCount > 1 && rel.getName(0).toString != "bucket=1")
      assert(names(to) == Set("bucket=0") && names(to.resolve("bucket=0")) == Set("a.parquet"))
      assert(Files.isSameFile(to.resolve("bucket=0/a.parquet"), from.resolve("bucket=0/a.parquet")))
    }
  }

  test("no raw rename outside Fs: every store publishes through the one primitive") {
    val src = Paths.get("src/main/scala")
    val fs = src.resolve("graft/core/Fs.scala")
    val banned = Seq("renameTo(", "Files.move(", "ATOMIC_MOVE")
    // an in-place partition overwrite is a second write path beside a
    // store's publish, and a swallowed RuntimeException or Throwable
    // hides a failed one — all banned everywhere, Fs included
    val bannedEverywhere = Seq("partitionOverwriteMode", "case _: RuntimeException => ()",
      "case _: Throwable => ()")
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if bannedEverywhere.exists(line.contains) || (p != fs && banned.exists(line.contains)) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList finally walk.close()
    assert(Files.exists(fs), "run from the project root")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
