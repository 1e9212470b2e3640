package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs

/** Bench keeps one-time work out of its samples by observing
  * [[Fs.buildCount]]: a fake query whose first run builds a store
  * through [[Fs.buildOnce]] is timed only on runs that built nothing. */
class BenchSamplingSpec extends AnyFunSuite {

  private def withDir(f: Path => Unit): Unit = {
    val d = Files.createTempDirectory("bench_sampling")
    try f(d) finally Fs.deleteRecursively(d.toFile)
  }

  /** a fake query: `build` ms of one-time work when `store` is missing,
    * then 5 ms of serving; returns its wall in seconds. */
  private def query(store: => Path, buildMs: Long): () => Double = () => {
    val t0 = System.nanoTime()
    Fs.buildOnce(store) { tmp => Files.createDirectories(tmp); Thread.sleep(buildMs) }
    Thread.sleep(5)
    (System.nanoTime() - t0) / 1e9
  }

  test("a run that built a store is discarded; the samples time runs that built nothing") {
    withDir { d =>
      val r = Bench.sample("fake", query(d.resolve("store"), buildMs = 800))
      assert(r.builds.size == 1 && r.builds.head >= 0.8, s"the build run is recorded apart: $r")
      assert(r.runs.size == 3, s"a sub-3 s query keeps the median-of-3 rule: $r")
      assert(r.runs.forall(t => t > 0 && t < 0.5) && r.value < 0.5, s"no sample includes the build: $r")
    }
  }

  test("a query that builds on two runs in a row is recorded as failed") {
    withDir { d =>
      var n = 0
      val r = Bench.sample("fake", query({ n += 1; d.resolve(s"store$n") }, buildMs = 1))
      assert(r.value < 0 && r.builds.size == 1, s"$r")
    }
  }
}
