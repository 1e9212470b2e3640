package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, SparkEntry}
import graft.core.Fs

/** The vt_* fixtures are build-once directories: after the first run
  * no query rebuilds them — not a second run in the same session, and
  * not a run from a new session — and every run returns the same rows. */
class VersionedTableFixtureSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private val rows = Seq("vt_merge", "vt_time_travel", "vt_scale_300k")

  private def runAll(spark: SparkSession): Map[String, Seq[Row]] =
    rows.map(n => n -> SparkEntry.queries(n)(spark, sf).collect().toSeq).toMap

  test("vt_merge / vt_time_travel / vt_scale_300k build once and re-serve identical rows") {
    val s1 = Graft.session("local[4]", 4)
    val (first, built, second) =
      try {
        val f = runAll(s1)
        val b = Fs.buildCount
        (f, b, runAll(s1))
      } finally s1.stop()
    assert(Fs.buildCount == built, "a second run in the same session rebuilt a fixture")
    assert(second == first)
    val s2 = Graft.session("local[4]", 4)
    val third = try runAll(s2) finally s2.stop()
    assert(Fs.buildCount == built, "a new session rebuilt a fixture instead of reopening it")
    assert(third == first)
    assert(first("vt_merge").nonEmpty && first("vt_time_travel").nonEmpty)
  }
}
