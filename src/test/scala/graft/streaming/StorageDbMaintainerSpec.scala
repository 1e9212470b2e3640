package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.{FilesRead, JobCounter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.core.{Bytes, Fs}
import graft.expressions.MappingLeafCommitExpr
import graft.pipeline.{Fixtures, ZkPipeline}
import graft.sources.VersionedTable

class StorageDbMaintainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // the program's session: the maintainer runs under the optimizer
    // configuration it ships with
    spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[String] = df.collect().map { r =>
    r.schema.fieldNames.map(f => r.getAs[Any](f) match {
      case b: Array[Byte] => Bytes.toHex(b)
      case v => String.valueOf(v)
    }).mkString("|")
  }.sorted.toSeq

  test("a resubmitted group commits through merge: equals a full rebuild, reading only the dirty buckets") {
    val cfg = Fixtures.Cfg(nBlocks = 4)
    val all = Fixtures.entriesSeq(cfg)
    val changedBlock = cfg.firstBlock + 2
    def mutated(e: Fixtures.Entry): Boolean =
      e.block_number == changedBlock && Bytes.toHex(e.contract) == Bytes.toHex(Fixtures.contractAddr(0))
    def mutate(e: Fixtures.Entry): Fixtures.Entry =
      if (mutated(e) && Bytes.beLong(e.mapping_key.takeRight(4)) == 2L)
        e.copy(value = Bytes.leftPad32(Array[Byte](0x13))) else e
    val delta = all.filter(mutated).map(mutate)

    val dir = java.nio.file.Files.createTempDirectory("sdb_maint").toString
    try {
      val keys = Seq("block_number", "contract")
      val maintainer = new StorageDbMaintainer(spark, dir)
      maintainer.processBatch(spark.createDataFrame(all), 0L)
      val (_, read) = FilesRead.of(spark)(maintainer.processBatch(spark.createDataFrame(delta), 1L))

      assert(maintainer.currentVersion().contains("v000001"))
      assert(rows(maintainer.current().get) ==
        rows(ZkPipeline.storageDb(spark.createDataFrame(all.map(mutate)))))

      // the second commit reads the base version's files of the dirty
      // buckets only — never the whole table
      val table = new VersionedTable(spark, dir)
      val dirty = spark.createDataFrame(delta).select(table.bucketCol(keys)).distinct()
        .collect().map(_.getInt(0)).toSet
      val populated = table.read(Some(0)).get.select(table.bucketCol(keys)).distinct().count()
      val bucketOf = """.*/__bucket=(\d+)/[^/]+$""".r
      val readBuckets = read.map {
        case bucketOf(b) => b.toInt
        case f => fail(s"read a file outside the bucket layout: $f")
      }
      assert(dirty.size == 1 && populated > 1, s"fixture: dirty $dirty of $populated buckets")
      assert(readBuckets == dirty, s"read buckets $readBuckets, dirty $dirty")
    } finally Fs.deleteRecursively(new java.io.File(dir))
  }

  test("an append of new blocks reads and writes only the new blocks' buckets") {
    val cfg = Fixtures.Cfg(nBlocks = 10)
    val all = Fixtures.entriesSeq(cfg)
    val newBlocks = Set(cfg.firstBlock + 8, cfg.firstBlock + 9)
    val (appended, base) = all.partition(e => newBlocks(e.block_number))

    val dir = java.nio.file.Files.createTempDirectory("sdb_append").toString
    try {
      val maintainer = new StorageDbMaintainer(spark, dir)
      maintainer.processBatch(spark.createDataFrame(base), 0L)
      val (_, read) = FilesRead.of(spark)(maintainer.processBatch(spark.createDataFrame(appended), 1L))
      assert(maintainer.currentVersion().contains("v000001"))
      assert(rows(maintainer.current().get) == rows(ZkPipeline.storageDb(spark.createDataFrame(all))))

      // the buckets blocks' numbers hash into, at most one per block
      def bucketsOf(es: Seq[Fixtures.Entry]): Set[Int] = spark.createDataFrame(es)
        .select(pmod(xxhash64(col("block_number")), lit(16L)).cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
      val newBuckets = bucketsOf(appended)
      val bucketOf = """.*/__bucket=(\d+)/[^/]+$""".r
      val readBuckets = read.map {
        case bucketOf(b) => b.toInt
        case f => fail(s"read a file outside the bucket layout: $f")
      }
      // the append reads the base rows that share a new block's bucket,
      // and nothing else
      val shared = newBuckets intersect bucketsOf(base)
      assert(shared.nonEmpty, s"fixture: no base block shares a bucket with $newBuckets")
      assert(readBuckets == shared, s"read buckets $readBuckets, new blocks' buckets $newBuckets")
      val written = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("v000001-")).toSeq
      assert(written.size == 1, s"data directories of v1: $written")
      val writtenBuckets = java.nio.file.Files.list(written.head).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("__bucket=")).toSeq
      assert(writtenBuckets.size <= 2, s"the append wrote buckets $writtenBuckets")
    } finally Fs.deleteRecursively(new java.io.File(dir))
  }

  test("a batch of driver rows keeps its commitment kernel in the plan, not in the optimizer") {
    val entries = spark.createDataFrame(Fixtures.entriesSeq(Fixtures.Cfg(nBlocks = 2)))
    val plan = ZkPipeline.storageDb(entries).queryExecution.optimizedPlan
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[MappingLeafCommitExpr]))),
      s"the optimizer evaluated mapping_leaf_commit on the driver:\n$plan")
  }

  test("an empty batch of driver rows submits no job and commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("sdb_empty").toString
    try {
      val maintainer = new StorageDbMaintainer(spark, dir)
      val empty = spark.createDataFrame(Seq.empty[Fixtures.Entry])
      val (_, jobs) = JobCounter.count(spark.sparkContext)(maintainer.processBatch(empty, 0L))
      assert(jobs == 0, s"$jobs jobs for an empty batch")
      assert(maintainer.currentVersion().isEmpty)
    } finally Fs.deleteRecursively(new java.io.File(dir))
  }
}
