package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.core.Fs

/** StreamingNearDup contract: exact/near/keep gate semantics in
  * arrival order, verdicts independent of micro-batch boundaries
  * (1 batch ≡ 3 batches ≡ a real foreachBatch stream), replayed
  * batches idempotent (same verdicts, no duplicate store rows, no new
  * generation), batches straddling the store's mark refused, and store
  * probes pruned at the partition-directory level. */
object StreamingNearDupSpec {
  final case class ND(doc_id: Long, seq: Long, h: String, simhash: String)
}

class StreamingNearDupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  import StreamingNearDupSpec.ND

  private def flip(sig: String, positions: Int*): String =
    positions.foldLeft(sig) { (acc, p) =>
      acc.updated(p, if (acc(p) == '0') '1' else '0')
    }

  private val sigA = "0" * 32
  private val sigB = "1" * 16 + "0" * 16
  private val sigD = "01" * 16
  private val sigE = "0011" * 8

  // corpus: doc 1 (sigA, h1). batch0: 10 exact-dup of 1; 20 within 2
  // flips of A; 30 a fresh signature B; 40 exact-dup of 30 (batch-
  // local, later seq); 50 four flips of B in ONE block (block-mate
  // candidate, hamming 4 — must be filtered to keep). batch1: 60
  // three flips of B (near-dup of 30 through the store; 7 from 50);
  // 70 exact-dup of corpus doc 1.
  private val corpus = Seq(ND(1L, -100L, "h1", sigA))
  private val batch0 = Seq(
    ND(10L, 10L, "h1", sigD),
    ND(20L, 20L, "h20", flip(sigA, 0, 1)),
    ND(30L, 30L, "h30", sigB),
    ND(40L, 40L, "h30", sigE),
    ND(50L, 50L, "h50", flip(sigB, 0, 1, 2, 3)))
  private val batch1 = Seq(
    ND(60L, 60L, "h60", flip(sigB, 8, 9, 10)),
    ND(70L, 70L, "h1", sigD))
  private val expected = Map(
    10L -> ("exact_dup", 1L),
    20L -> ("near_dup", 1L),
    30L -> ("keep", -1L),
    40L -> ("exact_dup", 30L),
    50L -> ("keep", -1L),
    60L -> ("near_dup", 30L),
    70L -> ("exact_dup", 1L))

  private def df(rows: Seq[ND]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  private def verdictMap(v: DataFrame): Map[Long, (String, Long)] =
    v.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  private def withRoot(f: String => Unit): Unit = {
    val root = Files.createTempDirectory("neardup_spec").toString
    try f(root)
    finally Fs.deleteRecursively(new java.io.File(root))
  }

  private def generation(root: String): Fs.Generation = Fs.currentGeneration(Paths.get(root)).get

  /** every file under `root` with its size. */
  private def filesUnder(root: String): Seq[(String, Long)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toSeq.sorted
    finally walk.close()
  }

  test("gate semantics in arrival order; replay is idempotent; probes prune") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      assert(generation(root) == Fs.Generation(1, "-100"), "bootstrap marks the corpus's largest seq")
      val v0 = verdictMap(StreamingNearDup.processBatch(spark, df(batch0), root))
      val v1 = verdictMap(StreamingNearDup.processBatch(spark, df(batch1), root))
      assert(v0 ++ v1 == expected)
      // each batch publishes one generation marked with its largest seq
      val published = generation(root)
      assert(published == Fs.Generation(3, "70"))

      val sigRows = spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).count()
      val hashRows = spark.read.parquet(StreamingNearDup.storeDir(root, "hash")).count()
      assert(sigRows == (1 + 7) * 4 && hashRows == 1 + 7)

      // replayed batches: identical verdicts (a batch's own first-run
      // rows sit at EQUAL seq and are ignored), zero new store rows,
      // and no publish — the generation number does not move
      val r1 = verdictMap(StreamingNearDup.processBatch(spark, df(batch1), root))
      assert(r1 == verdictMap(StreamingNearDup.processBatch(spark, df(batch1), root)) && r1 == v1)
      assert(verdictMap(StreamingNearDup.processBatch(spark, df(batch0), root)) == v0)
      assert(generation(root) == published, "a replay must not publish")
      assert(spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).count() == sigRows)
      assert(spark.read.parquet(StreamingNearDup.storeDir(root, "hash")).count() == hashRows)

      // the probe's bucket filter must hit the partition layout — a
      // post-scan filter would mean every batch reads the whole store.
      // The assertion matches a POPULATED PartitionFilters list naming
      // bucket (an empty list prints 'PartitionFilters: []' and would
      // also contain both substrings — vacuously)
      val plan = StreamingNearDup.probeStore(spark, StreamingNearDup.storeDir(root, "sig"), Seq(0, 1, 2),
          StreamingNearDup.SigSchema)
        .queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*bucket[^\]]*IN""".r.findFirstIn(plan).isDefined,
        plan.take(1500))
    }
  }

  test("verdicts are independent of micro-batch boundaries: one batch == two") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      val one = verdictMap(StreamingNearDup.processBatch(spark, df(batch0 ++ batch1), root))
      assert(one == expected)
    }
  }

  test("compactStore: one file per bucket, content preserved, gate unchanged") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      StreamingNearDup.processBatch(spark, df(batch0), root)
      def files(sub: String): Seq[Int] =
        new java.io.File(StreamingNearDup.storeDir(root, sub)).listFiles().filter(_.isDirectory)
          .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
      val before = spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).collect().map(_.toString).sorted.toSeq
      // corpus doc 1 and batch0's near-dups share blocks, so shared
      // bucket dirs hold a bootstrap file AND a batch file
      assert(files("sig").exists(_ > 1))
      StreamingNearDup.compactStore(spark, root)
      assert(generation(root).payload == "50", "compaction carries the mark forward")
      assert(files("sig").forall(_ <= 1) && files("hash").forall(_ <= 1))
      val after = spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).collect().map(_.toString).sorted.toSeq
      assert(after == before)
      val v1 = verdictMap(StreamingNearDup.processBatch(spark, df(batch1), root))
      assert(v1 == batch1.map(d => d.doc_id -> expected(d.doc_id)).toMap)
    }
  }

  test("foreachBatch stream over MemoryStream matches the batch loop") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      val s = spark
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val es = MemoryStream[ND]
      val ckpt = Files.createTempDirectory("neardup_ckpt").toString
      val q = es.toDS().toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(StreamingNearDup.sinkBatch(root) _)
        .start()
      try {
        es.addData(batch0); q.processAllAvailable()
        es.addData(batch1); q.processAllAvailable()
      } finally {
        q.stop()
        Fs.deleteRecursively(new java.io.File(ckpt))
      }
      assert(verdictMap(spark.read.parquet(s"$root/verdicts")) == expected)
      // a redelivered micro-batch overwrites its own batch_id
      // partition — no duplicate verdict rows after a sink replay
      StreamingNearDup.sinkBatch(root)(df(batch1).toDF(), 1L)
      val v = spark.read.parquet(s"$root/verdicts")
      assert(v.count() == expected.size && verdictMap(v) == expected)
    }
  }

  test("killed JVM mid-stream: restart from checkpoint redelivers, stores stay idempotent") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      val s = spark
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val ckpt = Files.createTempDirectory("neardup_kill_ckpt").toString
      try {
        val es = MemoryStream[ND]
        def startQuery() = es.toDS().toDF()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch(StreamingNearDup.sinkBatch(root) _)
          .start()
        val q1 = startQuery()
        es.addData(batch0); q1.processAllAvailable() // batch 0 committed
        es.addData(batch1)
        q1.stop() // the kill: batch 1 offsets exist, commit may be missing
        // the crash window: the first attempt's SINK write landed
        // (stores published, verdicts written) but the checkpoint never
        // committed — the restarted stream WILL redeliver batch 1
        StreamingNearDup.sinkBatch(root)(df(batch1), 1L)
        val sigRows = spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).count()
        val hashRows = spark.read.parquet(StreamingNearDup.storeDir(root, "hash")).count()

        val q2 = startQuery() // the restart, same checkpoint
        try q2.processAllAvailable() finally q2.stop()

        // redelivery must change nothing: same verdicts, zero new
        // store rows — the uninterrupted run's counts exactly
        assert(verdictMap(spark.read.parquet(s"$root/verdicts")) == expected)
        assert(spark.read.parquet(StreamingNearDup.storeDir(root, "sig")).count() == sigRows)
        assert(spark.read.parquet(StreamingNearDup.storeDir(root, "hash")).count() == hashRows)
        assert(sigRows == (1 + 7) * 4 && hashRows == 1 + 7,
          "post-restart stores must hold exactly the uninterrupted run's rows")
      } finally Fs.deleteRecursively(new java.io.File(ckpt))
    }
  }

  test("a batch straddling the store's mark is refused before anything is written") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      StreamingNearDup.processBatch(spark, df(batch0), root)
      val gen = generation(root)
      val files = filesUnder(root)
      // seq 45 is at or below the mark 50, seq 60 and 70 above it
      val straddle = df(ND(45L, 45L, "h45", sigE) +: batch1)
      val e = intercept[StreamingNearDup.OutOfOrderBatch](StreamingNearDup.processBatch(spark, straddle, root))
      assert(e.getMessage.contains(root), e.getMessage)
      assert(generation(root) == gen && gen.payload == "50")
      assert(filesUnder(root) == files)
      // the stream goes on from the unchanged store
      assert(verdictMap(StreamingNearDup.processBatch(spark, df(batch1), root)) ==
        batch1.map(d => d.doc_id -> expected(d.doc_id)).toMap)
    }
  }

  test("a store whose generation carries no seq mark is refused") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      Fs.publishFile(Paths.get(root, "CURRENT"), "1\n\n".getBytes("UTF-8"), replace = true)
      val files = filesUnder(root)
      val e = intercept[IllegalStateException](StreamingNearDup.processBatch(spark, df(batch0), root))
      assert(e.getMessage.contains(root) && e.getMessage.contains("no seq mark"), e.getMessage)
      intercept[IllegalStateException](StreamingNearDup.compactStore(spark, root))
      assert(filesUnder(root) == files)
    }
  }

  test("a micro-batch submits no more Spark jobs than it did with presence-checked appends") {
    withRoot { root =>
      StreamingNearDup.bootstrap(df(corpus), root)
      val (_, jobs) = JobCounter.count(spark.sparkContext)(StreamingNearDup.processBatch(spark, df(batch0), root))
      // 22-23 with the two presence anti-joins and their store persists,
      // 17 with one publish; one job of slack for adaptive re-planning
      assert(jobs <= 18, s"processBatch submitted $jobs jobs")
    }
  }
}
