package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.core.{Bytes, Commitments}
import graft.pipeline.Fixtures

/** St1–St4 behavior under a real Structured Streaming run
  * (MemoryStream micro-batches → foreachBatch appender). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // the program's session: the appender and the maintainer run under
    // the optimizer configuration they ship with
    spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("St1-St3: sequential appends accepted across micro-batches; IVC root matches golden") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg(nBlocks = 6)
    val headers = Fixtures.headersSeq(cfg)
    val states = Fixtures.goldenStateDb(cfg)
    val events = headers.map(h => (h.block_number, h.block_hash, states(h.block_number)))

    val stream = MemoryStream[(Long, Array[Byte], Array[Byte])]
    val sink = tmp("bdb-sink")
    val quarantine = tmp("bdb-quar")
    val appender = new BlockDbAppender(spark, sink, quarantine)
    val q = appender.start(
      stream.toDF().toDF("block_number", "block_hash", "state_root"), tmp("bdb-ckpt"))

    stream.addData(events.take(3))
    q.processAllAvailable()
    stream.addData(events.drop(3))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(sink).orderBy("block_number").collect()
    assert(rows.map(_.getAs[Long]("block_number")).toSeq == headers.map(_.block_number))
    val (goldenLeaves, goldenRoot) = Fixtures.goldenBlockDb(cfg)
    assert(rows.map(_.getAs[String]("leaf_hash_hex")).toSeq == goldenLeaves.map(Bytes.toHex))
    assert(rows.last.getAs[String]("root_after_hex") == Bytes.toHex(goldenRoot))
    // root_after at step k is the root of the first k+1 leaves (IVC carry)
    val midRoot = Commitments.merkleRoot(goldenLeaves.take(3).toIndexedSeq)
    assert(rows(2).getAs[String]("root_after_hex") == Bytes.toHex(midRoot))
    val quarFiles = Files.list(java.nio.file.Paths.get(quarantine))
    try assert(!quarFiles.anyMatch(f => f.getFileName.toString.endsWith(".parquet")))
    finally quarFiles.close()
  }

  test("St2/St4: gaps, duplicates and reorders are quarantined, stream survives") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg(nBlocks = 6)
    val headers = Fixtures.headersSeq(cfg)
    val states = Fixtures.goldenStateDb(cfg)
    def ev(i: Int) = { val h = headers(i); (h.block_number, h.block_hash, states(h.block_number)) }

    val stream = MemoryStream[(Long, Array[Byte], Array[Byte])]
    val sink = tmp("bdb-sink")
    val quarantine = tmp("bdb-quar")
    val appender = new BlockDbAppender(spark, sink, quarantine)
    val q = appender.start(
      stream.toDF().toDF("block_number", "block_hash", "state_root"), tmp("bdb-ckpt"))

    stream.addData(Seq(ev(0), ev(1)))
    q.processAllAvailable()
    // duplicate of block 1, and a gap (block 4 skips 2-3)
    stream.addData(Seq(ev(1), ev(4)))
    q.processAllAvailable()
    // the missing blocks arrive later -> 2 and 3 accepted, 4 accepted after them
    stream.addData(Seq(ev(2), ev(3), ev(4)))
    q.processAllAvailable()
    q.stop()

    val accepted = spark.read.parquet(sink).select("block_number").collect().map(_.getLong(0)).sorted
    assert(accepted.toSeq == headers.take(5).map(_.block_number))
    val quar = spark.read.parquet(quarantine).collect()
      .map(r => (r.getAs[Long]("block_number"), r.getAs[String]("reason")))
    assert(quar.contains((headers(1).block_number, "duplicate_or_reorder")))
    assert(quar.contains((headers(4).block_number, "gap")))
  }

  test("St1 at scale: 2k-block append, O(log n) frontier in the sink") {
    val s2 = spark
    import s2.implicits._
    val n = 2000
    def bh(i: Int) = graft.core.Keccak.keccak256(graft.core.Bytes.beBytes(i.toLong, 8))
    def sr(i: Int) = graft.core.Keccak.keccak256(graft.core.Bytes.beBytes(i.toLong + 1000000, 8))
    val sink = tmp("bdb-scale-sink")
    val appender = new BlockDbAppender(spark, sink, tmp("bdb-scale-quar"))

    // four direct micro-batches of 500 blocks each
    (0 until 4).foreach { b =>
      val batch = ((b * 500) until ((b + 1) * 500))
        .map(i => (i.toLong, bh(i), sr(i))).toDF("block_number", "block_hash", "state_root")
      appender.processBatch(batch, b.toLong)
    }

    val rows = spark.read.parquet(sink).orderBy("block_number").collect()
    assert(rows.length == n)
    val allLeaves = (0 until n).map(i => Commitments.blockLeafHash(i.toLong, bh(i), sr(i)))
    assert(rows.last.getAs[String]("root_after_hex") ==
      Bytes.toHex(Commitments.merkleRoot(allLeaves)))
    // each batch's last row carries the frontier: the logarithmic
    // spine, not the history
    val frontiers = rows.filter(_.getAs[String]("frontier_after") != null)
    assert(frontiers.map(_.getAs[Long]("block_number")).toSeq == Seq(499L, 999L, 1499L, 1999L))
    val spine = frontiers.last.getAs[String]("frontier_after")
    assert(spine.count(_ == ':') <= 15, s"spine entries: ${spine.count(_ == ':')}")
  }

  test("a restarted appender resumes from the sink; a replay is quarantined; a bad frontier is refused") {
    val s2 = spark
    import s2.implicits._
    val n = 40
    def bh(i: Int) = graft.core.Keccak.keccak256(graft.core.Bytes.beBytes(i.toLong, 8))
    def sr(i: Int) = graft.core.Keccak.keccak256(graft.core.Bytes.beBytes(i.toLong + 1000000, 8))
    def blocks(r: Range) = r.map(i => (i.toLong, bh(i), sr(i))).toDF("block_number", "block_hash", "state_root")
    def contents(sink: String) = spark.read.parquet(sink).collect().map(_.toString).sorted.toSeq
    def noStateFile(sink: String) =
      assert(!new java.io.File(sink).list().exists(_.startsWith("_frontier")), "no state file beside the sink")

    // one appender lifetime …
    val straight = tmp("bdb-straight-sink")
    val one = new BlockDbAppender(spark, straight, tmp("bdb-straight-quar"))
    one.processBatch(blocks(0 until 20), 0L)
    one.processBatch(blocks(20 until n), 1L)
    // … and a restart between the batches, where the stream redelivers
    // batch 0 (a crash after its append, before its checkpoint)
    val sink = tmp("bdb-resume-sink")
    val quar = tmp("bdb-resume-quar")
    new BlockDbAppender(spark, sink, quar).processBatch(blocks(0 until 20), 0L)
    noStateFile(sink)
    val restarted = new BlockDbAppender(spark, sink, quar)
    restarted.processBatch(blocks(0 until 20), 0L)
    restarted.processBatch(blocks(20 until n), 1L)
    assert(contents(sink) == contents(straight), "the restarted chain must equal the uninterrupted one")
    val replayed = spark.read.parquet(quar).select("block_number", "reason").as[(Long, String)].collect()
    assert(replayed.sorted.toSeq == (0L until 20L).map(_ -> "duplicate_or_reorder"))
    noStateFile(sink)

    // a newest row whose frontier does not hash to its root, and a
    // sink written without the column, are refused — nothing appended
    val wrong = graft.core.MerkleFrontier((0 until n - 1).map(i => Commitments.blockLeafHash(i.toLong, bh(i), sr(i))))
    val forged = tmp("bdb-forged-sink")
    spark.read.parquet(sink)
      .withColumn("frontier_after",
        when(col("block_number") === n - 1, lit(wrong.serialize)).otherwise(col("frontier_after")))
      .write.mode("overwrite").parquet(forged)
    val legacy = tmp("bdb-legacy-sink")
    spark.read.parquet(sink).drop("frontier_after").write.mode("overwrite").parquet(legacy)
    Seq(forged, legacy).foreach { bad =>
      val e = intercept[BlockDbAppender.UnresumableSink](
        new BlockDbAppender(spark, bad, tmp("bdb-bad-quar")).processBatch(blocks(n to n), 2L))
      assert(e.getMessage.contains(bad))
      assert(spark.read.parquet(bad).count() == n)
    }
  }

  test("a local batch's block-DB rows and quarantine are each written in one stage with one task") {
    val s2 = spark
    import s2.implicits._
    val cfg = Fixtures.Cfg(nBlocks = 4)
    val states = Fixtures.goldenStateDb(cfg)
    // blocks 0, 1, 3: block 3 leaves a gap and is quarantined
    val batch = Fixtures.headersSeq(cfg).filter(_.block_number != cfg.firstBlock + 2)
      .map(h => (h.block_number, h.block_hash, states(h.block_number)))
      .toDF("block_number", "block_hash", "state_root")
    val (sink, quarantine) = (tmp("bdb-sink"), tmp("bdb-quar"))
    val appender = new BlockDbAppender(spark, sink, quarantine)
    val (_, counts) = JobCounter.measure(spark.sparkContext)(appender.processBatch(batch, 0L))
    // one stage collects the batch, then one stage per written file
    assert(counts.stages.size == 3 && !counts.stages.exists(_.shuffle) &&
      counts.stages.drop(1).forall(_.tasks == 1), s"stages ${counts.stages}")
    def files(dir: String) = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(files(sink) == 1 && files(quarantine) == 1)
    assert(spark.read.parquet(sink).count() == 2 && spark.read.parquet(quarantine).count() == 1)
  }

  test("streaming storage-DB maintenance: incremental snapshots equal full rebuild") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    import graft.pipeline.{Fixtures, ZkPipeline}
    val cfg = Fixtures.Cfg(nBlocks = 4)
    val stream = MemoryStream[Fixtures.Entry]
    val base = tmp("sdb-maint")
    val maintainer = new StorageDbMaintainer(spark, base)
    val q = maintainer.start(stream.toDS().toDF(), tmp("sdb-ckpt"))

    val all = Fixtures.entriesSeq(cfg)
    // batch 1: everything as-is
    stream.addData(all)
    q.processAllAvailable()
    val v1 = maintainer.currentVersion().get
    // batch 2: one (block, contract) group resubmitted with a changed value
    val changedBlock = cfg.firstBlock + 2
    val delta = all
      .filter(e => e.block_number == changedBlock && Bytes.toHex(e.contract) == Bytes.toHex(Fixtures.contractAddr(0)))
      .map(e => if (Bytes.beLong(e.mapping_key.takeRight(4)) == 2L)
        e.copy(value = Bytes.leftPad32(Array[Byte](0x13))) else e)
    stream.addData(delta)
    q.processAllAvailable()
    q.stop()

    assert(maintainer.currentVersion().get != v1, "a new snapshot version was published")
    val mutatedAll = all.map(e =>
      if (e.block_number == changedBlock && Bytes.toHex(e.contract) == Bytes.toHex(Fixtures.contractAddr(0)) &&
        Bytes.beLong(e.mapping_key.takeRight(4)) == 2L)
        e.copy(value = Bytes.leftPad32(Array[Byte](0x13))) else e)
    val want = ZkPipeline.storageDb(spark.createDataset(mutatedAll).toDF()).collect()
      .map(r => (r.getAs[Long]("block_number"), Bytes.toHex(r.getAs[Array[Byte]]("contract"))) ->
        Bytes.toHex(r.getAs[Array[Byte]]("storage_root"))).toMap
    val got = maintainer.current().get.collect()
      .map(r => (r.getAs[Long]("block_number"), Bytes.toHex(r.getAs[Array[Byte]]("contract"))) ->
        Bytes.toHex(r.getAs[Array[Byte]]("storage_root"))).toMap
    assert(got == want)

    // CDC between the two maintained versions: exactly the one mutated
    // (block, contract) group surfaces, classified 'update' — the
    // downstream consumer re-proves only that group
    val changes = maintainer.diff(0, 1).collect()
    assert(changes.length == 1, changes.mkString(", "))
    val c = changes(0)
    assert(c.getAs[Long]("block_number") == changedBlock)
    assert(Bytes.toHex(c.getAs[Array[Byte]]("contract")) == Bytes.toHex(Fixtures.contractAddr(0)))
    assert(c.getAs[String]("change_type") == "update")
  }

  test("storage-DB maintainer: the committed snapshot is planned without a Spark job") {
    import graft.pipeline.{Fixtures, ZkPipeline}
    val cfg = Fixtures.Cfg(nBlocks = 4)
    val all = Fixtures.entriesSeq(cfg)
    val dir = tmp("sdb-jobs")
    val maintainer = new StorageDbMaintainer(spark, dir)
    val (early, late) = all.partition(_.block_number < cfg.firstBlock + 2)
    maintainer.processBatch(spark.createDataFrame(early), 0L)
    maintainer.processBatch(spark.createDataFrame(late), 1L)
    // the version's schema comes from the commits that wrote it — no
    // footer-read job per bucket directory before the first action —
    // and it lives in the manifest, so a restarted maintainer on the
    // same directory plans its snapshot without a job too
    val (snap, jobs) = JobCounter.count(spark.sparkContext)(maintainer.current().get)
    assert(jobs == 0, s"$jobs jobs to build current()")
    val (restarted, coldJobs) =
      JobCounter.count(spark.sparkContext)(new StorageDbMaintainer(spark, dir).current().get)
    assert(coldJobs == 0, s"$coldJobs jobs to build a fresh maintainer's current()")
    assert(restarted.schema == snap.schema)
    val want = ZkPipeline.storageDb(spark.createDataFrame(all))
    assert(snap.columns.toSeq == want.columns.toSeq)
    assert(snap.count() == want.count())
  }

  test("streaming windowed aggregation with watermark emits correct counts") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val stream = MemoryStream[(Timestamp, String, Double)]
    val agg = EventWindows.hourly(stream.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.outputMode("update").format("memory").queryName("win").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    stream.addData(Seq((t(10, 5), "click", 1.0), (t(10, 40), "click", 2.0), (t(11, 10), "view", 5.0)))
    q.processAllAvailable()
    stream.addData(Seq((t(11, 30), "view", 3.0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT window_start, event_type, n, total FROM win")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(rows.exists(r => r._1 == "2024-01-01 11:00:00.0" && r._2 == "view" && r._3 == 2L && r._4 == 8.0))
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark drops cross-batch dupes") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    // the streaming face of dd1 exact dedup: documents arriving as a
    // stream, identified by content hash; duplicates within the
    // watermark horizon are dropped with BOUNDED state (keys expire
    // past the watermark — at 100 TB/day the state store holds only
    // the horizon's keys, not history)
    val stream = MemoryStream[(Timestamp, String)]
    val dedup = stream.toDF().toDF("ts", "text")
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_hash")
    val q = dedup.writeStream.outputMode("append").format("memory").queryName("dedup").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    stream.addData(Seq((t(10, 0), "alpha"), (t(10, 1), "beta"), (t(10, 2), "alpha")))
    q.processAllAvailable()
    // same content arriving in a LATER micro-batch, still within the
    // watermark horizon → dropped
    stream.addData(Seq((t(10, 3), "alpha"), (t(10, 4), "gamma")))
    q.processAllAvailable()
    q.stop()

    val texts = spark.sql("SELECT text FROM dedup").collect().map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("alpha", "beta", "gamma"), texts.mkString(", "))
  }

  test("streaming session windows close on watermark and merge within the gap") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val stream = MemoryStream[(Timestamp, String)]
    val agg = stream.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("user"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("sessions").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // two events 10 min apart -> one session; a much later event
    // advances the watermark so the first session closes and emits
    stream.addData(Seq((t(10, 0), "alice"), (t(10, 10), "alice")))
    q.processAllAvailable()
    stream.addData(Seq((t(13, 0), "alice")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT session_start, user, n FROM sessions").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "alice", 2L)), rows.mkString(", "))
  }

  test("mapGroupsWithState: per-key sequence state accumulates across micro-batches") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    import StatefulSequence._
    val stream = MemoryStream[SeqEvent]
    val out = track(stream.toDS())
    val q = out.writeStream.outputMode("update").format("memory").queryName("seqstate").start()

    // key 1: 10,11,12 in order; key 2: 5 then a gap to 8
    stream.addData(Seq(SeqEvent(1, 10), SeqEvent(1, 11), SeqEvent(2, 5)))
    q.processAllAvailable()
    stream.addData(Seq(SeqEvent(1, 12), SeqEvent(2, 8)))
    q.processAllAvailable()
    q.stop()

    val last = spark.sql("SELECT key, max(n) AS n, max(gaps) AS gaps FROM seqstate GROUP BY key")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(last(1L) == ((3L, 0L)), "key 1: three in-order events, no gaps")
    assert(last(2L) == ((2L, 1L)), "key 2: two events with one gap")
  }

  test("flatMapGroupsWithState: sessions close on event-time timeout and emit once") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    import StatefulSessions._
    val stream = MemoryStream[Ev]
    val out = sessions(stream.toDS(), gapSeconds = 1800L)
    val q = out.writeStream.outputMode("append").format("memory").queryName("closed_sessions").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    stream.addData(Seq(Ev("alice", t(10, 0)), Ev("alice", t(10, 20))))
    q.processAllAvailable()
    // no session closed yet (watermark hasn't passed the deadline)
    assert(spark.sql("SELECT * FROM closed_sessions").count() == 0)
    // a much later event pushes the watermark past 10:20 + 30min
    stream.addData(Seq(Ev("bob", t(14, 0))))
    q.processAllAvailable()
    stream.addData(Seq(Ev("bob", t(14, 1))))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT key, start_s, end_s, n_events FROM closed_sessions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.contains(("alice", t(10, 0).getTime / 1000, t(10, 20).getTime / 1000, 2L)), rows.mkString(", "))
  }

  test("batch and streaming share the window plan (same results on static data)") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 4.0))
      .toDF("ts", "event_type", "value")
    val out = EventWindows.hourly(df).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n") == 2L)
  }
}
