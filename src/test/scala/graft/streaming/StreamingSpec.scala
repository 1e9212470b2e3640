package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bytes, Commitments}
import graft.pipeline.Fixtures

/** St1–St4 behavior under a real Structured Streaming run
  * (MemoryStream micro-batches → foreachBatch appender). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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

  test("St1 at scale: 2k-block append via O(log n) frontier, bit-equal to batch root") {
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
    // persisted frontier is the logarithmic spine, not the history
    val spine = java.nio.file.Files.readString(java.nio.file.Paths.get(sink, "_frontier.txt"))
    assert(spine.count(_ == ':') <= 15, s"spine entries: ${spine.count(_ == ':')}")

    // crash recovery: a fresh appender with a deleted frontier file must
    // rebuild from the sink and keep appending bit-identically
    java.nio.file.Files.delete(java.nio.file.Paths.get(sink, "_frontier.txt"))
    val recovered = new BlockDbAppender(spark, sink, tmp("bdb-scale-quar2"))
    recovered.processBatch(
      Seq((n.toLong, bh(n), sr(n))).toDF("block_number", "block_hash", "state_root"), 99L)
    val after = spark.read.parquet(sink).orderBy("block_number").collect()
    assert(after.length == n + 1)
    assert(after.last.getAs[String]("root_after_hex") ==
      Bytes.toHex(Commitments.merkleRoot(allLeaves :+ Commitments.blockLeafHash(n.toLong, bh(n), sr(n)))))
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
    val maintainer = new StorageDbMaintainer(spark, tmp("sdb-jobs"))
    val (early, late) = all.partition(_.block_number < cfg.firstBlock + 2)
    maintainer.processBatch(spark.createDataFrame(early), 0L)
    maintainer.processBatch(spark.createDataFrame(late), 1L)
    // the version's schema comes from the commits that wrote it — no
    // footer-read job per bucket directory before the first action
    val (snap, jobs) = JobCounter.count(spark.sparkContext)(maintainer.current().get)
    assert(jobs == 0, s"$jobs jobs to build current()")
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
