package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType,
  MetadataBuilder, ShortType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Transactional guarantees of the versioned sink: snapshot isolation,
  * optimistic single-winner commits, partition-level copy-on-write
  * (untouched buckets' files inherited, not rewritten), time travel,
  * and vacuum retention. */
class VersionedTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("versioned-table-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def df(rows: Seq[(Long, String, Long)]) = {
    val s2 = spark
    import s2.implicits._
    rows.toDF("k", "name", "v")
  }

  test("commit/read roundtrip; dirty-bucket copy-on-write inherits untouched files") {
    val dir = Files.createTempDirectory("vt").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    val v0 = t.commit(df((0L until 64L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)
    assert(v0 == 0 && t.currentVersion().contains(0))
    assert(t.read().get.count() == 64)

    // update ONE key: only its bucket is rewritten
    val hot = 7L
    val before = t.read().get.filter(col("k") === hot).head().getLong(2)
    val bucketOfHot = df(Seq((hot, "x", 0L)))
      .select(t.bucketCol(Seq("k"))).head().getInt(0)
    // full contents of that bucket with the update applied
    val bucketRows = t.read().get
      .withColumn("__b", t.bucketCol(Seq("k"))).filter(col("__b") === bucketOfHot).drop("__b")
      .withColumn("v", when(col("k") === hot, lit(777L)).otherwise(col("v")))
    val v1 = t.commit(bucketRows, Seq("k"), Some(0))
    assert(v1 == 1)
    assert(t.read().get.count() == 64)
    assert(t.read().get.filter(col("k") === hot).head().getLong(2) == 777L)
    assert(before != 777L)

    // manifest sharing: v1 inherits 7 of 8 bucket paths from v0
    val paths0 = t.readManifest(0).files.values.toSet
    val paths1 = t.readManifest(1).files.values.toSet
    assert((paths0 intersect paths1).size == paths0.size - 1, "exactly one bucket rewritten")
  }

  test("snapshot isolation + time travel: pinned reader unaffected by later commits") {
    val dir = Files.createTempDirectory("vt2").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df(Seq((1L, "a", 1L), (2L, "b", 2L))), Seq("k"), None)
    val pinned = t.read(Some(0)).get // resolve v0's files now
    t.commit(df(Seq((1L, "a", 100L), (2L, "b", 200L))), Seq("k"), Some(0))
    assert(t.read().get.agg(sum("v")).head().getLong(0) == 300L)
    assert(pinned.agg(sum("v")).head().getLong(0) == 3L, "pinned snapshot must not move")
    assert(t.read(Some(0)).get.agg(sum("v")).head().getLong(0) == 3L, "time travel to v0")
  }

  test("optimistic concurrency: stale base and duplicate version both lose") {
    val dir = Files.createTempDirectory("vt3").toString
    val t1 = new VersionedTable(spark, dir, nBuckets = 4)
    val t2 = new VersionedTable(spark, dir, nBuckets = 4)
    t1.commit(df(Seq((1L, "a", 1L))), Seq("k"), None)
    // writer 2 commits against base 0 first
    t2.commit(df(Seq((1L, "a", 2L))), Seq("k"), Some(0))
    // writer 1 still believes base is 0 → stale base detected
    intercept[VersionedTable.CommitConflict] {
      t1.commit(df(Seq((1L, "a", 3L))), Seq("k"), Some(0))
    }
    assert(t1.read().get.head().getLong(2) == 2L, "winner's data visible")
  }

  test("two writers past the base check race for one version: exactly one manifest wins") {
    val dir = Files.createTempDirectory("vt-race").toString
    val t1 = new VersionedTable(spark, dir, nBuckets = 4)
    val t2 = new VersionedTable(spark, dir, nBuckets = 4)
    t1.commit(df(Seq((1L, "a", 1L))), Seq("k"), None)
    // writer 2 commits v1 while writer 1, its base check passed and its
    // data written, is about to publish its own v1 manifest
    var raced = false
    graft.core.Fs.beforeStep = step => if (step == "move" && !raced) {
      raced = true
      t2.commit(df(Seq((1L, "a", 2L))), Seq("k"), Some(0))
    }
    try intercept[VersionedTable.CommitConflict] {
      t1.commit(df(Seq((1L, "a", 3L))), Seq("k"), Some(0))
    } finally graft.core.Fs.beforeStep = _ => ()
    assert(raced)
    assert(t1.currentVersion().contains(1))
    assert(t1.read().get.head().getLong(2) == 2L, "the winner's manifest must survive")
  }

  test("vacuum drops old versions' files but keeps the retained window readable") {
    val dir = Files.createTempDirectory("vt4").toString
    val t = new VersionedTable(spark, dir, nBuckets = 2)
    (0 until 4).foreach { i =>
      t.commit(df(Seq((1L, "a", i.toLong), (2L, "b", i.toLong))), Seq("k"),
        if (i == 0) None else Some(i - 1))
    }
    t.vacuum(keepVersions = 2)
    assert(t.read(Some(3)).get.count() == 2, "latest survives")
    assert(t.read(Some(2)).get.count() == 2, "retained version survives")
    intercept[Exception] { t.read(Some(0)).get.count() } // vacuumed away
  }

  test("vacuum with removeOrphans closes its directory listings: repeated calls hold no more descriptors") {
    val dir = Files.createTempDirectory("vt-fd").toString
    val t = new VersionedTable(spark, dir, nBuckets = 2)
    t.commit(df(Seq((1L, "a", 1L), (2L, "b", 2L))), Seq("k"), None)
    def openFds(): Int = {
      System.gc()
      val ls = Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try ls.count().toInt finally ls.close()
    }
    t.vacuum(1, removeOrphans = true)
    val before = openFds()
    (0 until 50).foreach(_ => t.vacuum(1, removeOrphans = true))
    val after = openFds()
    assert(after - before < 25, s"open descriptors went $before -> $after over 50 vacuums")
    assert(t.read().get.count() == 2)
  }

  test("merge: update + insert + delete by key, untouched buckets inherited") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt5").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    t.commit(df((0L until 64L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)
    val man0 = t.readManifest(0).files

    // update k=3, insert k=100, delete k=5
    val updates = Seq(
      (3L, "UPDATED", 999L, false),
      (100L, "NEW", 1L, false),
      (5L, "x", 0L, true),
    ).toDF("k", "name", "v", "del")
    t.merge(updates, Seq("k"), Some(0), deleteCol = Some("del"))

    val now = t.read().get
    assert(now.count() == 64, "64 - 1 delete + 1 insert")
    assert(now.filter(col("k") === 3L).head().getString(1) == "UPDATED")
    assert(now.filter(col("k") === 100L).count() == 1)
    assert(now.filter(col("k") === 5L).count() == 0)

    // copy-on-write held: buckets untouched by {3,100,5} kept their v0 paths
    val man1 = t.readManifest(1).files
    val inheritedCount = man1.count { case (b, p) => man0.get(b).contains(p) }
    assert(inheritedCount >= 5, s"expected most of 8 buckets inherited, got $inheritedCount:\n$man1")

    // time travel still sees the pre-merge row
    assert(t.read(Some(0)).get.filter(col("k") === 5L).count() == 1)
  }

  test("compact collapses per-bucket fragmentation; data identical") {
    val dir = Files.createTempDirectory("vt6").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    // 6 single-key commits fragment buckets across version dirs
    (0 until 6).foreach { i =>
      t.commit(df(Seq((i.toLong, s"n$i", i.toLong))), Seq("k"),
        if (i == 0) None else Some(i - 1))
    }
    assert(t.dataDirCount() > 1, "fragmented across version dirs")
    val before = t.read().get.collect().map(_.toSeq).sortBy(_.toString)
    val cv = t.compact(Seq("k"), Some(5))
    assert(t.dataDirCount() == 1, "one data dir after compaction")
    val after = t.read(Some(cv)).get.collect().map(_.toSeq).sortBy(_.toString)
    assert(before.sameElements(after))
  }

  test("diff classifies insert/delete/update and skips unchanged buckets") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt8").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    t.commit(df((0L until 64L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)
    val updates = Seq(
      (3L, "UPDATED", 999L, false), // update
      (100L, "NEW", 1L, false),     // insert
      (5L, "x", 0L, true),          // delete
      (7L, "n7", 70L, false),       // no-op rewrite: same values
    ).toDF("k", "name", "v", "del")
    t.merge(updates, Seq("k"), Some(0), deleteCol = Some("del"))

    val d = t.diff(Seq("k"), 0, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(d.toSeq == Seq(
      (3L, "UPDATED", 999L, "update"),
      (5L, "n5", 50L, "delete"),
      (100L, "NEW", 1L, "insert"),
    ), d.mkString(", "))
  }

  test("cdc emits both update images; delta application reproduces the new aggregate") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt_cdc").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    t.commit(df((0L until 64L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)
    val updates = Seq(
      (3L, "UPDATED", 999L, false),
      (100L, "NEW", 1L, false),
      (5L, "x", 0L, true),
      (7L, "n7", 70L, false), // no-op rewrite must emit NOTHING
    ).toDF("k", "name", "v", "del")
    t.merge(updates, Seq("k"), Some(0), deleteCol = Some("del"))

    val c = t.cdc(Seq("k"), 0, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._4))
    assert(c.toSeq == Seq(
      (3L, "UPDATED", 999L, "update_postimage"),
      (3L, "n3", 30L, "update_preimage"),
      (5L, "n5", 50L, "delete"),
      (100L, "NEW", 1L, "insert"),
    ), c.mkString(", "))

    // sum(v) maintained by signed delta application == recompute on v1
    val mv0 = t.read(Some(0)).get.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    val delta = t.cdc(Seq("k"), 0, 1)
      .select(when(col("change_type").isin("insert", "update_postimage"), col("v"))
        .otherwise(-col("v")).as("dv"))
      .agg(org.apache.spark.sql.functions.sum("dv")).head().getLong(0)
    val full = t.read(Some(1)).get.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    assert(mv0 + delta == full)
  }

  test("lookup reads only the probed keys' buckets and respects merge results") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt_lookup").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    t.commit(df((0L until 64L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)
    t.merge(Seq((3L, "UPDATED", 999L, false), (100L, "NEW", 1L, false), (5L, "x", 0L, true))
      .toDF("k", "name", "v", "del"), Seq("k"), Some(0), deleteCol = Some("del"))

    val probe = Seq(3L, 5L, 100L, 7L, 4096L).toDF("k")
    val got = t.lookup(probe, Seq("k")).get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((3L, "UPDATED", 999L), (7L, "n7", 70L), (100L, "NEW", 1L)))

    // a single-key probe must touch exactly one bucket directory;
    // 8 buckets exist — inputFiles exposes what the scan will read
    val one = Seq(7L).toDF("k")
    val dirsRead = t.lookup(one, Seq("k")).get.inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
    assert(dirsRead.size == 1, dirsRead.mkString(", "))

    // probing only absent keys returns an empty, schema-preserving frame
    val none = t.lookup(Seq(4096L).toDF("k"), Seq("k")).get
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "name", "v"))
  }

  test("additive schema evolution: merge introduces a column; reads, lookup, cdc all widen") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt_evolve").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 16L).map(i => (i, s"n$i", i * 10))), Seq("k"), None)

    // v1 updates carry a NEW column `tag`; only dirty buckets rewrite
    t.merge(Seq((3L, "UPD", 999L, "hot"), (100L, "NEW", 1L, "cold"))
      .toDF("k", "name", "v", "tag"), Seq("k"), Some(0))

    val v1 = t.read(Some(1)).get
    assert(v1.columns.contains("tag"))
    val byKey = v1.collect().map(r => r.getLong(0) -> r.getAs[String]("tag")).toMap
    assert(byKey(3L) == "hot" && byKey(100L) == "cold")
    assert(byKey(7L) == null, "inherited buckets read NULL for the new column")
    assert(v1.count() == 17)

    // time travel to v0 still shows the ORIGINAL schema
    assert(!t.read(Some(0)).get.columns.contains("tag"))

    // point lookup across mixed-schema buckets
    val got = t.lookup(Seq(3L, 7L).toDF("k"), Seq("k")).get
      .collect().map(r => r.getLong(0) -> r.getAs[String]("tag")).toMap
    assert(got == Map(3L -> "hot", 7L -> null))

    // cdc across the evolving step: post-images carry the new column,
    // pre-images read NULL for it
    val c = t.cdc(Seq("k"), 0, 1).collect()
      .map(r => (r.getLong(0), r.getAs[String]("tag"), r.getAs[String]("change_type")))
    assert(c.toSet == Set(
      (3L, null, "update_preimage"), (3L, "hot", "update_postimage"),
      (100L, "cold", "insert")))

    // lookup schema must NOT depend on which buckets were probed: a
    // probe hitting only inherited (old-schema) buckets still returns
    // the widened schema
    val oldOnly = t.lookup(Seq(7L).toDF("k"), Seq("k")).get
    assert(oldOnly.columns.contains("tag"))
    assert(oldOnly.collect().map(r => r.getAs[String]("tag")).toSeq == Seq(null))

    // merges must carry every EXISTING column — omitting one would
    // silently NULL it out in rewritten buckets; fail fast instead
    val thrown = intercept[IllegalArgumentException] {
      t.merge(Seq((3L, "X")).toDF("k", "name"), Seq("k"), Some(1))
    }
    assert(thrown.getMessage.contains("additive-only"))

    // …and may not RE-TYPE an existing column (narrowing long "v" to
    // int would make multi-dir read schemas depend on bucket order)
    val retyped = intercept[IllegalArgumentException] {
      t.merge(Seq((3L, "X", 3, "t")).toDF("k", "name", "v", "tag"), Seq("k"), Some(1))
    }
    assert(retyped.getMessage.contains("re-types"))

    // cross-domain re-type (long → float) is NOT a widening either:
    // long values above 2^24 silently lose precision as float
    val crossed = intercept[IllegalArgumentException] {
      t.merge(Seq((3L, "X", 3.0f, "t")).toDF("k", "name", "v", "tag"), Seq("k"), Some(1))
    }
    assert(crossed.getMessage.contains("re-types"))

    // compaction heals every bucket to the widened schema
    t.compact(Seq("k"), Some(1))
    val v2 = t.read(Some(2)).get
    assert(v2.columns.contains("tag") && v2.count() == 17)
  }

  test("a no-op merge yields an EMPTY cdc/diff delta, not an error") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt_noop").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 8L).map(i => (i, s"n$i", i))), Seq("k"), None)
    t.merge(Seq.empty[(Long, String, Long)].toDF("k", "name", "v"), Seq("k"), Some(0))
    assert(t.currentVersion().contains(1))
    assert(t.diff(Seq("k"), 0, 1).count() == 0)
    assert(t.cdc(Seq("k"), 0, 1).count() == 0)
  }

  test("compact with a Z-order layout key: data identical, rows clustered in-file") {
    val s2 = spark
    import s2.implicits._
    import graft.operators.ZOrder
    val dir = Files.createTempDirectory("vt9").toString
    val t = new VersionedTable(spark, dir, nBuckets = 2)
    // (k, x, y): x/y are the clustering dimensions
    val rows = (0L until 512L).map(i => (i, i % 16, (i / 16) % 16)).toDF("k", "x", "y")
    t.commit(rows, Seq("k"), None)
    val before = t.read().get.collect().map(_.toSeq).sortBy(_.toString)
    val cv = t.compact(Seq("k"), Some(0),
      layoutSort = Seq(ZOrder.zorderCol(Seq(col("x"), col("y")), bits = 4)))
    val after = t.read(Some(cv)).get.collect().map(_.toSeq).sortBy(_.toString)
    assert(before.sameElements(after), "layout sort must not change the data")

    // within each rewritten file, rows are in z-order (data dirs are
    // writer-unique: v%06d-<token>)
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith(f"v$cv%06d")).toSeq.head
    java.nio.file.Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__bucket=")).foreach { bdir =>
        val zs = spark.read.parquet(bdir.toString)
          .select(ZOrder.zorderCol(Seq(col("x"), col("y")), bits = 4).as("z"))
          .collect().map(_.getLong(0))
        assert(zs.sameElements(zs.sorted), s"rows in $bdir are not z-ordered")
      }
  }

  test("zone maps: readPruned skips buckets outside the predicate range") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt7").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    // make v strongly bucket-correlated: v = k, keys spread over buckets
    val rows = (0L until 400L).map(i => (i, s"n$i", i)).toDF("k", "name", "v")
    t.commit(rows, Seq("k"), None, statsCols = Seq("v"))

    val all = t.bucketsFor("v", BigDecimal(0), BigDecimal(400))
    assert(all.size == 8, "every bucket overlaps the full range")
    // v=k hashes across buckets, so a narrow range still hits several
    // buckets — but a range NO row satisfies must prune everything
    val none = t.bucketsFor("v", BigDecimal(1000), BigDecimal(2000))
    assert(none.isEmpty, s"impossible range must prune all buckets, got $none")
    assert(t.readPruned("v", BigDecimal(1000), BigDecimal(2000)).get.count() == 0)

    // pruned read + exact predicate == full read + exact predicate
    val lo = BigDecimal(10); val hi = BigDecimal(25)
    val pruned = t.readPruned("v", lo, hi).get
      .filter(col("v") >= 10 && col("v") <= 25).collect().map(_.toSeq).sortBy(_.toString)
    val full = t.read().get
      .filter(col("v") >= 10 && col("v") <= 25).collect().map(_.toSeq).sortBy(_.toString)
    assert(pruned.sameElements(full))

    // stats survive copy-on-write: touch one bucket, ranges persist
    t.merge(Seq((1000L, "big", 5000L, false)).toDF("k", "name", "v", "del"),
      Seq("k"), Some(0), deleteCol = Some("del"), statsCols = Seq("v"))
    val hot = t.bucketsFor("v", BigDecimal(5000), BigDecimal(5000))
    assert(hot.size == 1, s"only the merged bucket can hold v=5000, got $hot")
  }

  test("overwrite owns every bucket: rows absent from the snapshot disappear") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt-ovr").toString
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    t.commit(df((0L until 32L).map(i => (i, s"n$i", i))), Seq("k"), None)
    // the 3-row snapshot cannot possibly populate all 4 buckets — a
    // plain commit would resurrect the other buckets' 29 rows
    t.overwrite(df(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))), Seq("k"), Some(0))
    assert(t.read().get.count() == 3, "overwrite must not inherit stale buckets")
    assert(t.read(Some(0)).get.count() == 32, "pinned readers keep the old snapshot")
  }

  test("schemas derived from commits equal a cold instance's footer reads, version by version") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt-parity").toString
    val keys = Seq("k")
    val t = new VersionedTable(spark, dir, nBuckets = 4)
    // `tags` and `meta` are non-nullable down to their elements and
    // fields in the frame; a parquet read reports them all nullable.
    // `name` carries field metadata, which the files keep.
    val label = new MetadataBuilder().putString("comment", "label").build()
    def rowsOf(ks: Seq[Long]): DataFrame = ks.map(i => (i, s"n$i", i.toInt)).toDF("k", "name", "v")
      .withColumn("name", col("name").as("name", label))
      .withColumn("tags", array(lit(1), col("v")))
      .withColumn("meta", struct(lit("m").as("s"), col("k").as("k2")))
    val probe = Seq(0L, 3L, 5L, 9L, 4096L).toDF("k")

    def schemas(x: VersionedTable, v: Int): Seq[(String, StructType)] =
      Seq(
        "read" -> x.read(Some(v)).get.schema,
        "readPruned" -> x.readPruned("v", BigDecimal(2), BigDecimal(6), Some(v)).get.schema,
        "readPruned(none)" -> x.readPruned("v", BigDecimal(-9), BigDecimal(-1), Some(v)).get.schema,
        "lookup" -> x.lookup(probe, keys, Some(v)).get.schema) ++
        (if (v == 0) Nil
         else Seq("diff" -> x.diff(keys, v - 1, v).schema, "cdc" -> x.cdc(keys, v - 1, v).schema))
    // the reference derivation: the widest-type merge of the footer
    // schemas of every directory the version references, in path order
    val ladders = Seq(Seq(ByteType, ShortType, IntegerType, LongType), Seq(FloatType, DoubleType))
    def wider(a: DataType, b: DataType): DataType =
      ladders.find(l => l.contains(a) && l.contains(b)).fold(a)(l => l(math.max(l.indexOf(a), l.indexOf(b))))
    def footerSchema(dirs: Seq[String]): StructType =
      StructType(dirs.sorted.flatMap(rel => spark.read.parquet(s"$dir/$rel").schema.fields)
        .foldLeft(Seq.empty[StructField]) { (acc, f) =>
          acc.indexWhere(_.name == f.name) match {
            case -1 => acc :+ f
            case i => acc.updated(i, acc(i).copy(dataType = wider(acc(i).dataType, f.dataType)))
          }
        })
    def assertParity(v: Int): Unit = {
      assert(t.currentVersion().contains(v))
      val cold = new VersionedTable(spark, dir, nBuckets = 4)
      val (warm, fresh) = (schemas(t, v), schemas(cold, v))
      warm.zip(fresh).foreach { case ((what, a), (_, b)) => assert(a == b, s"v$v $what") }
      val dirs = t.readManifest(v).files.values.toSeq.distinct
      if (dirs.nonEmpty) assert(t.read(Some(v)).get.schema == footerSchema(dirs), s"v$v footers")
    }

    t.commit(rowsOf(0L until 16L), keys, None, statsCols = Seq("v"))
    assertParity(0)
    assert(t.read().get.schema("tags").dataType == ArrayType(IntegerType, containsNull = true))
    assert(t.read().get.schema("name").metadata == label)

    // additive evolution: the merge adds `tag`
    t.merge(rowsOf(Seq(3L, 100L)).withColumn("tag", lit("hot")), keys, Some(0))
    assertParity(1)

    // widening int → long, and a delete that empties bucket 0
    val bucket0 = t.read().get.filter(t.bucketCol(keys) === 0).select("k").as[Long].collect().toSeq
    val widenKey = (0L until 16L).find(k => !bucket0.contains(k)).get
    assert(bucket0.nonEmpty)
    t.merge(rowsOf(widenKey +: bucket0).withColumn("v", col("v").cast("long") + 1000000000000L)
      .withColumn("tag", lit("wide")).withColumn("del", col("k").isin(bucket0: _*)),
      keys, Some(1), deleteCol = Some("del"))
    assertParity(2)
    assert(!t.readManifest(2).files.contains(0), "the emptied bucket leaves the manifest")
    assert(t.read().get.schema("v").dataType == LongType)

    // an empty snapshot owns every bucket and populates none; its
    // schema is the rows' schema
    t.overwrite(rowsOf(Nil), keys, Some(2))
    assertParity(3)
    assert(t.readManifest(3).files.isEmpty && t.dataDirCount(Some(3)) == 0)
    assert(t.read().get.count() == 0)
    assert(t.read().get.schema == t.read(Some(0)).get.schema)

    // repopulate (a version without buckets has nothing to compact),
    // then compact
    t.overwrite(rowsOf(0L until 12L).withColumn("v", col("v").cast("long")).withColumn("tag", lit("x")),
      keys, Some(3))
    assertParity(4)
    t.compact(keys, Some(4), statsCols = Seq("v"))
    assertParity(5)
    assert(t.read().get.count() == 12)
  }

  test("a commit without zone maps submits fewer jobs than the same commit with them") {
    val rows = df((0L until 64L).map(i => (i, s"n$i", i)))
    def commitJobs(statsCols: Seq[String]): (VersionedTable, Int) = {
      val t = new VersionedTable(spark, Files.createTempDirectory("vt-jobs").toString, nBuckets = 8)
      (t, JobCounter.count(spark.sparkContext)(t.commit(rows, Seq("k"), None, statsCols = statsCols))._2)
    }
    val (plain, plainJobs) = commitJobs(Nil)
    val (zoned, zonedJobs) = commitJobs(Seq("v"))
    assert(plainJobs < zonedJobs, s"$plainJobs jobs without statsCols, $zonedJobs with")
    // both bucket sets (listed vs aggregated) name the same 8 buckets
    assert(plain.read().get.count() == 64 && zoned.read().get.count() == 64)
    assert(plain.bucketsFor("v", BigDecimal(0), BigDecimal(64)) == (0 until 8))
    assert(zoned.bucketsFor("v", BigDecimal(0), BigDecimal(64)) == (0 until 8))
  }

  test("a one-key merge into 16 buckets runs a write sized to its rows, one file per written bucket") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt-fanout").toString
    val t = new VersionedTable(spark, dir, nBuckets = 16)
    // parquet files per bucket directory the version's write created
    def filesPerBucket(v: Int): Map[Int, Int] = t.readManifest(v).files.collect {
      case (b, rel) if rel.startsWith(f"data/v$v%06d-") =>
        b -> new java.io.File(s"$dir/$rel").list().count(_.endsWith(".parquet"))
    }
    t.commit(df((0L until 64L).map(i => (i, s"n$i", i))), Seq("k"), None)
    // more populated buckets than the session has partitions: a write
    // task holds several buckets and still writes one file per bucket
    val base = filesPerBucket(0)
    assert(base.size > 4 && base.values.forall(_ == 1), s"files per bucket $base")

    val (_, counts) = JobCounter.measure(spark.sparkContext)(
      t.merge(Seq((3L, "UPD", 999L)).toDF("k", "name", "v"), Seq("k"), Some(0)))
    assert(filesPerBucket(1).values.toSeq == Seq(1), s"files per bucket ${filesPerBucket(1)}")
    // no stage of the merge runs one task per bucket
    assert(counts.stages.nonEmpty && counts.stages.forall(_.tasks < 16), s"stages ${counts.stages}")
    assert(t.read().get.filter(col("k") === 3L).select("name").as[String].collect().toSeq == Seq("UPD"))
    assert(t.read().get.count() == 64)
  }

  test("a fresh handle plans read, readPruned, diff and cdc of another handle's versions without a Spark job") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt-cold").toString
    val writer = new VersionedTable(spark, dir, nBuckets = 4)
    writer.commit(df((0L until 32L).map(i => (i, s"n$i", i))), Seq("k"), None, statsCols = Seq("v"))
    writer.merge(Seq((3L, "UPD", 999L, "hot"), (100L, "NEW", 1L, "cold")).toDF("k", "name", "v", "tag"),
      Seq("k"), Some(0), statsCols = Seq("v"))
    // the version's manifest is the only file a reader needs
    val cold = new VersionedTable(spark, dir, nBuckets = 4)
    val (plans, jobs) = JobCounter.count(spark.sparkContext)(Seq(
      cold.read().get, cold.read(Some(0)).get, cold.readPruned("v", BigDecimal(0), BigDecimal(8)).get,
      cold.diff(Seq("k"), 0, 1), cold.cdc(Seq("k"), 0, 1)))
    assert(jobs == 0, s"$jobs jobs to plan a fresh handle's reads")
    val warm = Seq(writer.read().get, writer.read(Some(0)).get,
      writer.readPruned("v", BigDecimal(0), BigDecimal(8)).get, writer.diff(Seq("k"), 0, 1), writer.cdc(Seq("k"), 0, 1))
    plans.zip(warm).foreach { case (a, b) =>
      assert(a.schema == b.schema)
      assert(a.collect().map(_.toString).sorted.sameElements(b.collect().map(_.toString).sorted))
    }
    assert(plans(0).count() == 33 && plans(3).count() == 2)
  }

  /** every file under `dir` with its size: what a refused call must
    * leave exactly as it found it. */
  private def filesUnder(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }

  test("a handle laid out differently from its base is refused with LayoutMismatch, changing nothing") {
    val s2 = spark
    import s2.implicits._
    val dir = Files.createTempDirectory("vt-layout").toString
    val t = new VersionedTable(spark, dir, nBuckets = 8)
    t.commit(df((0L until 32L).map(i => (i, s"n$i", i))), Seq("k"), None)
    t.merge(Seq((3L, "UPD", 999L)).toDF("k", "name", "v"), Seq("k"), Some(0))
    val before = filesUnder(dir)
    val upd = Seq((5L, "X", 1L)).toDF("k", "name", "v")
    def refused(what: String)(call: => Any): Unit = {
      val e = intercept[VersionedTable.LayoutMismatch](call)
      assert(e.getMessage.contains(dir), s"$what: the error names no table: ${e.getMessage}")
      assert(t.currentVersion().contains(1), s"$what moved the version")
      assert(filesUnder(dir) == before, s"$what changed the table's files")
    }
    // another bucket count
    val other = new VersionedTable(spark, dir, nBuckets = 4)
    refused("merge")(other.merge(upd, Seq("k"), Some(1)))
    refused("commit")(other.commit(upd, Seq("k"), Some(1)))
    refused("overwrite")(other.overwrite(upd, Seq("k"), Some(1)))
    refused("lookup")(other.lookup(upd, Seq("k")))
    // another bucket column
    refused("merge keyed by another leading column")(t.merge(upd, Seq("name", "k"), Some(1)))

    // a manifest that records no layout (one written before the field
    // existed): the hash it was bucketed by is unknown
    val m1 = java.nio.file.Paths.get(dir, "_manifests", "v000001.manifest")
    val lines = Files.readAllLines(m1).asScala
    assert(lines.count(_.startsWith("layout\t")) == 1, s"manifest: $lines")
    Files.write(m1, lines.filterNot(_.startsWith("layout\t")).asJava)
    val bare = filesUnder(dir)
    val e = intercept[VersionedTable.LayoutMismatch](t.merge(upd, Seq("k"), Some(1)))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("no layout"), e.getMessage)
    intercept[VersionedTable.LayoutMismatch](t.commit(upd, Seq("k"), Some(1)))
    intercept[VersionedTable.LayoutMismatch](t.lookup(upd, Seq("k")))
    assert(t.currentVersion().contains(1) && filesUnder(dir) == bare)
    // reads need no layout: the snapshot stays readable
    assert(t.read().get.count() == 32)
  }

  test("rows are bucketed by the leading key column; a single-key table's buckets are pmod(xxhash64(k), n)") {
    val s2 = spark
    import s2.implicits._
    val keys = Seq(0L, 1L, 7L, 42L, 1000L, 123456789L, -1L, Long.MaxValue)
    // XXH64 (seed 42) of each key, mod 16: the layout every single-key
    // table has had, pinned so that it cannot move
    val pinned = Seq(12, 2, 1, 14, 7, 15, 2, 6)
    val t = new VersionedTable(spark, Files.createTempDirectory("vt-hash").toString, nBuckets = 16)
    val ks = keys.toDF("k")
    assert(ks.select(t.bucketCol(Seq("k"))).as[Int].collect().toSeq == pinned)
    assert(ks.select(pmod(xxhash64(col("k")), lit(16L)).cast("int")).as[Int].collect().toSeq == pinned)
    t.commit(keys.map(k => (k, s"n$k", k)).toDF("k", "name", "v"), Seq("k"), None)
    assert(t.readManifest(0).files.keySet == pinned.toSet)
    // a composite key is bucketed by its leading column alone: every
    // row of one leading value shares a bucket
    val composite = keys.flatMap(k => Seq((k, "a"), (k, "b"), (k, "c"))).toDF("k", "name")
    assert(composite.select(t.bucketCol(Seq("k", "name"))).as[Int].collect().toSeq == pinned.flatMap(b => Seq(b, b, b)))
  }
}
