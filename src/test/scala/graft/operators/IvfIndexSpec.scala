package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN: deterministic under seed, and probing a fraction of the
  * lists recovers most of the exact top-k (recall sanity). */
class IvfIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("ivf-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("IVF probe recall vs exact brute force; assignment is deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = IvfIndex.train(emb, nlist = 16)
    val assigned = IvfIndex.assign(emb, model).persist()

    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray

    // exact top-10 by the same metric (driver-side)
    val all = emb.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), IvfIndex.ip(r.getSeq[Float](1).toArray, query)))
    val exact = all.sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet

    val got = IvfIndex.probe(assigned.filter(col("vec_id") =!= 0), model, query, nprobe = 8, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(got).size
    assert(recall >= 5, s"recall@10 too low: $recall (got=$got exact=$exact)")

    // determinism: re-train + re-assign gives identical lists
    val model2 = IvfIndex.train(emb, nlist = 16)
    val a1 = assigned.select("vec_id", "list_id").collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val a2 = IvfIndex.assign(emb, model2).select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(a1 == a2)
  }

  test("posting lists cover all vectors and are reasonably balanced") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = IvfIndex.train(emb, nlist = 8)
    val sizes = IvfIndex.assign(emb, model).groupBy("list_id").count()
      .collect().map(_.getLong(1))
    assert(sizes.sum == emb.count())
    assert(sizes.forall(_ > 0), "no empty posting lists at this nlist")
  }

  test("at-rest store: model roundtrips, delta append equals rebuild, probes prune partitions") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfstore").toString
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") =!= 0)
    IvfIndex.writeStore(IvfIndex.assign(base, model), model, dir)
    IvfIndex.upsertStore(delta, dir)

    // the persisted quantizer is byte-identical to the trained one
    val loaded = IvfIndex.loadModel(spark, dir)
    assert(loaded.centroids.map(_._1).toSeq == model.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(model.centroids).forall { case ((_, a), (_, b)) => a.sameElements(b) })

    // `_model` stays invisible to the data read; rows = base + delta
    val stored = IvfIndex.readStore(spark, dir)
    assert(stored.count() == base.count() + delta.count())

    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val p = IvfIndex.probe(stored, loaded, q, nprobe = 4, k = 10)
    // the probe's list filter must hit the partition layout, not a
    // post-scan filter — that is the at-rest pruning contract
    val plan = p.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(2000))
    val got = p.select("vec_id").collect().map(_.getLong(0)).toSeq
    val rebuilt = IvfIndex.probe(
      IvfIndex.assign(base.unionByName(delta), model), model, q, nprobe = 4, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == rebuilt, s"store probe $got != rebuild probe $rebuilt")
  }

  test("loadModel reads a store's model without Spark's hidden-path warning") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(400)
    val model = IvfIndex.train(emb, nlist = 4)
    val dir = Files.createTempDirectory("ivf_model_log").toString
    IvfIndex.writeStore(IvfIndex.assign(emb, model), model, dir)
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("ivf-model-log", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(capture)
    val loaded =
      try IvfIndex.loadModel(spark, dir)
      finally { root.removeAppender(capture); capture.stop() }
    assert(loaded.centroids.map(_._1).toSeq == model.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(model.centroids).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    assert(!logged.asScala.exists(_.contains("All paths were ignored")), logged.asScala.mkString("\n"))
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  /** the live generation directory of the store at `dir`. */
  private def liveGen(dir: String): Path = {
    val root = Paths.get(dir)
    graft.core.Fs.currentGeneration(root).get.dir(root)
  }

  /** every regular file under `d`, relative to it. */
  private def filesUnder(d: Path): Seq[Path] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(d.relativize).toList
    finally walk.close()
  }

  /** run `write` and check each file of the posting lists and the
    * `_model` of the generation it replaces against the one it
    * publishes: kept (by hard link, same relative path) where `linked`
    * holds for its path, absent otherwise. (Each write leaves its own
    * top-level `_SUCCESS`.) The old generation is deleted by the
    * publish, so its files are first hard-linked into a snapshot
    * outside the store. */
  private def checkLinks(dir: String)(write: => Unit)(linked: Path => Boolean): Unit = {
    val before = liveGen(dir)
    val snap = Files.createTempDirectory("ivfsnap")
    graft.core.Fs.linkTree(before, snap)(_ => true)
    write
    val after = liveGen(dir)
    assert(after != before, "a write publishes a new generation")
    for (rel <- filesUnder(snap) if rel.getNameCount > 1) {
      val now = after.resolve(rel)
      if (linked(rel)) assert(Files.exists(now) && Files.isSameFile(now, snap.resolve(rel)), s"$rel not linked")
      else assert(!Files.exists(now), s"$rel not rewritten")
    }
    graft.core.Fs.deleteRecursively(snap.toFile)
  }

  test("generations: an append links every resident file, a CDC apply rewrites only the dirty lists") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = Files.createTempDirectory("ivfgen").toString
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.writeStore(IvfIndex.assign(base, model), model, dir)

    checkLinks(dir)(IvfIndex.upsertStore(emb.filter(col("vec_id") % 5 === 0), dir))(_ => true)
    assert(IvfIndex.storedCount(spark, dir) == emb.count())
    assert(IvfIndex.readStore(spark, dir).count() == emb.count())

    // re-writing resident ids rewrites only the lists that hold them
    val resident = emb.filter(col("vec_id").isin(2L, 4L))
    val holding = IvfIndex.assign(resident, model).select("list_id").collect().map(r => s"list_id=${r.getInt(0)}").toSet
    checkLinks(dir)(IvfIndex.upsertStore(resident, dir))(rel => !holding.contains(rel.getName(0).toString))
    assert(IvfIndex.storedCount(spark, dir) == emb.count())
    assert(IvfIndex.readStore(spark, dir).count() == emb.count())

    // retract two ids and add one: only the lists the retracted ids'
    // pre-images are assigned to are rewritten
    val retracted = emb.filter(col("vec_id").isin(3L, 7L))
    val dirty = IvfIndex.assign(retracted, model).select("list_id").collect().map(r => s"list_id=${r.getInt(0)}").toSet
    assert(dirty.nonEmpty && dirty.size < model.centroids.length, s"the check needs clean lists: $dirty")
    val cdc = retracted.withColumn("change_type", lit("delete"))
      .unionByName(emb.filter(col("vec_id") === 11)
        .withColumn("vec_id", lit(9000L)).withColumn("change_type", lit("insert")))
    checkLinks(dir)(IvfIndex.applyCdc(cdc, dir))(rel => !dirty.contains(rel.getName(0).toString))
    assert(IvfIndex.storedCount(spark, dir) == emb.count() - 1)
    assert(IvfIndex.readStore(spark, dir).count() == emb.count() - 1)

    // a store that has had an append and a CDC apply still prunes
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plan = IvfIndex.probe(IvfIndex.readStore(spark, dir), IvfIndex.loadModel(spark, dir), q, nprobe = 4, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan.take(2000))
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("CDC full follow: delete retracts, update retracts+adds, re-insert revives, each apply one generation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfcdc").toString
    IvfIndex.writeStore(IvfIndex.assign(emb, model), model, dir)
    val n0 = emb.count()

    def probeIds(assigned: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
      IvfIndex.probeL2(assigned, model, q, nprobe = 8, k = k)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    // after every apply: the pointer's count is the physical row count,
    // and no retract bookkeeping is left beside the posting lists
    def consistent(): Unit = {
      assert(IvfIndex.readStore(spark, dir).count() == IvfIndex.storedCount(spark, dir))
      val walk = Files.walk(Paths.get(dir))
      try assert(!walk.anyMatch(_.getFileName.toString == "_tombstones"), "no tombstones")
      finally walk.close()
    }

    // CDC batch: delete 3 and 7, move 5 far away (update), insert 9000
    val moved = emb.filter(col("vec_id") === 5)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"), x => x + lit(1e6f)).as("embedding"))
    val cdc =
      emb.filter(col("vec_id").isin(3L, 7L)).withColumn("change_type", lit("delete"))
        .unionByName(emb.filter(col("vec_id") === 5).withColumn("change_type", lit("update_preimage")))
        .unionByName(moved.withColumn("change_type", lit("update_postimage")))
        .unionByName(emb.filter(col("vec_id") === 11)
          .withColumn("vec_id", lit(9000L)).withColumn("change_type", lit("insert")))
    IvfIndex.applyCdc(cdc, dir)
    consistent()

    // the upstream final state, assigned fresh — the rebuild twin
    val finalState = emb.filter(!col("vec_id").isin(3L, 5L, 7L))
      .unionByName(moved)
      .unionByName(emb.filter(col("vec_id") === 11).withColumn("vec_id", lit(9000L)))
    val live = IvfIndex.readStore(spark, dir)
    assert(live.count() == n0 - 1, "live = base - 2 deletes + 1 insert (update is net 0)")
    assert(live.filter(col("vec_id").isin(5L, 7L)).count() == 1, "only the moved 5 remains")

    // full-store probe (nprobe = nlist): a deleted id must NEVER surface
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val served = probeIds(live, q, n0.toInt + 10)
    assert(!served.contains(3L) && !served.contains(7L), s"ghost vector served: $served")
    // the updated id's OLD vector is retracted: id 5 ranks where its
    // NEW (far) vector ranks — identical to the rebuild ordering
    val rebuilt = probeIds(IvfIndex.assign(finalState, model), q, n0.toInt + 10)
    assert(served == rebuilt, "follow must equal full rebuild")
    assert(served.contains(9000L), "inserted id must be served")
    assert(IvfIndex.storedCount(spark, dir) == n0 - 1)

    // re-insert a DELETED id: it is live again, exactly once
    val reborn = emb.filter(col("vec_id") === 3)
    IvfIndex.applyCdc(reborn.withColumn("change_type", lit("insert")), dir)
    consistent()
    val served2 = probeIds(IvfIndex.readStore(spark, dir), q, n0.toInt + 10)
    assert(served2.contains(3L), "re-inserted id must be live again")
    assert(IvfIndex.readStore(spark, dir).filter(col("vec_id") === 3).count() == 1)
    assert(IvfIndex.storedCount(spark, dir) == n0)
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("distortion over an empty frame is 0.0, the no-baseline value") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
    val model = IvfIndex.train(emb, nlist = 8)
    val empty = IvfIndex.assign(emb.limit(0), model)
    assert(IvfIndex.distortion(empty, model) == 0.0)
    // a store written from no rows records that baseline and count
    val dir = Files.createTempDirectory("ivfempty").toString
    IvfIndex.writeStore(empty, model, dir)
    assert(IvfIndex.storedCount(spark, dir) == 0L && IvfIndex.storedBaseline(dir) == 0.0)
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }
}
