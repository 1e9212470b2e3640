package graft.operators

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
    IvfIndex.writeStore(IvfIndex.assign(base, model), dir)
    IvfIndex.saveModel(spark, model, dir)
    IvfIndex.appendStore(delta, model, dir)

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

  test("stats pointer: incremental on append, staleness detectable") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfstats").toString
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val d1 = emb.filter(col("vec_id") % 10 === 0)
    val d2 = emb.filter(col("vec_id") % 10 === 5)
    IvfIndex.writeStore(IvfIndex.assign(base, model), dir)
    assert(IvfIndex.storedCount(spark, dir) == base.count())
    // two micro-appends advance the pointer's count incrementally and
    // it stays exact vs a footer recount
    IvfIndex.appendStore(d1, model, dir)
    IvfIndex.appendStore(d2, model, dir)
    assert(IvfIndex.storedCount(spark, dir) == base.count() + d1.count() + d2.count())
    assert(IvfIndex.verifyStats(spark, dir))

    // a writer that died between its data append and the pointer
    // publish leaves a stale count — undetected on the serve path (by
    // design: no O(store) listing there), but visible to the
    // verifyStats audit
    graft.core.Fs.beforeStep = step => if (step == "move") throw new RuntimeException("killed")
    try intercept[RuntimeException] {
      IvfIndex.appendStore(d1.withColumn("vec_id", col("vec_id") + 1000000L), model, dir)
    } finally graft.core.Fs.beforeStep = _ => ()
    assert(IvfIndex.storedCount(spark, dir) == base.count() + d1.count() + d2.count())
    assert(!IvfIndex.verifyStats(spark, dir), "audit must flag the stale count")
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("CDC full follow: delete tombstones, update retracts+adds, re-insert revives, compaction reclaims") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfcdc").toString
    IvfIndex.writeStore(IvfIndex.assign(emb, model), dir)
    val n0 = emb.count()

    def probeIds(assigned: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
      IvfIndex.probeL2(assigned, model, q, nprobe = 8, k = k)
        .select("vec_id").collect().map(_.getLong(0)).toSeq

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
    IvfIndex.applyCdc(cdc, model, dir)

    // the upstream final state, assigned fresh — the rebuild twin
    val finalState = emb.filter(!col("vec_id").isin(3L, 5L, 7L))
      .unionByName(moved)
      .unionByName(emb.filter(col("vec_id") === 11).withColumn("vec_id", lit(9000L)))
    val live = IvfIndex.liveStore(spark, dir)
    assert(live.count() == n0 - 1, "live = base - 2 deletes + 1 insert (update is net 0)")

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
    assert(IvfIndex.verifyStats(spark, dir))

    // re-insert a DELETED id: the higher generation outlives the tombstone
    val reborn = emb.filter(col("vec_id") === 3)
    IvfIndex.applyCdc(reborn.withColumn("change_type", lit("insert")), model, dir)
    val served2 = probeIds(IvfIndex.liveStore(spark, dir), q, n0.toInt + 10)
    assert(served2.contains(3L), "re-inserted id must be live again")
    assert(IvfIndex.liveStore(spark, dir).filter(col("vec_id") === 3).count() == 1)

    // compaction: physical rows shrink to the live set, probes unchanged
    val before = served2
    IvfIndex.compactStore(spark, dir)
    val left = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(!left.anyMatch(_.getFileName.toString == "_tombstones"), "tombstones reclaimed")
    finally left.close()
    val physical = IvfIndex.readStore(spark, dir)
    assert(physical.count() == IvfIndex.liveStore(spark, dir).count(),
      "no suppressed generations left on disk")
    assert(physical.filter(col("vec_id").isin(5L, 7L)).count() == 1, "only the moved 5 remains")
    val after = probeIds(IvfIndex.liveStore(spark, dir), q, n0.toInt + 10)
    assert(after == before, "probe must be bit-identical across compaction")
    assert(IvfIndex.verifyStats(spark, dir))
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }
}
