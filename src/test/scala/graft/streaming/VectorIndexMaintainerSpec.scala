package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.JobCounter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.core.Fs
import graft.operators.IvfIndex

/** Streaming ANN index maintenance: the index must stay probeable
  * mid-stream (seeing exactly what has been ingested) and, once the
  * stream is fully consumed, a probe must equal the batch IVF probe
  * over the same data with the same quantizer.
  */
class VectorIndexMaintainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stream-maintained index converges to the batch probe") {
    implicit val sq = spark.sqlContext
    val s2 = spark
    import s2.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = IvfIndex.train(emb, nlist = 16)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

    val maintainer = new VectorIndexMaintainer(
      spark, Files.createTempDirectory("vec-idx").toString, model)

    val rows = emb.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val (first, second) = rows.partition(_._1 < 250)

    val stream = MemoryStream[(Long, Seq[Float], Int)]
    // ONE checkpoint reused across drains: the second run must resume
    // from recorded offsets and process only the new batch (replay
    // safety is separately guaranteed by the id-keyed upsert)
    val ckpt = Files.createTempDirectory("vec-ckpt").toString
    def drain(): Unit = {
      val query = maintainer.start(
        stream.toDS().toDF("vec_id", "embedding", "label")
          .withColumn("embedding", col("embedding").cast("array<float>")),
        ckpt)
      query.awaitTermination()
    }

    stream.addData(first.toSeq)
    drain()
    val midCount = maintainer.indexedCount()
    assert(midCount == first.length, s"mid-stream index holds $midCount of ${first.length}")
    // mid-stream probe works and only sees ingested ids
    val midIds = maintainer.probe(q, nprobe = 16, k = 10).select("vec_id")
      .collect().map(_.getLong(0))
    assert(midIds.forall(id => id < 250))

    stream.addData(second.toSeq)
    drain()
    assert(maintainer.indexedCount() == rows.length)

    val got = maintainer.probe(q, nprobe = 8, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val want = IvfIndex.probe(
      IvfIndex.assign(emb.filter(col("vec_id") =!= 0), model), model, q, nprobe = 8, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == want, s"streamed index probe $got vs batch $want")
  }

  test("quantizer refresh: probe-stable rebuild, restart restores it, drift triggers it") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    // deliberately poor bootstrap fit (first 100 rows only)
    val boot = IvfIndex.train(emb.limit(100), nlist = 8)
    val dir = Files.createTempDirectory("vec-idx-refresh").toString
    val m = new VectorIndexMaintainer(spark, dir, boot)
    m.processBatch(emb.filter(col("vec_id") =!= 0), 0L)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

    // nprobe = nlist probes every list → exact, model-independent
    def fullProbe(mm: VectorIndexMaintainer): Seq[Long] =
      mm.probe(q, nprobe = 8, k = 10).select("vec_id").collect().map(_.getLong(0)).toSeq

    val before = fullProbe(m)
    val d0 = m.distortion()
    m.refreshQuantizer()
    assert(fullProbe(m) == before,
      "rebuilding posting lists under a refreshed quantizer must not change exact probe results")
    assert(m.distortion() <= d0 * 1.01 + 1e-9,
      "refitting on the full index cannot be worse than the 100-row bootstrap fit")

    // restart with the ORIGINAL bootstrap model: the committed store
    // must win, so serving continues on the refreshed quantizer
    val m2 = new VectorIndexMaintainer(spark, dir, boot)
    assert(m2.model.centroids.map(_._2.toSeq).toSeq == m.model.centroids.map(_._2.toSeq).toSeq)
    assert(fullProbe(m2) == before)

    // stable data: no drift, no rebuild
    assert(!m.refreshIfDrifted(factor = 1.5))

    // heavy ingest far from the trained centroids drifts the layout
    // past the baseline and triggers the rebuild
    val shifted = emb.filter(col("vec_id") =!= 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"), x => (x * lit(10.0f)).cast("float")))
    m.processBatch(shifted, 1L)
    assert(m.refreshIfDrifted(factor = 2.0), "10x-scaled ingest must trip the drift threshold")
    assert(!m.refreshIfDrifted(factor = 2.0), "baseline re-records after a rebuild")
    assert(storeRoot(dir).size == 2, s"the quantizer and its baseline live in the generation: ${storeRoot(dir)}")
  }

  test("a handle built before another handle's refresh ingests under the refreshed quantizer") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val boot = IvfIndex.train(emb.limit(100), nlist = 8)
    val dir = Files.createTempDirectory("vec-idx-handles").toString
    val refresher = new VectorIndexMaintainer(spark, dir, boot)
    val ingester = new VectorIndexMaintainer(spark, dir, boot)
    refresher.processBatch(emb.filter(col("vec_id") < 300), 0L)
    refresher.refreshQuantizer()
    ingester.processBatch(emb.filter(col("vec_id") >= 300), 1L)

    def centroids(m: IvfIndex.Model) = m.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq
    val served = refresher.model
    assert(centroids(served) != centroids(boot), "the refresh must change the quantizer")
    assert(centroids(ingester.model) == centroids(served))
    val rows = IvfIndex.readStore(spark, dir).select("vec_id", "embedding", "list_id").collect()
    assert(rows.length == emb.count())
    val misplaced = rows.filter(r => served.nearest(r.getSeq[Float](1).toArray, 1).head != r.getInt(2))
    assert(misplaced.isEmpty, s"${misplaced.length} rows sit in a list the served quantizer does not assign them to")
  }

  /** the names under a store root: `CURRENT` and the live `g<N>`. */
  private def storeRoot(dir: String): Set[String] = new java.io.File(dir).list().toSet

  private def embeddings() = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding", "label")

  test("after a faulted first batch, two batches and two refreshes the root holds CURRENT and one generation") {
    val emb = embeddings()
    val dir = Files.createTempDirectory("vec-idx-root").toString
    val m = new VectorIndexMaintainer(spark, dir, IvfIndex.train(emb.limit(100), nlist = 8))
    // the first batch faults at its pointer publish: its generation
    // directory is written and named by nothing
    Fs.beforeStep = s => if (s == "move") throw new IllegalStateException("injected")
    try intercept[IllegalStateException](m.processBatch(emb.filter(col("vec_id") < 200), 0L))
    finally Fs.beforeStep = _ => ()
    assert(m.indexedCount() == 0L)

    m.processBatch(emb.filter(col("vec_id") < 200), 0L)
    m.processBatch(emb.filter(col("vec_id") >= 200), 1L)
    m.refreshQuantizer()
    m.refreshQuantizer()
    val gen = Fs.currentGeneration(Paths.get(dir)).get
    assert(storeRoot(dir) == Set("CURRENT", s"g${gen.n}"), storeRoot(dir))
    assert(m.indexedCount() == emb.count())
    Fs.deleteRecursively(new java.io.File(dir))
  }

  test("a replayed batch and an upsert that moves an id leave one row per id; the pointer counts the rows") {
    val emb = embeddings()
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = Files.createTempDirectory("vec-idx-upsert").toString
    val m = new VectorIndexMaintainer(spark, dir, model)
    val batch = emb.filter(col("vec_id") < 300)
    m.processBatch(batch, 0L)
    m.processBatch(batch, 0L) // a replay after a crash before the checkpoint
    // id 7 re-pointed at a far vector: it must leave its old list
    val v7 = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0).toArray
    val farthest = model.centroids.maxBy { case (_, c) => c.zip(v7).map { case (a, b) => (a - b) * (a - b) }.sum }
    val moved = emb.filter(col("vec_id") === 7)
      .withColumn("embedding", array(farthest._2.map(x => lit(x)): _*))
    assert(model.nearest(farthest._2, 1).head != model.nearest(v7, 1).head, "the check needs a list change")
    m.processBatch(moved.unionByName(emb.filter(col("vec_id").between(300L, 309L))), 1L)

    val rows = IvfIndex.readStore(spark, dir).select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per id")
    assert(rows.length == 310 && m.indexedCount() == rows.length.toLong)
    assert(rows.toMap.apply(7L) == model.nearest(farthest._2, 1).head, "id 7 sits in its new list only")
    Fs.deleteRecursively(new java.io.File(dir))
  }

  test("the probe plan prunes posting lists at rest; indexedCount runs no Spark job") {
    val emb = embeddings()
    val model = IvfIndex.train(emb, nlist = 8)
    val dir = Files.createTempDirectory("vec-idx-probe").toString
    val m = new VectorIndexMaintainer(spark, dir, model)
    m.processBatch(emb, 0L)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val plan = m.probe(q, nprobe = 2, k = 10).queryExecution.executedPlan.toString
    val partitionFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(partitionFilters.exists(_.contains("list_id")), plan.take(2000))
    val (n, jobs) = JobCounter.count(spark.sparkContext)(m.indexedCount())
    assert(n == emb.count() && jobs == 0, s"indexedCount ran $jobs jobs")
    Fs.deleteRecursively(new java.io.File(dir))
  }
}
