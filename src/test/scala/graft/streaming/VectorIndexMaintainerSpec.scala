package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs
import graft.operators.IvfIndex
import graft.sources.VersionedTable

/** Streaming ANN index maintenance: the index must stay probeable
  * mid-stream (seeing exactly what has been ingested) and, once the
  * stream is fully consumed, a probe must equal the batch IVF probe
  * over the same data with the same quantizer.
  */
class VectorIndexMaintainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("vector-index-maintainer-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
    assert(Seq("_quantizer", "BASELINE").forall(f => !Files.exists(java.nio.file.Paths.get(dir, f))),
      "the quantizer and its baseline live in the table's versions")
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
    val rows = new graft.sources.VersionedTable(spark, dir).read().get
      .select("vec_id", "embedding", "list_id").collect()
    assert(rows.length == emb.count())
    val misplaced = rows.filter(r => served.nearest(r.getSeq[Float](1).toArray, 1).head != r.getInt(2))
    assert(misplaced.isEmpty, s"${misplaced.length} rows sit in a list the served quantizer does not assign them to")
  }

  test("vacuum reclaims the models of dropped versions and, with removeOrphans, of faulted commits") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val boot = IvfIndex.train(emb.limit(100), nlist = 8)
    val dir = Files.createTempDirectory("vec-idx-vacuum").toString
    val m = new VectorIndexMaintainer(spark, dir, boot)
    val batch = emb.filter(col("vec_id") =!= 0)
    def models(): Set[String] = Option(new java.io.File(dir, "_models").list()).toSet.flatten
    def served(): String = {
      val t = new VersionedTable(spark, dir)
      t.schemaAt(t.currentVersion().get)("list_id").metadata.getString("ivf_model").stripPrefix("_models/")
    }

    // the first batch faults at its manifest publish: its model
    // directory is left behind, named by no version
    Fs.beforeStep = s => if (s == "move") throw new IllegalStateException("injected")
    try intercept[IllegalStateException](m.processBatch(batch, 0L))
    finally Fs.beforeStep = _ => ()
    val orphan = models()
    assert(orphan.size == 1 && m.currentVersion().isEmpty)

    m.processBatch(batch, 0L)
    val first = models() -- orphan
    m.refreshQuantizer()
    m.refreshQuantizer()
    assert(models().size == 4 && m.currentVersion().contains(2))
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    def fullProbe(): Seq[Long] = m.probe(q, nprobe = 8, k = 10).select("vec_id").collect().map(_.getLong(0)).toSeq
    val before = fullProbe()

    // dropping v0 reclaims the bootstrap model; the orphan needs removeOrphans
    m.vacuum(2)
    assert(first.size == 1 && models().intersect(first).isEmpty && models().size == 3 && orphan.subsetOf(models()))
    m.vacuum(1, removeOrphans = true)
    assert(models() == Set(served()))
    assert(fullProbe() == before)
  }
}
