package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The quantizer store must round-trip models bit-exactly (a loaded
  * quantizer routes every vector to the same posting list as the
  * trained one) and version refreshes atomically (latest snapshot
  * wins; old versions stay readable for pinned readers).
  */
class QuantizerStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("quantizer-store-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("IVF + PQ models round-trip bit-exactly; refresh commits a new version") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = Files.createTempDirectory("qstore").toString

    val ivfPq = IvfPq.train(emb, nlist = 8, m = 8, ksub = 16)
    val v0 = QuantizerStore.save(spark, dir, Some(ivfPq.ivf), Some(ivfPq.pq), nCorpus = 500L)

    val (loaded, nLoaded) = QuantizerStore.loadIvfPq(spark, dir).get
    assert(nLoaded == 500L,
      "train-time corpus stats must round-trip with the codebooks")
    assert(loaded.ivf.centroids.map(_._1).toSeq == ivfPq.ivf.centroids.map(_._1).toSeq)
    assert(loaded.ivf.centroids.map(_._2.toSeq).toSeq == ivfPq.ivf.centroids.map(_._2.toSeq).toSeq,
      "IVF centroids must survive the store byte-for-byte")
    assert(loaded.pq.m == ivfPq.pq.m && loaded.pq.ksub == ivfPq.pq.ksub &&
      loaded.pq.subDim == ivfPq.pq.subDim)
    assert(loaded.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      ivfPq.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "PQ codebooks must survive the store byte-for-byte")

    // loaded quantizer routes identically (the serving guarantee)
    val some = emb.limit(50).collect().map(_.getSeq[Float](1).toArray)
    assert(some.map(v => loaded.ivf.nearest(v, 1)).toSeq ==
      some.map(v => ivfPq.ivf.nearest(v, 1)).toSeq)
    assert(some.map(v => loaded.pq.encodeOne(v).toSeq).toSeq ==
      some.map(v => ivfPq.pq.encodeOne(v).toSeq).toSeq)

    // refresh: a different fit commits as the next version and wins
    val fresh = IvfIndex.train(emb, nlist = 8, seed = 7L)
    val v1 = QuantizerStore.save(spark, dir, Some(fresh), None, nCorpus = 600L)
    assert(v1 == v0 + 1)
    val (latest, nLatest) = QuantizerStore.loadIvf(spark, dir).get
    assert(latest.centroids.map(_._2.toSeq).toSeq == fresh.centroids.map(_._2.toSeq).toSeq,
      "latest snapshot must serve the refreshed quantizer")
    assert(nLatest == 600L, "a refresh must also refresh the corpus stats")
  }

  test("warm serve path reads model + stats without touching the corpus") {
    // unique pseudo-sf key so the cache cannot be warm from another test
    val key = Files.createTempDirectory("qcache_sf").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val expected = emb.count()
    val (m1, n1) = QuantizerCache.pqStats(spark, key, emb, m = 8, ksub = 16)
    assert(n1 == expected, "train path must persist the real corpus count")
    // drop the in-JVM memo: the next lookup must be served ENTIRELY by
    // the committed store — the corpus argument is by-name, and a
    // poisoned corpus proves no serve-path action (count or otherwise)
    // ever runs against it
    QuantizerCache.invalidate()
    val (m2, n2) = QuantizerCache.pqStats(spark, key,
      sys.error("serve path must not evaluate the corpus"), m = 8, ksub = 16)
    assert(n2 == n1, "committed stats must round-trip through the cache")
    assert(m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }
}
