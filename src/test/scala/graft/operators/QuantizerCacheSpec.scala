package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft

/** The quantizer cache's model format must round-trip models
  * bit-exactly (a loaded quantizer routes every vector to the same
  * posting list as the trained one), and a warm lookup must be served
  * by the committed entry alone.
  */
class QuantizerCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("IVF centroids and PQ codebooks round-trip bit-exactly through the model format") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = Files.createTempDirectory("qmodel").toString

    val ivfPq = IvfPq.train(emb, nlist = 8, m = 8, ksub = 16)
    IvfIndex.writeModel(spark, ivfPq.ivf, s"$dir/ivf")
    PqIndex.writeModel(spark, ivfPq.pq, s"$dir/pq")
    val loaded = IvfPq.Model(IvfIndex.readModel(spark, s"$dir/ivf"), PqIndex.readModel(spark, s"$dir/pq"))

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
    graft.core.Fs.deleteRecursively(new java.io.File(dir))
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
