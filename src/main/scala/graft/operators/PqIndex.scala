package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression scale path for
  * ANN (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011, the IVF-PQ half FAISS popularized):
  *
  *   1. split each D-dim vector into `m` subvectors of D/m dims;
  *   2. per subspace, k-means (on a bounded sample) → `ksub` centroid
  *      codebook;
  *   3. encode: each vector becomes `m` small codes (one byte each at
  *      ksub ≤ 256) — 64-dim float (256 B) → 8 B, a 32× compression;
  *   4. search (ADC — asymmetric distance computation): precompute the
  *      m×ksub table of ‖q_j − c_{j,i}‖² once per query, then a
  *      vector's approximate distance is m table lookups — no float
  *      math against the raw vectors at all.
  *
  * Why this matters at 100 TB: the raw embedding column is the bulk of
  * the bytes; the PQ code column is ~1/32 of it, small enough to keep
  * hot, and the ADC scan is a codegen'd lookup-sum over a broadcast
  * literal table — scan cost per candidate shrinks by the same factor.
  * The standard deployment is shortlist-by-ADC then exact-rerank the
  * shortlist against the raw vectors (only the shortlist's raw bytes
  * are ever fetched).
  */
object PqIndex {

  /** codebooks(j)(i) = centroid i of subspace j (length subDim). */
  final case class Model(m: Int, ksub: Int, subDim: Int,
                         codebooks: Array[Array[Array[Float]]]) {
    def encodeOne(v: Array[Float]): Array[Int] =
      Array.tabulate(m) { j =>
        val off = j * subDim
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < ksub) {
          val c = codebooks(j)(i)
          var s = 0.0; var k = 0
          while (k < subDim) { val d = v(off + k).toDouble - c(k).toDouble; s += d * d; k += 1 }
          if (s < bestD) { bestD = s; best = i }
          i += 1
        }
        best
      }

    /** flat m×ksub ADC table for `query`: entry j*ksub+i is the exact
      * L2² between query subvector j and centroid i of subspace j. */
    def adcTable(query: Array[Float]): Array[Double] = table(query) { (c, off, q) =>
      var s = 0.0; var k = 0
      while (k < subDim) { val d = q(off + k).toDouble - c(k).toDouble; s += d * d; k += 1 }
      s
    }

    /** inner-product ADC table: entry j*ksub+i is ⟨q_j, c_{j,i}⟩.
      * Shortlisting for a MIPS/cosine workload must rank by this, not
      * by L2 — a mismatched shortlist metric costs recall. */
    def adcIpTable(query: Array[Float]): Array[Double] = table(query) { (c, off, q) =>
      var s = 0.0; var k = 0
      while (k < subDim) { s += q(off + k).toDouble * c(k).toDouble; k += 1 }
      s
    }

    private def table(query: Array[Float])(f: (Array[Float], Int, Array[Float]) => Double): Array[Double] = {
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var i = 0
        while (i < ksub) { t(j * ksub + i) = f(codebooks(j)(i), j * subDim, query); i += 1 }
        j += 1
      }
      t
    }
  }

  /** Per-subspace k-means over a bounded sample (the fit must never
    * see the full table — same cap discipline as [[IvfIndex.train]]). */
  def train(embeddings: DataFrame, m: Int = 8, ksub: Int = 16, seed: Long = 42L): Model = {
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    val total = embeddings.count()
    val sampled =
      if (total <= IvfIndex.TrainCap) embeddings
      else embeddings.sample(withReplacement = false,
        math.min(1.0, 1.2 * IvfIndex.TrainCap / total), seed)
    // all m slices come out of ONE cached pass over the sample
    val slices = sampled.select(
      (0 until m).map(j => slice(col("embedding"), j * subDim + 1, subDim).as(s"s$j")): _*)
      .persist()
    slices.count() // materialize once, before the concurrent fits race to do it
    // the m sub-quantizer fits are independent — run them as
    // concurrent Spark jobs (fair-scheduled within the session)
    // instead of serially paying m× the fit latency
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val books = Await.result(
      Future.sequence((0 until m).map { j => Future {
        val withVec = slices.select(array_to_vector(col(s"s$j")).as("features"))
        val km = new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(10).setFeaturesCol("features")
        km.fit(withVec).clusterCenters.map(_.toArray.map(_.toFloat))
      }}), Duration.Inf).toArray
    slices.unpersist()
    Model(m, ksub, subDim, books)
  }

  /** The at-rest format of the codebooks: a directory holding one
    * parquet file of `(subspace, idx, centroid)` rows, beside
    * [[IvfIndex.writeModel]]'s centroids in a [[QuantizerCache]]
    * entry. The shape (m, ksub, subDim) is read back from the rows. */
  def writeModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    (for (j <- 0 until model.m; i <- 0 until model.ksub) yield (j, i, model.codebooks(j)(i).toSeq))
      .toDF("subspace", "idx", "centroid")
      .coalesce(1).write.parquet(dir)
  }

  def readModel(spark: SparkSession, dir: String): Model = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
    val m = rows.keys.map(_._1).max + 1
    val ksub = rows.keys.map(_._2).max + 1
    Model(m, ksub, rows.head._2.length, Array.tabulate(m, ksub)((j, i) => rows((j, i))))
  }

  /** attach the `code` column (array<int>, length m). */
  def encode(embeddings: DataFrame, model: Model): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(model)
    val enc = udf((emb: Seq[Float]) => bc.value.encodeOne(emb.toArray))
    embeddings.withColumn("code", enc(col("embedding")))
  }

  /** lookup-sum of an encoded row against a precomputed flat m×ksub
    * table — pure codegen, the raw embedding column is never touched. */
  private[operators] def lookupCol(table: Array[Double], ksub: Int): Column = {
    val tableLit = array(table.map(lit): _*)
    aggregate(
      transform(col("code"), (c, j) => element_at(tableLit, (j * ksub + c + 1).cast("int"))),
      lit(0.0d), (acc, v) => acc + v)
  }

  /** approximate L2² of an encoded row to `query`. */
  def adcDistCol(model: Model, query: Array[Float]): Column =
    lookupCol(model.adcTable(query), model.ksub)

  /** approximate inner product of an encoded row with `query`. */
  def adcIpCol(model: Model, query: Array[Float]): Column =
    lookupCol(model.adcIpTable(query), model.ksub)

  /** exact fixed-point-IP rerank of an ADC shortlist: top-k of the
    * `adc`-ranked prefix, scored against the raw vectors. Shared by
    * [[search]] and [[IvfPq.search]]. */
  private[operators] def exactRerank(shortlisted: DataFrame, query: Array[Float], k: Int): DataFrame = {
    val qFx = array(query.map(x => lit(math.round(x * 1e7))): _*)
    val fx = transform(col("embedding"), x => round(x * lit(1e7)).cast("long"))
    shortlisted
      .withColumn("score", aggregate(zip_with(fx, qFx, (x, y) => x * y), lit(0L), (acc, v) => acc + v))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** shortlist-by-ADC then exact fixed-point-IP rerank — the standard
    * PQ serving shape. Only `shortlist` rows' raw vectors are scored
    * exactly; the shortlist metric (approximate IP) matches the rerank
    * metric. */
  def search(encoded: DataFrame, model: Model, query: Array[Float],
             shortlist: Int, k: Int): DataFrame =
    exactRerank(
      encoded
        .withColumn("adc", adcIpCol(model, query))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(shortlist),
      query, k)
}
