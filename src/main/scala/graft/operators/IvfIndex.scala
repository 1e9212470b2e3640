package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.functions.array_to_vector
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fs

/** IVF (inverted-file) approximate nearest-neighbor index — the
  * coarse-quantizer scale path from the builder brief (alternative to
  * the sign-projection LSH in `queries.Similarity`):
  *
  *   1. train: k-means over a sample → `nlist` centroids;
  *   2. assign: every vector joins its nearest centroid's posting list
  *      (this becomes the partitioning/bucketing key at rest);
  *   3. probe: a query scans only the `nprobe` nearest posting lists,
  *      with exact rerank inside them.
  *
  * At 100 TB the posting-list id is the partition key, so a probe
  * reads nprobe/nlist of the data; centroids are a tiny broadcast.
  * Deterministic under a fixed seed.
  */
object IvfIndex {

  final case class Model(centroids: Array[(Int, Array[Float])]) {
    /** list selection by L2 distance to the centroid (standard
      * IVF-Flat quantizer); the in-list rerank metric is separate. */
    def nearest(v: Array[Float], n: Int): Seq[Int] =
      centroids.map { case (id, c) => (id, IvfIndex.l2(c, v)) }
        .sortBy { case (id, d) => (d, id) }.take(n).map(_._1).toSeq
  }

  private[operators] def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private[operators] def ip(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** rows the quantizer trains on — k-means centroid quality plateaus
    * far below this; at 100 TB the fit must never see the full table. */
  val TrainCap = 1000000L

  /** cache-key token for persisted stores: any change to the training
    * path (sampling, layout, k-means params) must bump this so an
    * store published under the old trainer re-keys instead of being
    * served silently. */
  val TrainerVersion = "t2"

  /** train the coarse quantizer (k-means over a bounded sample, fixed
    * seed). count() is answered from parquet footers; the fit input is
    * ≤ [[TrainCap]] rows regardless of table size. The sample is
    * hash-repartitioned to a FIXED layout before the fit: k-means||
    * init samples per-partition, so without this the centroid
    * placement depends on the session's core count / input split —
    * the fixed layout makes the fit machine-independent under a fixed
    * seed. */
  def train(embeddings: DataFrame, nlist: Int, seed: Long = 42L): Model = {
    val total = embeddings.count()
    val sampled =
      if (total <= TrainCap) embeddings
      // 1.2× oversample so the Bernoulli draw lands ≥ cap with margin
      else embeddings.sample(withReplacement = false, math.min(1.0, 1.2 * TrainCap / total), seed)
    val withVec = sampled.repartition(16, col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).setFeaturesCol("features")
    val model = km.fit(withVec)
    Model(model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat)) })
  }

  /** build a quantizer from KNOWN centers (no fit): the deterministic
    * path when the cluster structure is given a priori — e.g. a
    * planted/grid corpus, or centroids agreed across systems. Nearest-
    * center assignment is a pure function of the centers, so results
    * are identical on any machine and Spark ML version. */
  def modelFromCenters(centers: Array[Array[Float]]): Model =
    Model(centers.zipWithIndex.map { case (c, i) => (i, c) })

  /** assign every vector to its posting list (the at-rest layout). */
  def assign(embeddings: DataFrame, model: Model): DataFrame = {
    val spark = embeddings.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val listUdf = udf((emb: Seq[Float]) => bc.value.nearest(emb.toArray, 1).head)
    embeddings.withColumn("list_id", listUdf(col("embedding")))
  }

  /** mean L2² of assigned vectors to their posting-list centroid —
    * the residual-distortion measure quantizer drift is judged by
    * (rises as ingested data walks away from the trained centroids).
    * 0.0 over no rows: no distortion, and no drift baseline. */
  def distortion(assigned: DataFrame, model: Model): Double = countAndDistortion(assigned, model)._2

  /** row count and [[distortion]] in one pass. */
  private def countAndDistortion(assigned: DataFrame, model: Model): (Long, Double) = {
    val bc = assigned.sparkSession.sparkContext.broadcast(model)
    val dUdf = udf((emb: Seq[Float], l: Int) =>
      l2(emb.toArray, bc.value.centroids.find(_._1 == l).get._2))
    val r = assigned.select(count(lit(1)), avg(dUdf(col("embedding"), col("list_id")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  // ---------------------------------------------------- at-rest store
  // A store root holds a generation pointer (graft.core.Fs.publishGeneration):
  // `CURRENT` names the live generation `g<N>/` — the posting lists plus
  // `_model`, the quantizer they were assigned under — and carries the
  // payload `<n> <baseline>`: the committed row count and the drift
  // baseline, the mean distortion under `_model` of the rows
  // [[writeStore]] wrote. Every write publishes a NEW generation and a
  // published one is never written again, so a crash at any step leaves
  // the old store whole and its count exact. Serve paths that size
  // knobs by corpus size read `n` instead of re-counting the store: at
  // 100 TB a per-query count() is a full-store job for a number that is
  // a property of the committed index. One writing handle per root;
  // a frame read from a generation stays valid until the next write.

  /** The one at-rest format of a quantizer: a directory holding one
    * parquet file of `(list_id, centroid)` rows. Written before the
    * commit point that names it ([[writeStore]]'s generation pointer,
    * a [[QuantizerCache]] entry's directory) and never written again. */
  def writeModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    model.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.parquet(dir)
  }

  /** reads the model's parquet files by explicit path: handed a store's
    * `_model` directory, Spark's source resolution would treat the
    * `_`-prefixed path as hidden and warn on every read. */
  def readModel(spark: SparkSession, dir: String): Model = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    require(files.nonEmpty, s"no IVF model at $dir")
    Model(spark.read.parquet(files.toSeq: _*).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1))
  }

  /** the live generation of the store at `dir`. */
  private final case class Committed(root: Path, data: Path, n: Long, baseline: Double) {
    def model(spark: SparkSession): Model = readModel(spark, data.resolve("_model").toString)
  }

  private def payload(n: Long, baseline: Double): String = s"$n $baseline"

  private def committed(dir: String): Committed = {
    val root = Paths.get(dir)
    val gen = Fs.currentGeneration(root)
      .getOrElse(throw new IllegalStateException(s"no IVF store at $dir"))
    gen.payload.split(" ") match {
      case Array(n, b) => Committed(root, gen.dir(root), n.toLong, b.toDouble)
      case _ => throw new IllegalStateException(s"unreadable IVF store payload at $dir: ${gen.payload}")
    }
  }

  /** whether `dir` holds a published store. */
  def storeExists(dir: String): Boolean = Fs.currentGeneration(Paths.get(dir)).isDefined

  /** Write the assigned corpus as the at-rest serving layout: parquet
    * partitioned BY THE POSTING LIST, so a probe's `list_id IN (…)`
    * filter becomes directory-level partition pruning — the probe
    * reads nprobe/nlist of the data from disk, which is the entire
    * point of IVF at 100 TB. The quantizer is committed in the same
    * generation (`_model` is invisible to the parquet reader), so
    * probes are served by the EXACT model the store was assigned
    * under — k-means re-trained in a different session may place
    * centroids differently, and a model/store mismatch silently breaks
    * the pruning contract. The count and the drift baseline come from
    * one pass over exactly the files just written. */
  def writeStore(assigned: DataFrame, model: Model, dir: String): Unit = {
    val spark = assigned.sparkSession
    Fs.publishGeneration(Paths.get(dir)) { g =>
      assigned.write.mode("append").partitionBy("list_id").parquet(g.toString)
      writeModel(spark, model, g.resolve("_model").toString)
      val (n, baseline) = countAndDistortion(spark.read.schema(assigned.schema).parquet(g.toString), model)
      payload(n, baseline)
    }
  }

  /** The one incremental rewrite: publish the successor of `c` in which
    * the `dirty` lists hold their rows minus the `dropped` ids, `added`
    * (assigned rows) is written beside them, and every other file of
    * `c` — `_model` included — joins by hard link. Data writes are
    * O(added + dirty lists); the rest costs one link per file. The
    * drift baseline carries forward with the quantizer. */
  private def publishNext(c: Committed, added: DataFrame, dirty: Set[Int], dropped: DataFrame,
                          n: Long): Unit = {
    val kept = added.sparkSession.read.parquet(c.data.toString)
      .filter(col("list_id").isin(dirty.toSeq: _*))
      .join(broadcast(dropped.select("vec_id")), Seq("vec_id"), "left_anti")
    Fs.publishGeneration(c.root) { g =>
      kept.unionByName(added).write.mode("append").partitionBy("list_id").parquet(g.toString)
      Fs.linkTree(c.data, g) { rel =>
        val top = rel.getName(0).toString
        rel.getNameCount > 1 &&
          !(top.startsWith("list_id=") && dirty.contains(top.stripPrefix("list_id=").toInt))
      }
      payload(n, c.baseline)
    }
  }

  /** Keyed incremental write: `rows` are assigned under the store's own
    * committed model and written keyed by `vec_id` — each incoming id
    * replaces its resident row wherever that sat, and a new id is
    * simply added. The lists holding an incoming id are found from the
    * live generation's `vec_id` and `list_id` columns alone; only they
    * are rewritten, so a batch of new ids rewrites nothing and links
    * every resident file, and a replayed batch leaves one row per id.
    * Assignment is a pure function of the model, so probe(store) ≡
    * probe(full rebuild) exactly (IvfIndexSpec pins it); model drift is
    * watched separately via [[distortion]] and a retrain swaps the
    * store wholesale through [[writeStore]]. `rows` holds each id at
    * most once. */
  def upsertStore(rows: DataFrame, dir: String): Unit = {
    val spark = rows.sparkSession
    val c = committed(dir)
    val added = assign(rows, c.model(spark)).persist()
    try {
      val resident = spark.read.parquet(c.data.toString).select("vec_id", "list_id")
        .join(broadcast(added.select("vec_id")), Seq("vec_id"), "left_semi")
        .groupBy("list_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      publishNext(c, added, resident.keySet, added, c.n + added.count() - resident.values.sum)
    } finally added.unpersist()
  }

  /** Full CDC follow — the retract/add contract over a
    * [[graft.sources.VersionedTable.cdc]] feed (columns: the corpus
    * columns + `change_type`), published as one new generation:
    *
    *   - `delete` / `update_preimage` → RETRACT: the pre-image is
    *     assigned under the store's model, which names the posting list
    *     holding it; only those dirty lists are rewritten, without the
    *     retracted ids;
    *   - `insert` / `update_postimage` → ADD: assigned and written
    *     beside them;
    *   - every other list is carried over by hard link.
    *
    * Finding the dirty lists costs O(delta) — no store scan. The
    * pointer's count is the LIVE row count: + adds − retracts. Upstream
    * CDC guarantees each retracted id was present in the followed
    * version — this consumes that contract rather than re-checking it
    * with a store scan. */
  def applyCdc(cdc: DataFrame, dir: String): Unit = {
    val c = committed(dir)
    val model = c.model(cdc.sparkSession)
    val changes = cdc.persist()
    try {
      def ofType(types: String*) = changes.filter(col("change_type").isin(types: _*)).drop("change_type")
      val retracted = assign(ofType("delete", "update_preimage"), model).select("vec_id", "list_id")
      val added = ofType("insert", "update_postimage")
      val dirty = retracted.select("list_id").distinct().collect().map(_.getInt(0)).toSet
      publishNext(c, assign(added, model), dirty, retracted, c.n + added.count() - retracted.count())
    } finally changes.unpersist()
  }

  /** committed row count from the generation pointer (one tiny file —
    * no scan of the store itself). */
  def storedCount(spark: SparkSession, dir: String): Long = committed(dir).n

  /** the drift baseline the live generation carries: the mean
    * distortion of the rows its quantizer was last written with. */
  def storedBaseline(dir: String): Double = committed(dir).baseline

  /** the live generation's rows (list_id is the partition column). A
    * frame read here is valid until the next write to the store
    * replaces the generation. */
  def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(committed(dir).data.toString)

  /** the quantizer the live generation was assigned under. */
  def loadModel(spark: SparkSession, dir: String): Model = committed(dir).model(spark)

  /** top-k by L2 distance (IVF-Flat's native metric) over the probed
    * lists, in EXACT integer arithmetic: requires integer-valued
    * embedding coordinates with |x| < 3.7e8 (16-dim Σdiff² must stay
    * under 2⁶³) — the fixed-point planted corpora qualify, and the
    * integer form is what makes the result oracle-portable. */
  def probeL2(assigned: DataFrame, model: Model, query: Array[Float], nprobe: Int, k: Int): DataFrame = {
    val lists = model.nearest(query, nprobe)
    val qArr = array(query.map(x => lit(math.round(x.toDouble))): _*)
    val fx = transform(col("embedding"), x => x.cast("long"))
    assigned
      .filter(col("list_id").isin(lists: _*)) // partition-pruned at rest
      .withColumn("d2", aggregate(zip_with(fx, qArr, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
      .orderBy(col("d2").asc, col("vec_id").asc)
      .limit(k)
  }

  /** top-k by inner product probing the query's nprobe nearest lists.
    * Scoring is the same codegen'd fixed-point `aggregate(zip_with)`
    * form as the exact-MIPS path (`queries/Similarity.scala`) — the
    * query vector is inlined as a literal array, so the whole probe
    * stays inside whole-stage codegen with no serde. */
  def probe(assigned: DataFrame, model: Model, query: Array[Float], nprobe: Int, k: Int): DataFrame = {
    val lists = model.nearest(query, nprobe)
    val qFx = array(query.map(x => lit(math.round(x * 1e7))): _*)
    val fx = transform(col("embedding"), x => round(x * lit(1e7)).cast("long"))
    assigned
      .filter(col("list_id").isin(lists: _*)) // partition-prunable at rest
      .withColumn("score", aggregate(zip_with(fx, qFx, (x, y) => x * y), lit(0L), (acc, v) => acc + v))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }
}
