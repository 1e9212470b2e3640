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
    * (rises as ingested data walks away from the trained centroids). */
  def distortion(assigned: DataFrame, model: Model): Double = {
    val bc = assigned.sparkSession.sparkContext.broadcast(model)
    val dUdf = udf((emb: Seq[Float], l: Int) =>
      l2(emb.toArray, bc.value.centroids.find(_._1 == l).get._2))
    assigned.select(avg(dUdf(col("embedding"), col("list_id")))).head().getDouble(0)
  }

  // ---------------------------------------------------- at-rest store
  // A store root holds `_model` (the quantizer) and a generation
  // pointer (graft.core.Fs.publishGeneration): `CURRENT` names the live
  // generation `g<N>/` — the posting lists plus any `_tombstones` — and
  // carries the store's bookkeeping, `n epoch`: the committed LIVE row
  // count and the commit counter. Serve paths that size knobs by
  // corpus size read `n` instead of re-counting the store: at 100 TB a
  // per-query count() is a full-store job for a number that is a
  // property of the committed index.

  /** per-row generation stamp: the epoch the row was written under. A
    * tombstone at epoch e suppresses rows with `__seq <= e`, so a
    * later RE-INSERT of a deleted id (higher stamp) is live again
    * without touching the tombstone set — the standard sequence-number
    * retract/add contract (Lucene's docvalue generations, Delta's
    * deletion-vector epoch). Underscore-prefixed so it reads as store
    * bookkeeping, not corpus data. */
  val SeqCol = "__seq"

  /** the live generation of the store at `dir` with its bookkeeping. */
  private final case class Committed(root: Path, gen: Fs.Generation, n: Long, epoch: Long) {
    def data: String = gen.dir(root).toString
    def tombstones: java.io.File = new java.io.File(s"$data/_tombstones")
    def repoint(n: Long, epoch: Long): Unit = Fs.repoint(root, gen.copy(payload = s"$n $epoch"))
  }

  private def committed(dir: String): Committed = {
    val root = Paths.get(dir)
    val gen = Fs.currentGeneration(root)
      .getOrElse(throw new IllegalStateException(s"no IVF store at $dir"))
    val Array(n, epoch) = gen.payload.split(" ")
    Committed(root, gen, n.toLong, epoch.toLong)
  }

  /** Write the assigned corpus as the at-rest serving layout: parquet
    * partitioned BY THE POSTING LIST, so a probe's `list_id IN (…)`
    * filter becomes directory-level partition pruning — the probe
    * reads nprobe/nlist of the data from disk, which is the entire
    * point of IVF at 100 TB. Publishes a new generation (the previous
    * one, tombstones included, is dropped); the epoch restarts at 1. */
  def writeStore(assigned: DataFrame, dir: String): Unit = {
    val spark = assigned.sparkSession
    Fs.publishGeneration(Paths.get(dir)) { g =>
      assigned.withColumn(SeqCol, lit(1L))
        .write.mode("overwrite").partitionBy("list_id").parquet(g.toString)
      // the footer recount reads exactly the files just written —
      // O(write), not O(store history)
      s"${spark.read.parquet(g.toString).count()} 1"
    }
  }

  /** Incremental maintenance: assign a delta under the EXISTING model
    * and append it into the per-list directories — no rebuild, no
    * touch of resident data. Assignment is a pure function of the
    * model, so probe(append-store) ≡ probe(full rebuild) exactly
    * (IvfIndexSpec pins it); model drift is watched separately via
    * [[distortion]] and a retrain swaps the store wholesale. */
  def appendStore(delta: DataFrame, model: Model, dir: String): Unit =
    writeAppend(assign(delta, model), committed(dir), extraRemoved = 0L)

  /** append into the live generation, then republish the pointer with
    * the count advanced INCREMENTALLY (previous value + delta) — a
    * micro-append never pays an O(all store files) footer listing that
    * grows with the store. The new rows' `__seq` stamp is the epoch
    * this append commits. */
  private def writeAppend(assigned: DataFrame, c: Committed, extraRemoved: Long): Unit = {
    val a = assigned.withColumn(SeqCol, lit(c.epoch + 1)).persist()
    val deltaN = a.count()
    a.write.mode("append").partitionBy("list_id").parquet(c.data)
    a.unpersist()
    c.repoint(c.n + deltaN - extraRemoved, c.epoch + 1)
  }

  // ----------------------------------------- retract/add (CDC follow)
  /** the stored rows of `c`'s generation minus tombstoned ones. */
  private def live(spark: SparkSession, c: Committed): DataFrame = {
    val store = spark.read.parquet(c.data)
    if (!c.tombstones.exists()) store
    else store.join(broadcast(tombSeqs(spark, c)), Seq("vec_id"), "left")
      .filter(col("__tomb_seq").isNull || col(SeqCol) > col("__tomb_seq"))
      .drop("__tomb_seq")
  }

  private def tombSeqs(spark: SparkSession, c: Committed): DataFrame =
    spark.read.parquet(c.tombstones.getPath)
      .groupBy("vec_id").agg(max("tomb_seq").as("__tomb_seq"))

  /** the LIVE rows of the store: the at-rest scan minus tombstoned
    * generations. With no tombstones this IS the raw scan (zero serve
    * cost); with tombstones the suppression set is a broadcast hash
    * lookup sized by the UNRECLAIMED delete/update volume — O(delta),
    * never O(corpus) — and [[compactStore]] periodically folds it back
    * to zero. Every probe of a maintained store must read THIS:
    * a deleted id must never be served at any nprobe. */
  def liveStore(spark: SparkSession, dir: String): DataFrame = live(spark, committed(dir))

  /** Full CDC follow — the retract/add contract over a
    * [[graft.sources.VersionedTable.cdc]] feed (columns: the corpus
    * columns + `change_type`):
    *
    *   - `insert` / `update_postimage` → assign under the PERSISTED
    *     model, append at the new epoch (ADD);
    *   - `delete` / `update_preimage` → tombstone the id at the
    *     PREVIOUS epoch (RETRACT): every resident generation of that
    *     id is suppressed, while the postimage appended in this same
    *     apply (higher stamp) stays live.
    *
    * One apply = one epoch: the tombstone write lands BEFORE the data
    * append, so a crash between them leaves extra suppression (the
    * postimage missing) but never a served ghost; re-applying the SAME
    * batch heals that window (the re-written tombstones are dominated
    * by the re-appended higher epoch). The idempotency claim is scoped
    * to exactly that window: a crash AFTER the data append but before
    * the pointer republish must be healed by [[verifyStats]] (footer
    * recount), NOT by blind re-apply — re-appending would duplicate
    * the add rows at the same epoch (ADVICE r10). The pointer's count
    * is maintained as the LIVE row count: + adds − retracts, still
    * O(delta) bookkeeping.
    * Upstream CDC guarantees each retracted id was present in the
    * followed version — this consumes that contract rather than
    * re-checking it with a store scan. */
  def applyCdc(cdc: DataFrame, model: Model, dir: String): Unit = {
    val c = committed(dir)
    val changes = cdc.persist()
    try {
      val removed = changes.filter(col("change_type").isin("delete", "update_preimage"))
        .select(col("vec_id"), lit(c.epoch).as("tomb_seq"))
      val removedN = removed.count()
      if (removedN > 0)
        removed.coalesce(1).write.mode("append").parquet(c.tombstones.getPath)
      val added = changes.filter(col("change_type").isin("insert", "update_postimage"))
        .drop("change_type")
      // the adds stamp at epoch + 1 > every tombstone
      writeAppend(assign(added, model), c, extraRemoved = removedN)
    } finally changes.unpersist()
  }

  /** Reclaim tombstoned generations into a new store generation:
    * ONLY the posting lists that still hold a suppressed row are
    * rewritten (their live rows — the VersionedTable dirty-bucket
    * discipline); every other list is carried over by hard links, and
    * the tombstones are dropped by not carrying them. Data writes are
    * O(dirty lists), not O(store); the live row set — and therefore
    * every probe — is bit-identical before and after (IvfIndexSpec
    * pins it). The pointer swap is the commit point: a crash before it
    * leaves the old generation live, untouched. OFFLINE maintenance:
    * the publish deletes the old generation, so serve traffic should
    * be drained or pointed at a sibling store during compaction,
    * exactly like a VersionedTable compact commit. */
  def compactStore(spark: SparkSession, dir: String): Unit = {
    val c = committed(dir)
    if (!c.tombstones.exists()) return
    val dirtyLists = spark.read.parquet(c.data).join(broadcast(tombSeqs(spark, c)), Seq("vec_id"))
      .filter(col(SeqCol) <= col("__tomb_seq"))
      .select("list_id").distinct().collect().map(_.getInt(0)).toSet
    Fs.publishGeneration(c.root) { g =>
      live(spark, c).filter(col("list_id").isin(dirtyLists.toSeq: _*))
        .write.mode("append").partitionBy("list_id").parquet(g.toString)
      Fs.linkTree(Paths.get(c.data), g) { rel =>
        val list = rel.getName(0).toString
        rel.getNameCount > 1 && list.startsWith("list_id=") &&
          !dirtyLists.contains(list.stripPrefix("list_id=").toInt)
      }
      // live count is invariant under compaction; the epoch advances so
      // post-compaction appends stamp above every reclaimed generation
      s"${c.n} ${c.epoch + 1}"
    }
  }

  /** committed LIVE row count from the generation pointer (one tiny
    * file — no scan of the store itself). */
  def storedCount(spark: SparkSession, dir: String): Long = committed(dir).n

  /** maintenance audit: does the pointer's count match a recount of
    * the LIVE rows? O(store footers) — for audits and specs; the serve
    * path never calls it. False = a writer crashed between its data
    * append and the pointer republish (the count is stale until the
    * next successful append rewrites it from the stale base — re-run
    * [[writeStore]]/[[appendStore]] maintenance to restore truth). */
  def verifyStats(spark: SparkSession, dir: String): Boolean = {
    val c = committed(dir)
    c.n == live(spark, c).count()
  }

  /** read the live generation's layout back (list_id is the partition
    * column). */
  def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(committed(dir).data)

  /** Persist the quantizer next to its store (`_model` is invisible
    * to the parquet reader), so probes are served by the EXACT model
    * the store was assigned under — k-means re-trained in a different
    * session (other partitioning/parallelism) may place centroids
    * differently, and a model/store mismatch silently breaks the
    * pruning contract. */
  def saveModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    model.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_model")
  }

  def loadModel(spark: SparkSession, dir: String): Model =
    Model(spark.read.parquet(s"$dir/_model").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1))

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
